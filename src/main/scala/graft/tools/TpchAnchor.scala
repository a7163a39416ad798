package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.format.GraftTable

/** Absolute TPC-H anchor at SF1 (reference `benchmarks/tpch/README.md`,
  * `benchmark.py:48-74`: Q1/Q6 at SF1, repeated, best-of): measures graft
  * Q1/Q6 over a graft TABLE built from `benchdata/sf1/lineitem.parquet`
  * (6M rows — tools/gen_tpch_sf1.py) so BASELINE.md can carry a measured
  * graft-vs-DuckDB ratio on identical data instead of a relative
  * inference. The DuckDB side is tools/duckdb_tpch_anchor.py with the
  * same date literals (shifted into the synthetic data's 1995-2001
  * shipdate range at dbgen's selectivities: Q1 96.2%, Q6 2.0%).
  *
  * Usage: SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.TpchAnchor"
  * Prints one JSON line; builds the graft table on first run (cached at
  * benchdata/sf1_graft/lineitem).
  */
object TpchAnchor {
  val SrcDir = "/root/repo/benchdata/sf1"
  val TableDir = "/root/repo/benchdata/sf1_graft/lineitem"
  val OrdersDir = "/root/repo/benchdata/sf1_graft/orders"
  val CustomerDir = "/root/repo/benchdata/sf1_graft/customer"

  /** Dedicated anchor session: same SparkContext, plus GraftExtensions
    * and the opt-in packed group-key rewrite (r15, VERDICT r14 #2) for
    * Q1's two single-char group keys — the user assertion a packed-key
    * A/B motivated. Both the graft leg and the raw-parquet control run
    * through it, so the format-overhead comparison stays apples-to-apples
    * and q1/q6 measure the same agg plan the rewrite produces (q6 has no
    * string keys; the rule is a no-op there). */
  @volatile private var anchorSess: SparkSession = _
  def anchorSession(s: SparkSession): SparkSession = synchronized {
    if (anchorSess == null) {
      val prevA = SparkSession.getActiveSession
      val prevD = SparkSession.getDefaultSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      anchorSess = SparkSession.builder()
        .withExtensions(new graft.format.GraftExtensions)
        .getOrCreate()
      anchorSess.conf.set(graft.plans.GraftPackedKeyAggRule.ConfKey,
        "l_returnflag,l_linestatus")
      prevD.foreach(SparkSession.setDefaultSession)
      prevA.foreach(SparkSession.setActiveSession)
    }
    anchorSess
  }

  /** TPC-H Q1 over a graft lineitem table (date literal shifted; see
    * object doc). */
  def q1(spark: SparkSession, table: String): DataFrame =
    q1df(GraftTable.read(anchorSession(spark), table))

  def q1df(src: DataFrame): DataFrame =
    src
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2001-08-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        avg(col("l_quantity")).as("avg_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        avg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q6 over a graft lineitem table. */
  def q6(spark: SparkSession, table: String): DataFrame =
    q6df(GraftTable.read(anchorSession(spark), table))

  def q6df(src: DataFrame): DataFrame =
    src
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** TPC-H Q3 over graft customer/orders/lineitem tables (r16, VERDICT
    * r15 #4: the Q1/Q6 anchor only covered scan+agg; this engine claims
    * the join superset, so the anchor carries one join query too). Date
    * literal 1998-04-01 ≈ the synthetic data's 1995-2001 midpoint,
    * matching dbgen Q3's ~48%/~54% two-sided selectivities; the synthetic
    * orders table has no o_shippriority, so o_orderpriority stands in
    * (same cardinality class, same plan shape). */
  def q3(spark: SparkSession): DataFrame = {
    val s = anchorSession(spark)
    q3df(GraftTable.read(s, CustomerDir), GraftTable.read(s, OrdersDir),
      GraftTable.read(s, TableDir))
  }

  /** Plan shape is the 100 TB one: the filtered customer dimension
    * broadcasts into orders, and the (date-filtered) customer⋈orders
    * result — a few hundred thousand rows — broadcasts into the 6M-row
    * lineitem scan, so the fact table NEVER shuffles; the only shuffle is
    * the post-join partial agg on l_orderkey, and the top-10 is a
    * TakeOrdered, not a global sort. */
  def q3df(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cutoff = lit(java.sql.Timestamp.valueOf("1998-04-01 00:00:00"))
    val cust = customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = orders.filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    lineitem.filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** Build the graft table once: 128 fragments (r14 — the r13 choice of
    * 16 was a straggler trap: 16 tasks on 16 threads leaves zero
    * work-stealing slack, so one slow task IS the wall-clock; the r14
    * sweep measured 16→128 fragments cutting Q1 0.64→0.37 s and Q6
    * 0.16→0.106 s at 16 threads, flat beyond 128). Finer fragments also
    * tighten the range-clustered shipdate zonemaps, which is what pushed
    * Q6 to DuckDB parity. On a cluster, fragments ARE the scan split
    * unit — size them for several task waves per core, not one. */
  def ensureTable(spark: SparkSession): Unit = {
    // rebuild when the cached table predates the current layout — a box
    // carrying the old 16-fragment table must not report its straggler
    // numbers under the 128-fragment label
    val current = scala.util.Try(GraftTable.latestVersion(spark, TableDir))
      .toOption.flatten
      .map(_ => GraftTable.loadManifest(spark, TableDir).fragments.length)
    if (current.contains(128)) return
    current.foreach { n =>
      System.err.println(s"[TpchAnchor] rebuilding: cached table has $n fragments, layout wants 128")
      val t = new org.apache.hadoop.fs.Path(TableDir)
      t.getFileSystem(spark.sessionState.newHadoopConf()).delete(t, true)
    }
    val src = spark.read.parquet(s"$SrcDir/lineitem.parquet")
    // RANGE partitioning, not hash: hash-by-date scatters every date range
    // across all fragments (zonemap min/max ≈ the full corpus range — zero
    // pruning); range clustering gives each fragment a tight shipdate
    // window, so Q6's one-year predicate prunes ~5/6 of the fragments from
    // the manifest alone and Q1's tail cutoff drops the newest ones
    GraftTable.write(src.repartitionByRange(128, col("l_shipdate")),
      TableDir, "overwrite")
  }

  /** Q3's side tables (r16): orders range-clustered by o_orderdate —
    * the manifest zonemaps prune the date predicate's fragments before
    * any parquet footer is touched — customer small and broadcast-bound. */
  def ensureJoinTables(spark: SparkSession): Unit = {
    if (!new java.io.File(s"$SrcDir/orders.parquet").exists()) return
    if (scala.util.Try(GraftTable.latestVersion(spark, OrdersDir))
        .toOption.flatten.isEmpty)
      GraftTable.write(
        spark.read.parquet(s"$SrcDir/orders.parquet")
          .repartitionByRange(32, col("o_orderdate")),
        OrdersDir, "overwrite")
    if (scala.util.Try(GraftTable.latestVersion(spark, CustomerDir))
        .toOption.flatten.isEmpty)
      GraftTable.write(
        spark.read.parquet(s"$SrcDir/customer.parquet").repartition(4),
        CustomerDir, "overwrite")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureTable(spark)
    // warmup (JIT + codegen + footer caches), then best-of-7 like the
    // DuckDB side's best-of. TWENTY passes, not three (r15): the r14
    // 3-pass protocol measured mid-tier JIT — interleaved cycles show Q1
    // at 0.45-0.48 s on the first post-3-warmup best-of dropping to a stable 0.27-0.31 s only after ~20 total invocations
    // (a 10-pass warmup still paired at 0.38-0.42 s), while DuckDB
    // reaches its steady state within 2-3 runs. Best-of-N is only an
    // engine comparison when both sides are at steady state; the extra
    // passes cost ~8 s once per anchor run.
    ensureJoinTables(spark)
    for (_ <- 1 to 20) {
      q1(spark, TableDir).collect(); q6(spark, TableDir).collect()
      q3(spark).collect()
    }
    def best(fn: () => Unit): Double =
      (1 to 7).map { _ =>
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }.min
    val t1 = best(() => { q1(spark, TableDir).collect(); () })
    val t6 = best(() => { q6(spark, TableDir).collect(); () })
    val t3 = best(() => { q3(spark).collect(); () })
    // raw-parquet control: isolates the graft format's read overhead from
    // Spark-vs-native engine differences
    // through the anchor session too: the control must carry the SAME agg
    // plan (packed keys included) or the format-overhead comparison skews
    val raw = anchorSession(spark).read.parquet(s"$SrcDir/lineitem.parquet")
    def q1raw = q1df(raw)
    def q6raw = q6df(raw)
    def q3raw = q3df(
      anchorSession(spark).read.parquet(s"$SrcDir/customer.parquet"),
      anchorSession(spark).read.parquet(s"$SrcDir/orders.parquet"), raw)
    for (_ <- 1 to 3) { q1raw.collect(); q6raw.collect(); q3raw.collect() }
    val r1 = best(() => { q1raw.collect(); () })
    val r6 = best(() => { q6raw.collect(); () })
    val r3 = best(() => { q3raw.collect(); () })
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      q1(spark, TableDir).explain("formatted")
      q6(spark, TableDir).explain("formatted")
      q3(spark).explain("formatted")
    }
    println(f"""{"tpch_sf1_q1":$t1%.4f,"tpch_sf1_q6":$t6%.4f,"tpch_sf1_q3":$t3%.4f,"raw_parquet_q1":$r1%.4f,"raw_parquet_q6":$r6%.4f,"raw_parquet_q3":$r3%.4f,"cpus":$cpus}""")
    spark.stop()
  }
}
