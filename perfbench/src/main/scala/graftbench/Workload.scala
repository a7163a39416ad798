package graftbench

import java.util.Random
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.format.GraftTable
import graft.operators.{Dedup, TextAnalysis}

/** What a workload hands back for the end-to-end metrics. */
final case class Outcome(recall: Double, liveBytes: Long, heapMb: Double)

/** State shared by every workload: the session, the recorder, the run's
  * directory (under the checkout's `.bench_build/`) and its time budget. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val root: String,
                val seconds: Double, val seed: Long) {
  def op[T](span: String, cls: String = "")(body: => T): Option[T] = rec.op(span, cls)(body)
  def bench[T](what: String)(body: => T): T = rec.bench(what)(body)

  /** Closed loop: the next call starts when the previous one returned. Runs
    * `body` until `budgetS` seconds have passed and at least `minIters`
    * times. Returns the iteration count. */
  def loop(budgetS: Double, minIters: Int)(body: Int => Unit): Int = {
    val end = System.nanoTime() + (budgetS * 1e9).toLong
    var i = 0
    while (i < minIters || System.nanoTime() < end) { body(i); i += 1 }
    i
  }

  def rnd(salt: Int): Random = new Random(seed * 1000003L + salt)
}

/** The benchmark's model of one table: which user ids are live, their
  * rows, and the stable row id the program assigned to each. */
final class TableModel {
  val rows = mutable.LinkedHashMap.empty[Long, Row]
  val ridOf = mutable.HashMap.empty[Long, Long]
  var userBytes = 0L
  def liveBytes: Long = rows.valuesIterator.map(_.userBytes).sum
}

/** A workload: set-up (repeated, timed as `setup_s`) then the measured run. */
abstract class Workload(val ctx: Ctx) {
  import ctx.spark.implicits._
  val spark: SparkSession = ctx.spark
  val model = new TableModel
  /** Set-up repetitions; the median is reported, the last one is kept. */
  val setupReps = 3
  def table: String

  /** Build the table, its indexes and serve caches under `dir`. */
  def setup(dir: String): Unit
  /** Release what a discarded set-up repetition left in the driver's caches. */
  def teardown(): Unit
  /** The measured run, after the last set-up. */
  def run(): Outcome

  /** Bytes and files written from the kept set-up on. */
  var ledger: Ledger = _
  /** Files the kept set-up left (not counted per commit). */
  var setupFiles = 0L

  /** Start accounting writes under `dir` (the kept set-up counts as
    * written); from here on every writing call rescans it. */
  def startLedger(dir: java.io.File): Unit = {
    ledger = new Ledger(Seq(dir))
    afterWrite()
    setupFiles = ledger.filesWritten
    ctx.rec.onWrite = () => { ctx.rec.add("commits", 1); afterWrite() }
  }

  private def afterWrite(): Unit = ctx.bench("ledger") {
    ledger.scan()
    ctx.rec.fragments = GraftTable.loadManifest(spark, table).fragments.size
  }

  def df(rows: Seq[Row]): DataFrame =
    rows.map(r => (r.id, r.cat, r.v, r.text, r.emb)).toDF("id", "cat", "v", "text", "emb")

  /** Create the table from `rows` as `fragments` fragments (one commit). */
  def create(rows: Seq[Row], fragments: Int): Unit = {
    model.rows.clear(); model.ridOf.clear(); model.userBytes = 0
    ctx.op("format.write", "setup") {
      GraftTable.write(df(rows).repartition(fragments), table, "overwrite")
    }
    rows.foreach(r => model.rows(r.id) = r)
    model.userBytes += rows.iterator.map(_.userBytes).sum
    ctx.bench("readback") {
      GraftTable.read(spark, table, withRowId = true).select(GraftTable.RowIdCol, "id")
        .collect().foreach(r => model.ridOf(r.getLong(1)) = r.getLong(0))
    }
  }

  /** Append `rows` as one commit. One input partition keeps the rows in
    * order, so the one new fragment's row-id range maps them by position. */
  def append(rows: Seq[Row]): Unit =
    ctx.op("format.append", "append") {
      GraftTable.write(df(rows).coalesce(1), table, "append")
    }.foreach { m =>
      rows.foreach(r => model.rows(r.id) = r)
      model.userBytes += rows.iterator.map(_.userBytes).sum
      val fresh = m.fragments.filter(_.addedVersion == m.version)
      val mapped = fresh.size == 1 && fresh.head.rowIdStart >= 0 && fresh.head.rows == rows.size
      ctx.rec.check("append.rowids", mapped, s"new fragments $fresh for ${rows.size} rows")
      if (mapped) rows.indices.foreach(i => model.ridOf(rows(i).id) = fresh.head.rowIdStart + i)
    }

  /** Fetch rows by stable row id and check them against the model. */
  def take(ids: Seq[Long]): Unit = {
    val rids = ids.flatMap(model.ridOf.get)
    ctx.op("format.take", "take") {
      GraftTable.takeRows(spark, table, rids).select("id", "cat", "text").collect()
    }.foreach { got =>
      val byId = got.map(r => r.getLong(0) -> r).toMap
      val live = ids.filter(model.rows.contains)
      ctx.rec.check("take.rows", byId.keySet == live.toSet &&
        live.forall(i => byId(i).getInt(1) == model.rows(i).cat &&
          byId(i).getString(2) == model.rows(i).text),
        s"asked ${ids.take(5)}..., got ${byId.keys.take(5)}...")
    }
  }

  /** Filtered aggregate over a `cat` range (a BTREE on `cat` can prune
    * it); count and sum checked against the model. */
  def scan(lo: Int): Unit = {
    val hi = lo + 2
    ctx.op("format.scan", "search") {
      GraftTable.read(spark, table).filter(col("cat").between(lo, hi))
        .agg(count(lit(1)), sum(col("v"))).head()
    }.foreach { r =>
      val want = model.rows.valuesIterator.filter(x => x.cat >= lo && x.cat <= hi).map(_.v).toSeq
      val sumOk = if (want.isEmpty) r.isNullAt(1)
        else math.abs(r.getDouble(1) - want.sum) <= 1e-6 * math.max(1.0, want.sum)
      ctx.rec.check("scan.agg", r.getLong(0) == want.size && sumOk,
        s"cat in [$lo,$hi]: got (${r.get(0)}, ${r.get(1)}), want (${want.size}, ${want.sum})")
    }
  }

  /** Near-dup pairs over the live table → connected components. Checks
    * every pair's Jaccard against the benchmark's own shingle sets, and
    * the components against the pairs' own union-find. Returns the pairs
    * (a < b) and each paired doc's component (its smallest member id). */
  def dedup(threshold: Double): (Seq[(Long, Long)], Map[Long, Long]) = {
    val docs = GraftTable.read(spark, table).select(col("id"),
      TextAnalysis.shingleSet(col("text"), 3).as("sh"))
    val pairs = ctx.op("operators.dedup.minhash", "dedup") {
      Dedup.minhashNearDupPairs(docs, "id", "sh", threshold)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }.getOrElse(Nil)
    val comps = ctx.op("operators.dedup.components", "dedup") {
      Dedup.connectedComponents(pairs.toDF("a_id", "b_id"), "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }.getOrElse(Map.empty)
    // traced runs only: the candidate count behind verified_per_candidate
    if (ctx.rec.tracer.traced) ctx.op("operators.dedup.candidates") {
      Dedup.minhashCandidates(docs, "id", "sh").count()
    }.foreach { n =>
      ctx.rec.add("operators.dedup.candidates", n.toDouble)
      ctx.rec.add("operators.dedup.verified", pairs.size.toDouble)
    }
    ctx.bench("check") {
      checkPairs("dedup.pairs", pairs, threshold)
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.map(x => x -> find(x)).toMap
      ctx.rec.check("dedup.components", comps == want, s"${comps.size} labelled, want ${want.size}")
    }
    (pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }, comps)
  }

  def checkPairs(name: String, pairs: Seq[(Long, Long)], threshold: Double): Unit = {
    val bad = pairs.filter { case (a, b) =>
      !(model.rows.contains(a) && model.rows.contains(b)) ||
        Gen.jaccard(Gen.shingles(model.rows(a).text), Gen.shingles(model.rows(b).text)) <
          threshold - 1e-9
    }
    ctx.rec.check(name, bad.isEmpty, s"${bad.size} of ${pairs.size} pairs below $threshold: ${bad.take(3)}")
  }

  /** Driver heap after a forced GC, in MiB. Spark's ContextCleaner drops
    * the blocks of unreferenced broadcasts and checkpointed RDDs only after
    * a collection has found them, on its own thread, so the heap is
    * collected three times with a pause between; the least is reported. */
  def heapMb(): Double = ctx.bench("gc") {
    val rt = Runtime.getRuntime
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }
}
