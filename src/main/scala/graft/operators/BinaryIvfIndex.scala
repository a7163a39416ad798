package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** IVF over PACKED BINARY vectors with the hamming metric (reference treats
  * Hamming as a first-class DistanceType through index build and search —
  * `rust/lance-index/src/vector.rs:124,135`,
  * `rust/lance-linalg/src/distance/hamming.rs`). Binary embeddings are the
  * standard 32× memory-reduction play at 100 TB corpus scale: 768-d float
  * → 96 bytes, distance = popcount(xor).
  *
  * Training is k-majority (the hamming-space analogue of Lloyd's means:
  * each centroid bit is the majority bit of its members — the 1-median in
  * hamming space coordinate-wise). Same bounded-sample shape as
  * [[IvfIndex.train]]: ONE distributed TakeOrdered hash-sample, local
  * rounds, corpus-sized assignment stays distributed via a codegen-stage
  * expression. Search mirrors [[IvfIndex.search]]: probe the nprobes
  * hamming-nearest centroids, exact popcount distances inside, global
  * top-k; `nprobes >= nlist` ⇒ identical to the flat hamming scan.
  */
object BinaryIvfIndex {
  val PidCol: String = IvfIndex.PidCol

  case class Model(centroids: Array[Array[Byte]]) {
    def nlist: Int = centroids.length
    def rank(query: Array[Byte]): Seq[Int] =
      centroids.indices.sortBy(i => (hamming(centroids(i), query), i))
  }

  /** Driver-side sign-bit packing of a float query (the query face of
    * [[PackSignBits]] — identical bit layout). */
  def packQuery(q: Array[Float]): Array[Byte] = {
    val out = new Array[Byte]((q.length + 7) / 8)
    var i = 0
    while (i < q.length) {
      if (q(i) >= 0.0f) out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
      i += 1
    }
    out
  }

  /** Shared with the codegen'd expression — one hamming definition. */
  private[operators] def hamming(a: Array[Byte], b: Array[Byte]): Long =
    graft.functions.HammingDistance.compute(a, b)

  /** Deterministic bounded-sample training (same hash-prefix sample as
    * [[IvfIndex.train]]), k-majority rounds locally. */
  def train(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
            maxIter: Int = 10, sampleSize: Int = 100000): Model = {
    val cap = math.min(sampleSize, math.max(nlist * 256, 4096))
    val data = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__id")), col("__id")).limit(cap)
      .select(col("__v")).collect()
      .map(_.getAs[Array[Byte]](0))
    require(data.length >= nlist, s"need >= $nlist vectors to train, got ${data.length}")
    var cents = data.take(nlist).map(_.clone())
    for (_ <- 0 until maxIter) cents = kMajorityStep(data, cents)
    Model(cents)
  }

  /** One k-majority round: assign each sample to its hamming-argmin centroid
    * (first-wins ties, like [[IvfAssign]]), then set each centroid bit to
    * the majority of its members' bits (exact ties → 1 — deterministic).
    * Empty clusters keep their previous centroid. Integer counting: the
    * result is identical on any chunking/thread schedule. */
  private[graft] def kMajorityStep(data: Array[Array[Byte]],
                                   cents: Array[Array[Byte]]): Array[Array[Byte]] = {
    val k = cents.length
    val dim = cents(0).length
    val bits = dim * 8
    val counts = Array.ofDim[Int](k, bits)
    val members = new Array[Int](k)
    data.foreach { v =>
      var best = 0
      var bd = Long.MaxValue
      var c = 0
      while (c < k) {
        val d = hamming(v, cents(c))
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      members(best) += 1
      var i = 0
      val lim = math.min(bits, v.length * 8)
      while (i < lim) {
        if (((v(i >> 3) >> (7 - (i & 7))) & 1) == 1) counts(best)(i) += 1
        i += 1
      }
    }
    Array.tabulate(k) { c =>
      if (members(c) == 0) cents(c).clone()
      else {
        val out = new Array[Byte](dim)
        var i = 0
        while (i < bits) {
          if (2 * counts(c)(i) >= members(c))
            out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
          i += 1
        }
        out
      }
    }
  }

  /** Train + partition the dataset by assigned centroid (mirrors
    * [[IvfIndex.build]]; the assignment expression keeps the corpus pass
    * distributed and inside the scan stage). Publishes a new
    * [[IndexIdentity]]. */
  def build(df: DataFrame, idCol: String, vecCol: String, indexPath: String,
            nlist: Int, maxIter: Int = 10): Model = {
    val model = train(df, idCol, vecCol, nlist, maxIter)
    val assigned = df.withColumn(PidCol,
      ColumnBridge.column(BinaryIvfAssign(ColumnBridge.expression(col(vecCol)), model.centroids)))
    graft.index.StagedSwap.discard(df.sparkSession, indexPath) // a full build rewrites it all
    assigned.write.mode(SaveMode.Overwrite).partitionBy(PidCol).parquet(s"$indexPath/vectors")
    val spark = df.sparkSession
    val rows = model.centroids.zipWithIndex.map { case (c, i) => (i, c) }
    spark.createDataFrame(rows.toSeq).toDF("pid", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$indexPath/centroids")
    IvfIndex.writeVectorMeta(spark, indexPath, "hamming", storage = "binary")
    IndexIdentity.publish(spark, indexPath)
    model
  }

  def loadModel(spark: SparkSession, indexPath: String): Model = {
    val rows = spark.read.parquet(s"$indexPath/centroids").orderBy("pid").collect()
    Model(rows.map(_.getAs[Array[Byte]](1)))
  }

  /** ANN search: probe the `nprobes` hamming-nearest partitions, exact
    * popcount distances inside, global top-k. `nprobes >= nlist` ⇒
    * identical to [[Knn.flatSearchBinary]] over the whole set. */
  def search(spark: SparkSession, indexPath: String, idCol: String, vecCol: String,
             query: Array[Byte], k: Int, nprobes: Int,
             prefilter: Option[Column] = None,
             candidateTransform: DataFrame => DataFrame = identity): DataFrame = {
    val model = loadModel(spark, indexPath)
    val probes = model.rank(query).take(math.min(nprobes, model.nlist))
    val candidates = spark.read.parquet(s"$indexPath/vectors")
      .filter(col(PidCol).isin(probes: _*))
    Knn.flatSearchBinary(candidateTransform(candidates), vecCol, query, k,
      tieBreakers = Seq(col(idCol)), prefilter = prefilter).drop(PidCol)
  }

  /** Build over a graft table snapshot with coverage commit — same contract
    * as [[IvfIndex.buildForTable]]. */
  def buildForTable(spark: SparkSession, tablePath: String, idCol: String,
                    vecCol: String, indexPath: String, nlist: Int): Model = {
    val m = graft.format.GraftTable.loadManifest(spark, tablePath)
    val model = build(
      graft.format.GraftTable.read(spark, tablePath, withRowAddr = true,
        withRowId = idCol == graft.format.GraftTable.RowIdCol),
      idCol, vecCol, indexPath, nlist)
    graft.index.ScalarIndex.writeCoverageAndCommit(spark, tablePath, indexPath,
      "IVF_FLAT", vecCol, m,
      Map("idCol" -> idCol, "nlist" -> nlist.toString, "metric" -> "hamming"))
    model
  }

  /** Incremental maintenance — the shared PID-partitioned policy
    * ([[IvfIndex.maintainPartitionedVectors]]): REMAP compaction-moved rows
    * (addresses only, assignments untouched), append-assign fresh
    * fragments with the hamming centroids. Publishes a new
    * [[IndexIdentity]] before it returns. Returns rows newly encoded. */
  def optimizeForTable(spark: SparkSession, tablePath: String, idCol: String,
                       vecCol: String, indexPath: String): Long = {
    val model = loadModel(spark, indexPath)
    try IvfIndex.maintainPartitionedVectors(spark, tablePath, idCol, vecCol,
      indexPath, "IVF_FLAT",
      df => df.withColumn(PidCol,
        ColumnBridge.column(BinaryIvfAssign(ColumnBridge.expression(col(vecCol)), model.centroids))),
      extraMeta = Map("metric" -> "hamming"))
    finally IndexIdentity.publish(spark, indexPath)
  }

  /** Snapshot-consistent combined search — [[IvfIndex.combined]] skeleton
    * (DV anti-join + liveness before the top-k cut; flat hamming leg over
    * uncovered fragments). */
  def searchCombined(spark: SparkSession, tablePath: String, indexPath: String,
                     idCol: String, vecCol: String, query: Array[Byte],
                     k: Int, nprobes: Int,
                     prefilter: Option[Column] = None,
                     fastSearch: Boolean = false): DataFrame =
    IvfIndex.combined(spark, tablePath, indexPath, idCol, vecCol,
      query = Array.empty[Float], k = k, metric = "hamming",
      prefilter = prefilter, fastSearch = fastSearch,
      flatFn = Some(df => Knn.flatSearchBinary(df, vecCol, query, k,
        tieBreakers = Seq(col(idCol)), prefilter = prefilter)))(
      transform => search(spark, indexPath, idCol, vecCol, query, k, nprobes,
        prefilter = prefilter, candidateTransform = transform))

  // ------------------------------------------------------------------
  // Driver-local single-query serving (r16 — completing the serve matrix):
  // the hamming twin of [[IvfIndex.serveLocal]]. Resident state is the
  // probed partitions' (id, packed bits) — d/8 bytes per vector, the
  // SMALLEST resident set of any family — and ranking is the exact
  // popcount(xor) the codegen'd kernel computes; no refine pass exists to
  // serve (the batched path has none either). Ids AND distances equal
  // [[search]]. Same freshness/budget contract as the serve twins.
  // ------------------------------------------------------------------

  val ServeCodesBudgetKey = "spark.graft.cache.hamming.serve.partitions"
  private type Codes = Array[(Long, Array[Byte])]
  private val serveCodes = new ServeCache[Int, Codes](Some(ServeCodesBudgetKey), 256)
  def currentServeCapacity: Int = serveCodes.currentCapacity
  def serveHits: java.util.concurrent.atomic.AtomicLong = serveCodes.hits
  def serveMisses: java.util.concurrent.atomic.AtomicLong = serveCodes.misses
  def serveCacheSize: Int = serveCodes.size
  private val indexStates = new ServeCache[Unit, Model](None, ServeCache.IndexStates)

  /** Release an index's driver-resident serve state. */
  def serveUnpersist(indexPath: String): Unit = {
    indexStates.purge(indexPath)
    serveCodes.purge(indexPath)
    IndexIdentity.forget(indexPath)
  }

  /** Resident (id, bits) rows of `pids`, in request order; the pids that
    * miss load in ONE directory-pruned scan. */
  private def serveCodesOf(spark: SparkSession, indexPath: String, identity: String,
                           idCol: String, vecCol: String, pids: Seq[Int]): Seq[Codes] =
    serveCodes.getOrLoadAll(spark, indexPath, identity, pids) { miss =>
      val rows = spark.read.parquet(s"$indexPath/vectors")
        .filter(col(PidCol).isin(miss: _*))
        .select(col(PidCol), col(idCol).cast("long"), col(vecCol)).collect()
      ServeCache.splitBy(miss, rows)(_.getInt(0))
        .map(_.map(r => (r.getLong(1), r.getAs[Array[Byte]](2))))
    }

  /** Preload the serve cache in one scan; returns resident row count. */
  def serveWarm(spark: SparkSession, indexPath: String, idCol: String,
                vecCol: String, pids: Seq[Int] = Nil): Long = {
    val (ident, model) = indexStates.serve(spark, indexPath, ())(_ => loadModel(spark, indexPath))
    val targets = if (pids.nonEmpty) pids else 0 until model.nlist
    serveCodes.requireFits(spark, targets.size, "code-cache")
    serveCodesOf(spark, indexPath, ident, idCol, vecCol, targets).map(_.length.toLong).sum
  }

  /** Answer one query driver-locally: hamming centroid ranking + exact
    * popcount(xor) over the probed partitions' resident packed bits.
    * Returns (id, hamming distance) — ids AND distances equal [[search]];
    * no Spark job once warm. `allowed` is the id-predicate prefilter
    * applied before ranking, like the serve twins. */
  def serveLocal(spark: SparkSession, indexPath: String, idCol: String,
                 vecCol: String, query: Array[Byte], k: Int, nprobes: Int,
                 allowed: Option[Long => Boolean] = None): Seq[(Long, Long)] = {
    val (ident, model) = indexStates.serve(spark, indexPath, ())(_ => loadModel(spark, indexPath))
    val probes = model.rank(query).take(math.min(nprobes, model.nlist))
    val keep = allowed.getOrElse((_: Long) => true)
    serveCodesOf(spark, indexPath, ident, idCol, vecCol, probes).iterator.flatMap { rows =>
      rows.iterator
        .collect { case (id, bits) if keep(id) => (id, hamming(bits, query)) }
    }.toSeq.sortBy { case (id, d) => (d, id) }.take(k)
  }
}

/** Hamming-argmin centroid assignment over packed binary vectors (the
  * binary face of [[IvfAssign]]). First-wins ties; fails fast on packed
  * dimension mismatch. Codegen'd (popcount-xor argmin loop): the
  * corpus-sized assignment pass is the hamming family's scan-stage hot
  * path, mirroring the reference's first-class SIMD hamming kernel
  * (`rust/lance-linalg/src/distance/hamming.rs`). */
case class BinaryIvfAssign(child: Expression, centroids: Array[Array[Byte]])
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "binary_ivf_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"binary_ivf_assign requires binary, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Array[Byte]]
    if (centroids.nonEmpty && v.length != centroids(0).length)
      throw new IllegalArgumentException(
        s"binary_ivf_assign: vector has ${v.length} bytes, centroids have ${centroids(0).length}")
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = BinaryIvfIndex.hamming(v, centroids(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cents = ctx.addReferenceObj("centroids", centroids, "byte[][]")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val cc = ctx.freshName("cc")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      s"""
         |if ($cents.length > 0 && $v.length != $cents[0].length) {
         |  throw new IllegalArgumentException(
         |    "binary_ivf_assign: vector has " + $v.length +
         |    " bytes, centroids have " + $cents[0].length);
         |}
         |int $best = 0;
         |long $bestD = Long.MAX_VALUE;
         |for (int $c = 0; $c < $cents.length; $c++) {
         |  byte[] $cc = $cents[$c];
         |  long $d = 0L;
         |  for (int $i = 0; $i < $cc.length; $i++) {
         |    $d += java.lang.Integer.bitCount(($v[$i] ^ $cc[$i]) & 0xff);
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Pack the sign bits of a float/double vector into a binary vector
  * (bit i = 1 iff element i >= 0; zero-padded to whole bytes) — the
  * standard float→binary embedding reduction that [[BinaryIvfIndex]]
  * indexes. Evaluates once per row at build/query time; codegen'd so the
  * corpus-sized packing pass stays inside whole-stage codegen. */
case class PackSignBits(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_sign_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pack_sign_bits requires array<float|double>, got ${t.catalogString}")
  }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      if (x >= 0.0) out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val x = ctx.freshName("x")
      val elem = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |byte[] $out = new byte[($n + 7) / 8];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $elem;
         |  if ($x >= 0.0) {
         |    $out[$i >> 3] = (byte) ($out[$i >> 3] | (1 << (7 - ($i & 7))));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
