package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** IVF (inverted-file) vector index: coarse k-means partitioning + partition-
  * pruned search.
  *
  * Capability mirror of the reference's IVF family
  * (`rust/lance-index/src/vector/ivf/`, `kmeans.rs`;
  * `ANNIvfPartitionExec`/`ANNIvfSubIndexExec`, `io/exec/knn.rs:359,579`),
  * Spark-first:
  *
  *  - **train**: deterministic Lloyd's on a driver-side sample (the
  *    reference trains centroids on a sample too — `dataset.py:2517`);
  *    centroids are small (nlist × dim floats).
  *  - **build**: one distributed pass assigns every vector its nearest
  *    centroid via [[IvfAssign]]; the index dataset is parquet
  *    `partitionBy(__ivf_pid)` — partition values become directories, so
  *    probing IS directory pruning, Spark-native.
  *  - **search**: rank centroids on the driver (nlist ops), scan only the
  *    `nprobes` chosen partitions, exact distances within them, global
  *    top-k via TakeOrderedAndProject. Cost scales with nprobes/nlist of
  *    the data — the 100 TB path. With nprobes = nlist the result is
  *    EXACTLY flat search (gate-checkable against the brute-force oracle).
  *
  * [[IvfQuantized]] adds a quantizer's codes within partitions (PQ, SQ,
  * RQ: `vector/pq/`, `sq/`, `bq/`) and [[HnswIndex]] adds per-partition
  * graph sub-indexes (`vector/hnsw/`); all of them share this coarse IVF
  * layout.
  */
object IvfIndex {
  val PidCol = "__ivf_pid"

  case class Model(centroids: Array[Array[Float]]) {
    def nlist: Int = centroids.length
    /** Partitions ranked by centroid distance to the query (driver-side). */
    def rank(query: Array[Float]): Seq[Int] =
      centroids.indices.sortBy(i => l2sq(centroids(i), query))
  }

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Fixed-point scale for distributed k-means mean updates: float inputs
    * scale exactly (power of two) into longs, whose sum is associative —
    * the reduction is bit-identical on any partitioning/cluster size,
    * unlike a floating-point `avg`. */
  private[operators] val MeanScale = 1L << 24

  /** Deterministic, unbiased, DISTRIBUTED Lloyd's (VERDICT r2 #4; the
    * reference trains on a sample too — `dataset.py:2517` — but shuffles
    * it; `orderBy(id).limit(n)` was an ingestion-order prefix, biased
    * whenever ingestion correlates with content):
    *
    *  - sample = the `sampleSize` rows with the smallest `xxhash64(id)` — a
    *    deterministic uniform sample, executed as a distributed TakeOrdered
    *    (per-partition top-N heaps); the sample itself stays cached on
    *    executors and is never collected.
    *  - each iteration assigns the sample with [[IvfAssign]] (distributed)
    *    and recomputes per-centroid means from fixed-point long sums; only
    *    the O(nlist·dim) statistics reach the driver.
    *  - init = vectors of the `nlist` hash-smallest ids; empty clusters
    *    keep their previous centroid; ties go to the lowest pid.
    *
    * At reference scale (35 M × 768-d, nlist 2048) driver work is ~1.5 M
    * aggregate rows per iteration instead of ~10^12 distance ops. */
  def train(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
            maxIter: Int = 10, sampleSize: Int = 100000): Model = {
    val hashOrder = Seq(xxhash64(col("__id")), col("__id"))
    // Bounded in-memory training (reference kmeans `sample_rate` ≈ 256 rows
    // per centroid, `rust/lance-index/src/vector/kmeans.rs`): ONE job
    // TakeOrdered-collects a constant-size hash-sample, then the Lloyd
    // iterations run as local multithreaded arithmetic — not maxIter Spark
    // jobs whose fixed scheduling overhead dominates every index build. The
    // corpus-sized work (assignment / encode) stays distributed. Fixed-point
    // Long sums keep the update order-independent, so the result is
    // deterministic on any thread count — same property the distributed
    // reduction had.
    val cap = math.min(sampleSize, math.max(nlist * 256, 4096))
    val data = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .orderBy(hashOrder: _*).limit(cap)
      .select(col("__v")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(data.length >= nlist, s"need >= $nlist vectors to train, got ${data.length}")
    var centroids = data.take(nlist).map(_.clone())
    for (_ <- 0 until maxIter) centroids = lloydStep(data, centroids)
    Model(centroids)
  }

  /** One in-memory Lloyd round: assign each sample to its nearest centroid
    * (strict `<` argmin — same first-wins tie rule as [[IvfAssign]]),
    * accumulate fixed-point sums in parallel chunks, emit the means. Empty
    * centroids keep their previous position (as the distributed version
    * did). Deterministic: Long addition is associative, so chunking and
    * thread scheduling cannot change the result. */
  private[operators] def lloydStep(data: Array[Array[Float]],
                                   cents: Array[Array[Float]]): Array[Array[Float]] = {
    val k = cents.length
    val dim = if (k > 0) cents(0).length else 0
    // per-chunk accumulators cost nChunks·k·dim longs — bound the TOTAL to
    // ~512 MB (2^26 longs) so a large auto-sized nlist (up to 65536) on
    // high-dim vectors degrades to fewer (down to one) chunks instead of a
    // driver OOM; typical builds (k·dim ≲ 2M) keep all 32 chunks
    val memChunks = math.max(1L, (1L << 26) / math.max(1L, k.toLong * dim)).toInt
    val nChunks = math.max(1, math.min(math.min(32, memChunks), data.length / 256))
    val chunkSize = (data.length + nChunks - 1) / nChunks
    val sums = Array.fill(nChunks)(Array.fill(k)(new Array[Long](dim)))
    val counts = Array.fill(nChunks)(new Array[Long](k))
    java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ci =>
      val s = sums(ci); val n = counts(ci)
      var i = ci * chunkSize
      val end = math.min(data.length, i + chunkSize)
      while (i < end) {
        val v = data(i)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val d = l2sq(v, cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val sb = s(best); var j = 0
        while (j < dim) { sb(j) += math.round(v(j).toDouble * MeanScale); j += 1 }
        n(best) += 1
        i += 1
      }
    }
    Array.tabulate(k) { c =>
      var cnt = 0L; var ci = 0
      while (ci < nChunks) { cnt += counts(ci)(c); ci += 1 }
      if (cnt == 0L) cents(c).clone()
      else Array.tabulate(dim) { j =>
        var acc = 0L; var i = 0
        while (i < nChunks) { acc += sums(i)(c)(j); i += 1 }
        (acc.toDouble / (cnt.toDouble * MeanScale)).toFloat
      }
    }
  }

  /** True when the vector column holds PACKED f16 bytes (binary16 storage,
    * [[graft.functions.Float16]]) rather than `array<float>`: the IVF
    * family then trains/assigns through a decode expression but STORES the
    * packed bytes — half the index IO end-to-end — and serves searches with
    * the f16 distance kernels. */
  private[operators] def isF16(df: DataFrame, vecCol: String): Boolean =
    df.schema(vecCol).dataType == org.apache.spark.sql.types.BinaryType

  /** The column as `array<float>` for training/assignment math: identity
    * for float vectors, a codegen'd decode for packed f16. */
  private[operators] def floatSide(df: DataFrame, vecCol: String): Column =
    if (isF16(df, vecCol))
      ColumnBridge.column(graft.functions.UnpackF16(ColumnBridge.expression(col(vecCol))))
    else col(vecCol)

  /** Frame with the vector column decoded to `array<float>` when packed
    * f16 — the boundary cast the QUANTIZED families (PQ/SQ/RQ/HNSW) apply
    * once at build/optimize: their index payload is the CODES (the full
    * vectors only back the k·refine-sized exact re-rank), so decoding at
    * the boundary keeps the table at half bytes — the user's win — without
    * f16-specializing every codebook/bounds/graph kernel. IVF_FLAT, whose
    * payload IS the vectors, keeps them packed instead (see [[build]]). */
  private[operators] def floatView(df: DataFrame, vecCol: String): DataFrame =
    if (isF16(df, vecCol)) df.withColumn(vecCol, floatSide(df, vecCol)) else df

  /** Persist a trained IVF model standalone (reference `IvfModel.save`,
    * `python/lance/indices/ivf.py:27`): same `centroids` parquet layout the
    * index directories use, so [[loadModel]] reads either. The model is the
    * train-once-reuse-everywhere artifact of a 100 TB build: centroids
    * learned on one bounded sample serve every rebuild / branch / retrain-
    * free re-index without re-running training. */
  def saveModelTo(spark: SparkSession, modelPath: String, model: Model,
                  metric: String = "l2"): Unit = {
    writeCentroids(spark, modelPath, model)
    writeVectorMeta(spark, modelPath, metric)
    IndexIdentity.publish(spark, modelPath)
  }

  /** Persist centroids under `path/centroids` ([[loadModel]]'s layout),
    * shared by every IVF-family index directory and standalone models. */
  private[operators] def writeCentroids(spark: SparkSession, path: String,
                                        model: Model): Unit =
    spark.createDataFrame(model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("pid", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")

  /** Train centroids over a table column and persist them standalone —
    * the train-once half of the precomputed-model flow (reference
    * `IndicesBuilder.train_ivf` + `IvfModel.save`,
    * `python/lance/indices/builder.py:60`, `indices/ivf.py:27`). Training
    * cost is the bounded-sample recipe of [[train]] regardless of table
    * size. Returns (nlist, dim). */
  def trainModelToPath(spark: SparkSession, tablePath: String, idCol: String,
                       vecCol: String, nlist: Int, metric: String,
                       dest: String): (Int, Int) = {
    val df0 = graft.format.GraftTable.read(spark, tablePath,
      withRowId = idCol == graft.format.GraftTable.RowIdCol)
    val df = forMetric(floatView(df0, vecCol), vecCol, metric)
    val model = train(df, idCol, vecCol, nlist)
    saveModelTo(spark, dest, model, metric)
    (model.nlist, model.centroids.head.length)
  }

  /** Vector length of the column's first row — the build-time dimension
    * guard for precomputed models (a mismatched model would otherwise
    * assign garbage silently: the distance loop runs over min(dims)). */
  private[operators] def dimOf(df: DataFrame, vecCol: String): Int =
    floatView(df, vecCol).select(col(vecCol)).limit(1).collect() match {
      case Array(r) => r.getSeq[Float](0).length
      case _ => throw new IllegalArgumentException("empty vector column")
    }

  private[operators] def requireDim(model: Model, df: DataFrame,
                                    vecCol: String): Unit = {
    val d = dimOf(df, vecCol)
    require(model.centroids.head.length == d,
      s"precomputed model dimension ${model.centroids.head.length} != " +
        s"column '$vecCol' dimension $d")
  }

  /** Build the index dataset: assign pids, write partitioned parquet +
    * centroids sidecar. f16 columns train/assign through the decode but
    * the index stores the PACKED bytes. `precomputed` (reference
    * `create_index(ivf_centroids=..., train=False)`, `dataset.py:2525`)
    * skips training and partitions under the given model — the assignment
    * pass (the corpus-sized work) still runs distributed. Publishes a new
    * [[IndexIdentity]], so no per-JVM cache answers from the index this
    * build replaced. */
  def build(df: DataFrame, idCol: String, vecCol: String, indexPath: String,
            nlist: Int, maxIter: Int = 10,
            precomputed: Option[Model] = None): Model = {
    val model = precomputed match {
      case Some(m) => requireDim(m, df, vecCol); m
      case None => train(floatView(df, vecCol), idCol, vecCol, nlist, maxIter)
    }
    val assigned = df.withColumn(PidCol,
      ColumnBridge.column(IvfAssign(
        ColumnBridge.expression(floatSide(df, vecCol)), model.centroids)))
    assigned.write.mode(SaveMode.Overwrite).partitionBy(PidCol).parquet(s"$indexPath/vectors")
    writeCentroids(df.sparkSession, indexPath, model)
    IndexIdentity.publish(df.sparkSession, indexPath)
    model
  }

  /** Budget (index count) for the per-JVM centroid cache below; hit/miss
    * observable via `CALL g.system.cache_stats()` (VERDICT r12 #8). */
  val CentroidCacheBudgetKey = "spark.graft.cache.centroids.indexes"
  val centroidCacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  val centroidCacheMisses = new java.util.concurrent.atomic.AtomicLong(0)
  // each index's parsed model, shared by the Spark paths and serving
  private val models = new ServeCache[Unit, Model](Some(CentroidCacheBudgetKey), 64,
    centroidCacheHits, centroidCacheMisses)
  def currentCentroidCapacity: Int = models.currentCapacity
  def centroidCacheSize: Int = models.size

  /** The index's centroids; reads its [[IndexIdentity]] from disk. */
  def loadModel(spark: SparkSession, indexPath: String): Model =
    modelUnder(spark, indexPath, IndexIdentity.read(spark, indexPath))

  /** The index's centroids as loaded under `identity`. */
  private[operators] def modelUnder(spark: SparkSession, indexPath: String,
                                    identity: String): Model =
    models.getOrLoad(spark, indexPath, identity, ()) {
      val rows = spark.read.parquet(s"$indexPath/centroids").orderBy("pid").collect()
      Model(rows.map(r => r.getSeq[Float](1).toArray))
    }

  // ------------------------------------------------------------------
  // Driver-local single-query serving (r14) — the IVF_FLAT twin of
  // [[HnswIndex.serveLocal]] for the interactive regime: centroids rank
  // on the driver (the model comes from the centroid cache above), probed
  // partitions' (id, vec) rows come from a driver-local [[ServeCache]]
  // (every partition a call misses loads in ONE directory-pruned scan of
  // `vectors/` — it is partitioned BY pid — split by pid on the driver;
  // the quantized families refine from the same LRU), and ranking is an
  // exact brute-force scan replicating [[Knn.flatSearch]]'s kernel
  // arithmetic bit-for-bit. Zero Spark jobs once warm. Float or packed f16
  // storage; serves the index dataset as-is (no DV/coverage subtraction —
  // the fastSearch contract), like the HNSW twin.
  // ------------------------------------------------------------------

  val ServeCacheBudgetKey = "spark.graft.cache.ivf.serve.partitions"
  /** (id, vector) rows. */
  private[operators] type FloatRows = Array[(Long, Array[Float])]
  /** One resident partition: its rows, and whether they were decoded from
    * packed f16 storage (every partition of an index shares the build's
    * storage). */
  private[operators] final case class Resident(rows: FloatRows, f16: Boolean)
  private[operators] val serveRows = new ServeCache[Int, Resident](Some(ServeCacheBudgetKey), 64)
  def currentServeCapacity: Int = serveRows.currentCapacity
  val serveHits: java.util.concurrent.atomic.AtomicLong = serveRows.hits
  val serveMisses: java.util.concurrent.atomic.AtomicLong = serveRows.misses
  def serveCacheSize: Int = serveRows.size

  /** Release an index's driver-resident serve partitions. Its centroids
    * stay in the centroid cache, which the Spark paths read too. */
  def serveUnpersist(indexPath: String): Unit = {
    serveRows.purge(indexPath)
    IndexIdentity.forget(indexPath)
  }

  /** Resident partitions `pids` under `identity`, in request order. The
    * partitions that miss load in ONE scan, except those whose float rows a
    * caller's own batched scan already `fetched` (the quantized families
    * read codes and refine vectors together). */
  private[operators] def servePartitions(spark: SparkSession, indexPath: String,
                                         identity: String, idCol: String, vecCol: String,
                                         pids: Seq[Int],
                                         fetched: collection.Map[Int, FloatRows] = Map.empty)
      : Seq[Resident] =
    serveRows.getOrLoadAll(spark, indexPath, identity, pids) { miss =>
      val rest = miss.filterNot(fetched.contains)
      val scanned =
        if (rest.isEmpty) Map.empty[Int, Resident]
        else rest.zip(scanPartitions(spark, indexPath, idCol, vecCol, rest)).toMap
      miss.map(p => fetched.get(p).map(Resident(_, f16 = false)).getOrElse(scanned(p)))
    }

  private def scanPartitions(spark: SparkSession, indexPath: String, idCol: String,
                             vecCol: String, pids: Seq[Int]): Seq[Resident] = {
    val df = spark.read.parquet(s"$indexPath/vectors")
      .filter(col(PidCol).isin(pids: _*))
    // packed f16 storage (r16): decode ONCE at load into resident floats.
    // Every decoded value is an exact f16, and the batched kernels
    // ([[graft.functions.F16L2Distance]] etc.) also just decode-and-widen
    // per element, so [[serveDist]] over these floats with an f16-ROUNDED
    // query ([[serveLocal]]) is bit-identical to the batched f16 ranking.
    val f16 = isF16(df, vecCol)
    val rows = df.select(col(PidCol), col(idCol).cast("long"), col(vecCol)).collect()
    ServeCache.splitBy(pids, rows)(_.getInt(0)).map(g => Resident(g.map(r => (r.getLong(1),
      if (f16) graft.functions.Float16.unpack(r.getAs[Array[Byte]](2))
      else r.getSeq[Float](2).toArray)), f16))
  }

  /** Preload the serve cache (all partitions by default) in one scan;
    * returns resident row count. */
  def serveWarm(spark: SparkSession, indexPath: String, idCol: String,
                vecCol: String, pids: Seq[Int] = Nil): Long = {
    val ident = IndexIdentity.of(spark, indexPath)
    val model = modelUnder(spark, indexPath, ident)
    val targets = if (pids.nonEmpty) pids else 0 until model.nlist
    serveRows.requireFits(spark, targets.size, "serve")
    servePartitions(spark, indexPath, ident, idCol, vecCol, targets)
      .map(_.rows.length.toLong).sum
  }

  /** Same accumulation order and widening as the codegen'd distance
    * kernels ([[graft.functions.VectorDistances]]) — results are
    * bit-identical to [[search]]'s, not merely close. */
  private[operators] def serveDist(metric: String, q: Array[Float], v: Array[Float]): Double = {
    val n = math.min(q.length, v.length)
    metric match {
      case "l2" =>
        var acc = 0.0; var i = 0
        while (i < n) { val d = v(i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
        math.sqrt(acc)
      case "cosine" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = v(i).toDouble; val y = q(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        1.0 - dot / math.sqrt(na * nb)
      case "dot" =>
        var dot = 0.0; var i = 0
        while (i < n) { dot += v(i).toDouble * q(i).toDouble; i += 1 }
        -dot
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
  }

  /** Answer one query driver-locally: centroid ranking + exact brute-force
    * over the probed resident partitions, global top-k with [[search]]'s
    * (distance, id) tie-break. No Spark job once the partitions are warm. */
  def serveLocal(spark: SparkSession, indexPath: String, idCol: String,
                 vecCol: String, query: Array[Float], k: Int, nprobes: Int,
                 metric: String = "l2",
                 allowed: Option[Long => Boolean] = None): Seq[(Long, Double)] = {
    val ident = IndexIdentity.of(spark, indexPath)
    val model = modelUnder(spark, indexPath, ident)
    // centroid ranking always uses the raw float query (the batched path
    // does too: [[Model.rank]] precedes any storage-flavor handling)
    val probes = model.rank(query).take(math.min(nprobes, model.nlist))
    // packed-f16 storage (r16): the batched ranking compares f16 query
    // bytes against f16 stored bytes, so the serve query must round
    // through f16 exactly like f16Lit's pack
    val parts = servePartitions(spark, indexPath, ident, idCol, vecCol, probes)
    val qq = if (parts.exists(_.f16))
      graft.functions.Float16.unpack(graft.functions.Float16.pack(query))
    else query
    // prefilter (r16): dropped BEFORE the top-k cut, the batched
    // `prefilter` contract — the result is the true top-k of the
    // allowed set, never a short post-filtered list
    val keep = allowed.getOrElse((_: Long) => true)
    parts.iterator.flatMap { part =>
      part.rows.iterator.collect {
        case (id, v) if keep(id) => (id, serveDist(metric, qq, v))
      }
    }.toSeq.sortBy { case (id, d) => (d, id) }.take(k)
  }

  /** ANN search: probe the `nprobes` nearest partitions, exact distances
    * inside, global top-k. `nprobes >= nlist` ⇒ identical to flat search.
    *
    * @param prefilter predicate over the index dataset's columns, applied
    *   BEFORE the top-k cut (reference prefiltered ANN,
    *   `rust/lance-index/src/prefilter.rs` + `scanner.rs:2254-2278`): the
    *   result is the true top-k of the filtered set — exactly k rows when k
    *   rows match, never a short post-filtered list.
    * @param candidateTransform plan-level hook applied to the probed
    *   candidates before ranking — [[searchCombined]] threads its
    *   fragment-liveness filter and DV anti-join through it so both happen
    *   before the top-k cut (no delete-proportional overfetch).
    */
  def search(spark: SparkSession, indexPath: String, idCol: String, vecCol: String,
             query: Array[Float], k: Int, nprobes: Int,
             metric: String = "l2",
             prefilter: Option[Column] = None,
             candidateTransform: DataFrame => DataFrame = identity,
             distanceRange: Option[(Double, Double)] = None): DataFrame = {
    val model = loadModel(spark, indexPath)
    val probes = model.rank(query).take(math.min(nprobes, model.nlist))
    val candidates = spark.read.parquet(s"$indexPath/vectors")
      .filter(col(PidCol).isin(probes: _*))
    val cand = candidateTransform(candidates)
    // f16 index dataset (binary vector column): rank with the packed-byte
    // kernels — the probed partitions stream at half the bytes
    (if (isF16(cand, vecCol))
       Knn.flatSearchF16(cand, vecCol, query, k, metric,
         tieBreakers = Seq(col(idCol)), prefilter = prefilter,
         distanceRange = distanceRange)
     else
       Knn.flatSearch(cand, vecCol, query, k, metric,
         tieBreakers = Seq(col(idCol)), prefilter = prefilter,
         distanceRange = distanceRange)).drop(PidCol)
  }

  /** Build over a graft table snapshot, recording the covered version AND
    * fragment-id set (the reference's `fragment_bitmap`) — the inputs to
    * [[searchCombined]]'s fresh/stale handling and [[optimizeForTable]]'s
    * delta maintenance. The index rows carry `_rowaddr` so post-build
    * deletions can be subtracted at query time. */
  def buildForTable(spark: SparkSession, tablePath: String, idCol: String,
                    vecCol: String, indexPath: String, nlist: Int,
                    centroidsFile: Option[String] = None): Model = {
    val m = graft.format.GraftTable.loadManifest(spark, tablePath)
    val pre = centroidsFile.map(loadModel(spark, _))
    val model = build(
      graft.format.GraftTable.read(spark, tablePath, withRowAddr = true,
        withRowId = idCol == graft.format.GraftTable.RowIdCol),
      idCol, vecCol, indexPath, pre.map(_.nlist).getOrElse(nlist),
      precomputed = pre)
    graft.index.ScalarIndex.writeCoverageAndCommit(spark, tablePath, indexPath,
      "IVF_FLAT", vecCol, m, Map("idCol" -> idCol,
        "nlist" -> model.nlist.toString) ++
        centroidsFile.map("centroidsFile" -> _))
    model
  }

  /** Fragment ids whose rows the index dataset contains. Marker-backed for
    * new builds; legacy version-marker indexes fall back to "manifest
    * fragments as old as the marker" (which cannot name dead fragments, so
    * the liveness filter in [[searchCombined]] stays mandatory for them). */
  private[operators] def coveredFragmentIds(spark: SparkSession, indexPath: String,
                                            m: graft.format.GraftManifest): Set[Long] =
    graft.index.ScalarIndex.readCoverage(spark, indexPath) match {
      case Some(c) => c.fragmentIds.toSet
      case None =>
        val vi = graft.index.ScalarIndex.indexedVersion(spark, indexPath)
          .getOrElse(throw new IllegalStateException(
            s"$indexPath has no version marker — build with buildForTable"))
        m.fragments.filter(_.addedVersion <= vi).map(_.id).toSet
    }

  /** addr-frame split by fragment-id membership: isin for small sets,
    * broadcast semi/anti joins beyond the same 1000-id bound
    * [[liveFragmentFilter]] uses (a many-thousand-literal `In()` costs
    * more to build and ship per query than the joins). */
  private[operators] def splitByFrag(spark: SparkSession, df: DataFrame,
                                     addrCol: String, ids: Set[Long])
      : (DataFrame, DataFrame) = {
    val fragId = shiftrightunsigned(col(addrCol), 32)
    if (ids.size <= 1000) {
      val seq = ids.toSeq
      (df.filter(fragId.isin(seq: _*)), df.filter(!fragId.isin(seq: _*)))
    } else {
      import spark.implicits._
      val idsDf = broadcast(ids.toSeq.toDF("__frag_in"))
      (df.join(idsDf, fragId === col("__frag_in"), "left_semi"),
        df.join(idsDf, fragId === col("__frag_in"), "left_anti"))
    }
  }

  /** Keep only candidate rows whose fragment still exists in the snapshot —
    * the compaction guard (rewritten fragments get NEW ids, so rows filed
    * under a dead id are duplicates of rows the flat side now serves).
    * Small id sets inline as an `isin`; larger ones broadcast-semi-join. */
  private[operators] def liveFragmentFilter(spark: SparkSession, df: DataFrame,
                                            keepIds: Set[Long]): DataFrame = {
    val addrCol = graft.format.GraftTable.RowAddrCol
    val fragId = shiftrightunsigned(col(addrCol), 32)
    if (keepIds.size <= 1000) df.filter(fragId.isin(keepIds.toSeq: _*))
    else {
      import spark.implicits._
      val ids = broadcast(keepIds.toSeq.toDF("__live_frag"))
      df.join(ids, fragId === col("__live_frag"), "left_semi")
    }
  }

  /** Atomic-ish dataset swap for index rewrites: rename the live dir aside,
    * move the fresh one in, delete the old — a concurrent reader sees the
    * old or the new dataset, with only a rename-width race window. */
  private[operators] def swapInDir(spark: SparkSession, fresh: String, live: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val livePath = new Path(live)
    val freshPath = new Path(fresh)
    val fs = livePath.getFileSystem(conf)
    val old = new Path(live + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(livePath) && !fs.rename(livePath, old))
      throw new IllegalStateException(s"rename $live aside failed")
    if (!fs.rename(freshPath, livePath))
      throw new IllegalStateException(s"rename $fresh -> $live failed")
    fs.delete(old, true)
  }

  /** Incremental index maintenance (reference `optimize_indices`,
    * `rust/lance/src/dataset/index.rs`): assign ONLY the fragments the
    * index does not cover yet to the EXISTING centroids and append them —
    * no retrain, O(delta) IO. If compaction removed covered fragments, the
    * stale rows are dropped by a filtered rewrite of the index dataset
    * (O(index) IO, still no retrain) so the index never holds duplicate
    * rows. Publishes a new [[IndexIdentity]] before it returns, so the
    * next `serveLocal` reloads the grown index. Returns the number of newly
    * indexed rows. */
  def optimizeForTable(spark: SparkSession, tablePath: String, idCol: String,
                       vecCol: String, indexPath: String): Long = {
    val model = loadModel(spark, indexPath)
    try maintainPartitionedVectors(spark, tablePath, idCol, vecCol, indexPath,
      "IVF_FLAT", df => df.withColumn(PidCol,
        ColumnBridge.column(IvfAssign(
          ColumnBridge.expression(floatSide(df, vecCol)), model.centroids))))
    finally IndexIdentity.publish(spark, indexPath)
  }

  /** Incremental maintenance shared by every PID-partitioned vector layout
    * ([[optimizeForTable]] here; [[BinaryIvfIndex.optimizeForTable]] with a
    * hamming assignment): REMAP compaction-moved rows, append-assign fresh
    * fragments, filtered-rewrite legacy datasets — identical policy, only
    * the per-row centroid assignment differs. */
  private[operators] def maintainPartitionedVectors(
      spark: SparkSession, tablePath: String, idCol: String, vecCol: String,
      indexPath: String, indexType: String,
      assignPid: DataFrame => DataFrame,
      extraMeta: Map[String, String] = Map.empty): Long = {
    import graft.format.GraftTable
    val m = GraftTable.loadManifest(spark, tablePath)
    val covered = coveredFragmentIds(spark, indexPath, m)
    val liveIds = m.fragments.map(_.id).toSet
    val staleIds = covered.diff(liveIds)
    val freshFrags = m.fragments.filterNot(f => covered.contains(f.id))
    // A legacy version-marker index (no coverage file) cannot NAME dead
    // fragments — coveredFragmentIds estimates coverage from the live
    // manifest, so staleIds is empty even after a compaction. Upgrading it
    // to a clean coverage marker via the append branch would let
    // searchCombined skip the liveness filter over rows that may include
    // dead-fragment duplicates. Always take the filtered-rewrite branch for
    // legacy indexes: it proves the dataset clean before writeCoverage
    // records it as such.
    val legacy = graft.index.ScalarIndex.readCoverage(spark, indexPath).isEmpty
    val needRid = idCol == GraftTable.RowIdCol
    var newlyEncoded = freshFrags.map(_.rows).sum
    if (!legacy && staleIds.nonEmpty) {
      // compaction retired covered fragments: REMAP the dataset to the
      // rows' new addresses (O(delta) join, assignments and codes
      // untouched — [[IndexRemap]]) and fall through to appending whatever
      // stays uncovered (mixed rewrite outputs, post-build appends)
      val cov = IndexRemap.remapVectors(spark, tablePath, m, indexPath, idCol)
      val fresh2 = m.fragments.filterNot(f => cov.contains(f.id))
      newlyEncoded = fresh2.map(_.rows).sum
      if (fresh2.nonEmpty) {
        assignPid(GraftTable.readFragments(spark, tablePath, m, fresh2,
            withRowAddr = true, withRowId = needRid))
          .write.mode(SaveMode.Append).partitionBy(PidCol)
          .parquet(s"$indexPath/vectors")
      }
    } else if (staleIds.isEmpty && !legacy) {
      if (freshFrags.nonEmpty) {
        assignPid(GraftTable.readFragments(spark, tablePath, m, freshFrags,
            withRowAddr = true, withRowId = needRid))
          .write.mode(SaveMode.Append).partitionBy(PidCol)
          .parquet(s"$indexPath/vectors")
      }
    } else {
      // legacy (version-marker-only) index: estimated coverage cannot name
      // dead fragments, so prove the dataset clean via a filtered rewrite
      // (drop anything non-live, assign uncovered fragments in the same
      // pass) before recording the first real coverage marker
      val keep = liveFragmentFilter(spark,
        spark.read.parquet(s"$indexPath/vectors"), covered.intersect(liveIds))
      val freshAssigned =
        if (freshFrags.isEmpty) None
        else Some(assignPid(GraftTable.readFragments(spark, tablePath, m, freshFrags,
          withRowAddr = true, withRowId = needRid)))
      val merged = freshAssigned.map(keep.unionByName(_, allowMissingColumns = true))
        .getOrElse(keep)
      merged.write.mode(SaveMode.Overwrite).partitionBy(PidCol)
        .parquet(s"$indexPath/vectors__fresh")
      swapInDir(spark, s"$indexPath/vectors__fresh", s"$indexPath/vectors")
    }
    graft.index.ScalarIndex.writeCoverageAndCommit(spark, tablePath, indexPath,
      indexType, vecCol, m, Map("idCol" -> idCol) ++ extraMeta)
    newlyEncoded
  }

  /** `knn_combined` (reference `scanner.rs:2946-3030`): ANN over the
    * fragments the index covers, UNION flat KNN over fragments the index
    * does NOT cover (both post-build appends and compaction rewrites — the
    * covered-id set plays the reference's `fragment_bitmap`), merged global
    * top-k. Deletion vectors and fragment liveness are applied to the
    * indexed candidates BEFORE the top-k cut, so no overfetch is needed and
    * deleted rows can never resurface after their DV is materialized by a
    * compaction (VERDICT r2 #1/#3).
    *
    * `metric` and `prefilter` thread through BOTH legs (VERDICT r3 #5): a
    * filtered cosine/dot ANN over a live table — the realistic production
    * call — returns the true top-k of the filtered live set.
    */
  def searchCombined(spark: SparkSession, tablePath: String, indexPath: String,
                     idCol: String, vecCol: String, query: Array[Float],
                     k: Int, nprobes: Int, metric: String = "l2",
                     prefilter: Option[Column] = None,
                     fastSearch: Boolean = false,
                     distanceRange: Option[(Double, Double)] = None): DataFrame =
    combined(spark, tablePath, indexPath, idCol, vecCol, query, k, metric, prefilter,
      fastSearch, distanceRange)(
      transform => search(spark, indexPath, idCol, vecCol, query, k, nprobes,
        metric = metric, prefilter = prefilter, candidateTransform = transform,
        distanceRange = distanceRange))

  // ------------------------------------------------- metric support (PQ/SQ)

  /** Normalize a query vector to unit length (zero vectors pass through). */
  private[operators] def normalize(v: Array[Float]): Array[Float] = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(acc)
    if (n <= 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** Under "cosine", replace the vector column with its unit-normalized form
    * (builtin expressions — stays in codegen): on the unit sphere l2²
    * ranking is cosine-rank-equivalent, which is how the quantized families
    * serve cosine (reference sq/pq cosine route). "l2"/"dot" pass through. */
  private[operators] def forMetric(df: DataFrame, vecCol: String, metric: String): DataFrame =
    if (metric != "cosine") df
    else {
      val v = col(vecCol)
      val norm = sqrt(aggregate(v, lit(0.0d), (a, x) => a + x.cast("double") * x.cast("double")))
      df.withColumn(vecCol,
        when(norm > 0.0d, transform(v, x => (x.cast("double") / norm).cast("float")))
          .otherwise(v))
    }

  private val VectorMetaFile = "_GRAFT_VECTOR_META"

  /** Per-index vector metadata sidecar `_GRAFT_VECTOR_META` (build metric,
    * node storage codec, PQ code space and width), so search paths serve
    * what the index was built for. The PQ fields are written only when they
    * differ from the legacy defaults. Written write-temp-then-rename, so a
    * concurrent [[vectorMeta]] never reads an empty file as the defaults. */
  private[graft] def writeVectorMeta(spark: SparkSession, indexPath: String,
                                         metric: String,
                                         storage: String = "flat",
                                         pqVariant: String = "",
                                         pqBits: Int = 8): Unit = {
    val pqField = if (pqVariant.isEmpty) "" else s""", "pq": "$pqVariant""""
    val bitsField = if (pqBits == 8) "" else s""", "pq_bits": $pqBits"""
    graft.index.ScalarIndex.atomicWrite(spark, s"$indexPath/$VectorMetaFile",
      s"""{"metric": "$metric", "storage": "$storage"$pqField$bitsField}""")
  }

  /** The sidecar's fields. `pqVariant` is the PQ code space ("residual" |
    * "raw"); `pqBits` the PQ code width (reference `num_bits`,
    * `rust/lance-index/src/vector/pq.rs:44`: 4 = two nibble codes per
    * byte, 8 = one per byte). An absent file or field reads as the legacy
    * default: l2 / flat / raw / 8. */
  private[graft] case class VectorMeta(metric: String = "l2", storage: String = "flat",
                                       pqVariant: String = "raw", pqBits: Int = 8)

  /** Read the sidecar once (one open; no existence probe). */
  private[graft] def vectorMeta(spark: SparkSession, indexPath: String): VectorMeta = {
    import org.json4s._
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$VectorMetaFile")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = try fs.open(p) catch { case _: java.io.FileNotFoundException => return VectorMeta() }
    val json = try org.json4s.jackson.JsonMethods.parse(in) finally in.close()
    def str(field: String, dflt: String): String = json \ field match {
      case JString(v) => v
      case _ => dflt
    }
    VectorMeta(str("metric", "l2"), str("storage", "flat"), str("pq", "raw"),
      json \ "pq_bits" match {
        case JInt(b) => b.toInt
        case _ => 8
      })
  }

  /** The index's build metric ([[vectorMeta]]`.metric`). */
  private[graft] def readVectorMeta(spark: SparkSession, indexPath: String): String =
    vectorMeta(spark, indexPath).metric

  /** [[vectorMeta]]`.pqVariant`. */
  private[graft] def readPqVariant(spark: SparkSession, indexPath: String): String =
    vectorMeta(spark, indexPath).pqVariant

  /** [[vectorMeta]]`.pqBits`. */
  private[graft] def readPqBits(spark: SparkSession, indexPath: String): Int =
    vectorMeta(spark, indexPath).pqBits

  /** Metadata-only serving decision for retired coverage (reference
    * `defer_index_remap` + FragReuseIndex, `optimize.rs:155-166`):
    * partition the UNCOVERED live fragments into
    *  - translatable: produced by a content-preserving rewrite
    *    (compaction/clustering) whose every source fragment the index
    *    covered — all their rows are in the index, so candidates keep
    *    serving AT THEIR OLD ADDRESSES; only the deletion-sized sets
    *    (rows the rewrite dropped, DVs landed after it) are mapped back
    *    into the old address space and anti-joined;
    *  - fresh: everything else (appends, value-changing rewrites,
    *    second-generation rewrites whose mapping chain broke) — the flat
    *    leg, as before.
    * Pure manifest arithmetic — no data read to decide. */
  private[graft] def deferServing(m: graft.format.GraftManifest,
                                  covered: Set[Long])
      : (Seq[graft.format.FragmentMeta], Seq[graft.format.FragmentMeta]) =
    m.fragments.filterNot(f => covered.contains(f.id))
      .partition(f => f.oldAddrStored && f.srcFragIds.nonEmpty &&
        f.srcFragIds.forall(covered.contains))

  /** ID-keyed twin of [[deferServing]] for indexes that never touch
    * addresses (FTS postings): translatability survives rewrite
    * GENERATIONS — an output serves from the postings when the index
    * covers its immediate sources OR its root provenance (`rootFragIds`),
    * because doc ids are stable even though `__old_addr` is single-hop. */
  private[graft] def deferServingById(m: graft.format.GraftManifest,
                                      covered: Set[Long])
      : (Seq[graft.format.FragmentMeta], Seq[graft.format.FragmentMeta]) =
    m.fragments.filterNot(f => covered.contains(f.id))
      .partition(f => f.srcFragIds.nonEmpty &&
        (f.srcFragIds.forall(covered.contains) ||
          (f.rootFragIds.nonEmpty && f.rootFragIds.forall(covered.contains))))

  /** Old-addr → new-addr mapping of `translatable` fragments: one
    * column-pruned scan (two longs per row). Read ONLY to translate
    * post-rewrite DVs backward — never joined against candidates. */
  private[operators] def addrMapping(spark: SparkSession, tablePath: String,
                                     m: graft.format.GraftManifest,
                                     translatable: Seq[graft.format.FragmentMeta])
      : DataFrame = {
    import graft.format.GraftTable
    // includeDeleted: the DV'd rows are exactly the ones whose mapping
    // entry the backward translation needs
    GraftTable.readFragments(spark, tablePath, m, translatable,
        withRowAddr = true, withOldAddr = true, includeDeleted = true)
      .select(col(GraftTable.OldAddrCol),
        col(GraftTable.RowAddrCol).as("__new_addr"))
  }

  /** Deletion-sized exclusion set for deferred serving, in the index's OLD
    * address space: current DVs (as-is on non-translatable fragments,
    * backward through `__old_addr` on translatable rewrite outputs — the
    * two-long mapping scan runs only when such DVs actually exist) unioned
    * with the rewrites' materialized-DV sidecars (`srcDvFiles`). None when
    * nothing is excluded. Shared by the IVF-family transform and the HNSW
    * dead-marking; never corpus-sized. */
  private[operators] def deferExclusions(spark: SparkSession, tablePath: String,
                                         m: graft.format.GraftManifest,
                                         translatable: Seq[graft.format.FragmentMeta],
                                         dv: Option[DataFrame],
                                         addrCol: String): Option[DataFrame] = {
    val dvOld: Option[DataFrame] = dv.map { d =>
      if (translatable.isEmpty) d
      else {
        val (onNew, direct) =
          splitByFrag(spark, d, addrCol, translatable.map(_.id).toSet)
        if (onNew.isEmpty) direct
        else {
          val map = addrMapping(spark, tablePath, m, translatable)
          val back = map
            .join(onNew, map("__new_addr") === onNew(addrCol), "left_semi")
            .select(col(graft.format.GraftTable.OldAddrCol).as(addrCol))
          direct.unionByName(back)
        }
      }
    }
    val srcDvPaths = translatable.flatMap(_.srcDvFiles).distinct
    val t = new org.apache.hadoop.fs.Path(tablePath)
    val deadOld: Option[DataFrame] =
      if (srcDvPaths.isEmpty) None
      else Some(spark.read.parquet(
          srcDvPaths.map(p => new org.apache.hadoop.fs.Path(t, p).toString): _*)
        .select(col("addr").as(addrCol)).distinct())
    (dvOld, deadOld) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
  }

  /** Shared combined-search skeleton for EVERY index family (IVF_FLAT here;
    * [[IvfQuantized.searchCombined]] reuses it for PQ/SQ/RQ;
    * [[HnswIndex.searchCombined]] mirrors it with graph-specific routing):
    * builds the DV/liveness candidate transform, runs the family's indexed
    * search with it, and unions a flat search over fragments the index does
    * not cover. `runIndexed` receives the transform and must apply it to
    * its candidate set BEFORE any top-k cut.
    *
    * `fastSearch` (reference `fast_search`, `scanner.rs:1176-1193`): skip
    * the fresh-fragment flat leg entirely — results come from INDEXED data
    * only, trading freshness for latency (the DV/liveness transform still
    * applies, so deleted rows never resurface; identical results when
    * coverage is complete). */
  private[operators] def combined(spark: SparkSession, tablePath: String,
                                  indexPath: String, idCol: String, vecCol: String,
                                  query: Array[Float], k: Int, metric: String,
                                  prefilter: Option[Column],
                                  fastSearch: Boolean = false,
                                  distanceRange: Option[(Double, Double)] = None,
                                  /** override for the uncovered-fragment flat
                                    * leg (binary/hamming family — its query
                                    * is bytes, not floats) */
                                  flatFn: Option[DataFrame => DataFrame] = None)(
      runIndexed: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    import graft.format.GraftTable
    val m = GraftTable.loadManifest(spark, tablePath)
    val covered = coveredFragmentIds(spark, indexPath, m)
    val liveIds = m.fragments.map(_.id).toSet
    val coveredLive = covered.intersect(liveIds)
    val addrCol = GraftTable.RowAddrCol
    val t = new org.apache.hadoop.fs.Path(tablePath)
    val dv: Option[DataFrame] =
      if (m.dvFiles.isEmpty) None
      else Some(spark.read.parquet(
          m.dvFiles.map(p => new org.apache.hadoop.fs.Path(t, p).toString): _*)
        .select(col("addr").as(addrCol)).distinct())
    // retired coverage that can keep serving at its OLD addresses
    // (reference defer_index_remap / FragReuseIndex): candidates are never
    // touched — the deletion-sized exclusion set moves into the old address
    // space instead
    val (translatable, freshFrags) = deferServing(m, covered)
    val servableIds = coveredLive ++ translatable.flatMap(_.srcFragIds)
    val exclusions = deferExclusions(spark, tablePath, m, translatable,
      dv, addrCol)
    val transform: DataFrame => DataFrame = { cand =>
      require(cand.columns.contains(addrCol),
        s"index at $indexPath carries no $addrCol — rebuild with buildForTable")
      // liveness filter only when coverage is actually broken (or unknown —
      // legacy marker): the common fresh-index path adds no predicate
      val live = if (covered == coveredLive && translatable.isEmpty &&
          graft.index.ScalarIndex.readCoverage(spark, indexPath).isDefined) cand
        else liveFragmentFilter(spark, cand, servableIds)
      exclusions.map(e => live.join(e, Seq(addrCol), "left_anti"))
        .getOrElse(live)
    }
    val indexed = runIndexed(transform).select(col(idCol), col(Knn.DistanceCol))
    if (fastSearch || freshFrags.isEmpty) return indexed
    val freshDf = GraftTable.readFragments(spark, tablePath, m, freshFrags,
      withRowId = idCol == GraftTable.RowIdCol)
    val fresh = flatFn.map(f => f(freshDf)).getOrElse(
        if (isF16(freshDf, vecCol))
          Knn.flatSearchF16(freshDf, vecCol, query, k, metric,
            tieBreakers = Seq(col(idCol)),
            prefilter = prefilter, distanceRange = distanceRange)
        else
          Knn.flatSearch(freshDf, vecCol, query, k, metric,
            tieBreakers = Seq(col(idCol)),
            prefilter = prefilter, distanceRange = distanceRange))
      .select(col(idCol), col(Knn.DistanceCol))
    indexed.unionByName(fresh)
      .orderBy(col(Knn.DistanceCol), col(idCol))
      .limit(k)
  }
}

/** Nearest-centroid assignment: argmin over the embedded centroid table.
  * One O(nlist · dim) pass per row; centroids ride along in the serialized
  * expression (they are small). Ties resolve to the lowest pid —
  * deterministic across runs and executors. Codegen'd: the assignment
  * pass runs once per corpus row at build/optimize time, the float twin
  * of BinaryIvfAssign's popcount argmin.
  */
case class IvfAssign(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_assign requires array<float|double>, got ${t.catalogString}")
  }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // fail fast on dimension mismatch (mirrors RqEncode): a silent
    // min-length loop would assign garbage partitions and corrupt the index
    if (centroids.nonEmpty && n != centroids(0).length)
      throw new IllegalArgumentException(
        s"ivf_assign: vector has $n dims, centroids have ${centroids(0).length}")
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var acc = 0.0
      var i = 0
      val m = math.min(n, cent.length)
      while (i < m) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        val d = v - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val dd = ctx.freshName("dd")
      val cent = ctx.freshName("cent")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val getElem = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |if ($cents.length > 0 && $n != $cents[0].length) {
         |  throw new IllegalArgumentException(
         |    "ivf_assign: vector has " + $n + " dims, centroids have " +
         |    $cents[0].length);
         |}
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $cents.length; $c++) {
         |  float[] $cent = $cents[$c];
         |  double $acc = 0.0;
         |  int $m = java.lang.Math.min($n, $cent.length);
         |  for (int $i = 0; $i < $m; $i++) {
         |    double $dd = $getElem - $cent[$i];
         |    $acc += $dd * $dd;
         |  }
         |  if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
