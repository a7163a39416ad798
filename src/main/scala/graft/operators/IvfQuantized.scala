package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** One IVF × quantizer skeleton: everything IVF_PQ ([[PqIndex]]), IVF_SQ
  * ([[SqIndex]]) and IVF_RQ ([[RqIndex]]) have in common. The reference
  * writes IVF partitioning once, generic over a `Quantizer`
  * (`rust/lance-index/src/vector/quantizer.rs`, `vector/ivf/`); so does
  * this trait.
  *
  *  - **layout**: one parquet dataset under `vectors/`, partitioned by
  *    [[IvfIndex.PidCol]] (probing IS directory pruning), holding the table
  *    rows plus the quantizer's code column(s); `centroids/` beside it; the
  *    quantizer's own model (codebook, bounds) next to those.
  *  - **build** ([[writeIndex]]): IVF assign + encode in one distributed
  *    pass, then `vectors/` and `centroids/`.
  *  - **maintenance** ([[optimizeForTable]]):
  *    [[IvfIndex.maintainPartitionedVectors]] with this quantizer's encoder
  *    under the EXISTING centroids and codec (O(delta); codec drift is the
  *    trade the reference makes).
  *  - **search** ([[search]]): two column-pruned passes over the probed
  *    partitions. Pass 1 ranks (id, codes) by the quantizer's batched score
  *    column and keeps the k·refineFactor best by (score, id); pass 2
  *    re-reads the float vectors of those candidates only and re-ranks
  *    exactly through [[Knn.flatSearch]] (the reference's `refine_factor`
  *    step). Prefilter and candidate transform apply BEFORE pass 1, so
  *    filtered-out or dead rows never occupy candidate slots.
  *  - **serving** ([[serveLocal]]): the same two passes driver-side. The
  *    probed partitions' codes live in a [[ServeCache]] budgeted by
  *    [[ServeCodesBudgetKey]], and the partitions a call misses load in
  *    ONE scan that also fills the refine vectors; a driver scorer per
  *    probed partition reproduces the batched column's arithmetic bit for
  *    bit; the exact refine reads [[IvfIndex]]'s shared float LRU. Ids
  *    AND distances equal [[search]] at equal refineFactor, and a warm
  *    query runs no Spark job. Freshness and budget refusal follow the
  *    contract of every serve path ([[ServeCache]]).
  *
  * Cosine indexes store NORMALIZED vectors: on the unit sphere the l2²
  * estimators are cosine-rank-equivalent, and the exact refine computes
  * true cosine (magnitude-invariant).
  *
  * A quantizer supplies only: its index type, code column(s), codec load,
  * encode columns, batched score column and driver scorer.
  */
trait IvfQuantized {
  import IvfQuantized.CodeScorer

  /** Quantizer state beside the IVF model (codebook, bounds, ...). */
  private[operators] type Codec

  /** Manifest index type, e.g. "IVF_PQ". */
  protected def indexType: String

  /** Conf key budgeting the serve code cache in resident partitions. */
  def ServeCodesBudgetKey: String

  /** Columns pass 1 reads: the codes (binary), then optionally one float
    * the scorer receives as its `norm` (0 when absent). */
  protected def codeCols: Seq[String]

  private[operators] def loadCodec(spark: SparkSession, indexPath: String,
                                   meta: IvfIndex.VectorMeta): Codec

  /** Add the code column(s) to rows carrying the float, metric-adjusted
    * vector and [[IvfIndex.PidCol]]. */
  protected def encode(withPid: DataFrame, vecCol: String, ivf: IvfIndex.Model,
                       codec: Codec): DataFrame

  /** Pass-1 estimated distance over [[codeCols]] (and the pid) for a
    * query already metric-adjusted, restricted to `probes`. */
  protected def scoreColumn(ivf: IvfIndex.Model, codec: Codec, q: Array[Float],
                            probes: Seq[Int]): Column

  /** Driver twin of [[scoreColumn]] for one probed partition: built once
    * per partition, called once per resident row (HNSW's quantized beam
    * scores its graph nodes with it too). */
  private[operators] def scorer(ivf: IvfIndex.Model, codec: Codec, q: Array[Float],
                                pid: Int): CodeScorer

  // ------------------------------------------------------------ build

  /** Metric-adjusted float view of the build input (packed f16 decodes
    * ONCE at the boundary, see [[IvfIndex.floatView]]) and its IVF model:
    * trained, or a precomputed one checked for dimension. */
  protected final def prepare(df0: DataFrame, idCol: String, vecCol: String,
                              nlist: Int, metric: String,
                              preIvf: Option[IvfIndex.Model] = None)
      : (DataFrame, IvfIndex.Model) = {
    val df = IvfIndex.forMetric(IvfIndex.floatView(df0, vecCol), vecCol, metric)
    val ivf = preIvf match {
      case Some(pm) => IvfIndex.requireDim(pm, df, vecCol); pm
      case None => IvfIndex.train(df, idCol, vecCol, nlist)
    }
    (df, ivf)
  }

  /** Rows with their nearest-centroid pid. */
  protected final def assign(df: DataFrame, vecCol: String,
                             ivf: IvfIndex.Model): DataFrame =
    df.withColumn(IvfIndex.PidCol,
      ColumnBridge.column(IvfAssign(ColumnBridge.expression(col(vecCol)), ivf.centroids)))

  /** Encode the assigned rows and write `vectors/` and `centroids/`. Each
    * quantizer's `build` publishes a new [[IndexIdentity]] once its codec
    * is written too. */
  protected final def writeIndex(withPid: DataFrame, vecCol: String, indexPath: String,
                                 ivf: IvfIndex.Model, codec: Codec): Unit = {
    graft.index.StagedSwap.discard(withPid.sparkSession, indexPath) // a full build rewrites it all
    encode(withPid, vecCol, ivf, codec).write.mode(SaveMode.Overwrite)
      .partitionBy(IvfIndex.PidCol).parquet(s"$indexPath/vectors")
    IvfIndex.writeCentroids(withPid.sparkSession, indexPath, ivf)
  }

  /** Build over a graft table snapshot (rows carry `_rowaddr`), then record
    * the coverage marker with `params(result)` — the input of
    * [[optimizeForTable]]'s delta maintenance and of [[searchCombined]]. */
  protected final def buildOverTable[T](spark: SparkSession, tablePath: String,
                                        idCol: String, vecCol: String,
                                        indexPath: String)
                                       (build: DataFrame => T)
                                       (params: T => Map[String, String]): T = {
    import graft.format.GraftTable
    val mft = GraftTable.loadManifest(spark, tablePath)
    val out = build(GraftTable.read(spark, tablePath, withRowAddr = true,
      withRowId = idCol == GraftTable.RowIdCol))
    graft.index.ScalarIndex.writeCoverageAndCommit(spark, tablePath, indexPath,
      indexType, vecCol, mft, Map("idCol" -> idCol) ++ params(out))
    out
  }

  /** Incremental maintenance (reference `optimize_indices`): encode ONLY
    * the fragments the index does not cover yet, with the EXISTING
    * centroids and codec, in the space the index was built in; remap after
    * compaction and the legacy filtered rewrite are
    * [[IvfIndex.maintainPartitionedVectors]]'s. Publishes a new
    * [[IndexIdentity]] before it returns. Returns newly indexed rows. */
  def optimizeForTable(spark: SparkSession, tablePath: String, idCol: String,
                       vecCol: String, indexPath: String): Long = {
    val ix = load(spark, indexPath)
    try IvfIndex.maintainPartitionedVectors(spark, tablePath, idCol, vecCol, indexPath,
      indexType, df0 => encode(assign(
        IvfIndex.forMetric(IvfIndex.floatView(df0, vecCol), vecCol, ix.metric),
        vecCol, ix.ivf), vecCol, ix.ivf, ix.codec))
    finally IndexIdentity.publish(spark, indexPath)
  }

  // ------------------------------------------------------------ search

  /** An index's IVF model, build metric and codec. */
  protected final class Loaded(val ivf: IvfIndex.Model, val metric: String, val codec: Codec)

  private def load(spark: SparkSession, indexPath: String): Loaded =
    loadUnder(spark, indexPath, IndexIdentity.read(spark, indexPath))

  private def loadUnder(spark: SparkSession, indexPath: String, identity: String): Loaded = {
    val meta = IvfIndex.vectorMeta(spark, indexPath)
    new Loaded(IvfIndex.modelUnder(spark, indexPath, identity), meta.metric,
      loadCodec(spark, indexPath, meta))
  }

  /** Metric-adjusted query and the probed partitions. */
  private def probe(ix: Loaded, query: Array[Float], nprobes: Int,
                    what: String): (Array[Float], Seq[Int]) = {
    val d = ix.ivf.centroids.headOption.map(_.length).getOrElse(query.length)
    require(query.length == d,
      s"${indexType.stripPrefix("IVF_").toLowerCase} $what: query dimension " +
        s"${query.length} != index dimension $d")
    val q = if (ix.metric == "cosine") IvfIndex.normalize(query) else query
    (q, ix.ivf.rank(q).take(math.min(nprobes, ix.ivf.nlist)))
  }

  /** ANN search: estimated-distance candidate pass + exact refine pass,
    * both restricted to the probed partitions and column-pruned.
    *
    * @param prefilter predicate over the index dataset's columns, applied
    *   to the candidates BEFORE pass 1 (reference prefiltered ANN,
    *   `prefilter.rs`): the result is the true top-k of the filtered set.
    * @param candidateTransform plan-level hook applied before pass 1
    *   ([[searchCombined]]'s DV/liveness filter).
    */
  def search(spark: SparkSession, indexPath: String, idCol: String, vecCol: String,
             query: Array[Float], kNeighbors: Int, nprobes: Int,
             refineFactor: Int = 10,
             prefilter: Option[Column] = None,
             candidateTransform: DataFrame => DataFrame = identity,
             distanceRange: Option[(Double, Double)] = None): DataFrame =
    searchLoaded(spark, load(spark, indexPath), indexPath, idCol, vecCol, query,
      kNeighbors, nprobes, refineFactor, prefilter, candidateTransform, distanceRange)

  private def searchLoaded(spark: SparkSession, ix: Loaded, indexPath: String,
                           idCol: String, vecCol: String, query: Array[Float],
                           kNeighbors: Int, nprobes: Int, refineFactor: Int,
                           prefilter: Option[Column],
                           candidateTransform: DataFrame => DataFrame,
                           distanceRange: Option[(Double, Double)]): DataFrame = {
    val (q, probes) = probe(ix, query, nprobes, "search")
    val part0 = spark.read.parquet(s"$indexPath/vectors")
      .filter(col(IvfIndex.PidCol).isin(probes: _*))
    val part = candidateTransform(prefilter.map(part0.filter).getOrElse(part0))
    // pass 1: (id, codes, pid) only — estimated-distance ranking
    val cands = part.select((idCol +: codeCols :+ IvfIndex.PidCol).map(col): _*)
      .withColumn("_score", scoreColumn(ix.ivf, ix.codec, q, probes))
      .orderBy(col("_score"), col(idCol))
      .limit(kNeighbors * refineFactor)
      .select(col(idCol))
    // pass 2: exact distances for the candidates only
    Knn.flatSearch(
      part.join(cands, Seq(idCol), "left_semi"),
      vecCol, q, kNeighbors, ix.metric, tieBreakers = Seq(col(idCol)),
      distanceRange = distanceRange)
      .drop(IvfIndex.PidCol +: codeCols: _*)
  }

  /** Delete/compaction-safe combined search (same contract as
    * [[IvfIndex.searchCombined]], through [[IvfIndex.combined]]): DV and
    * fragment liveness applied to the probed candidates before pass 1,
    * fresh fragments flat-searched and unioned, under the index's stored
    * metric. */
  def searchCombined(spark: SparkSession, tablePath: String, indexPath: String,
                     idCol: String, vecCol: String, query: Array[Float],
                     k: Int, nprobes: Int, refineFactor: Int = 10,
                     prefilter: Option[Column] = None,
                     fastSearch: Boolean = false,
                     distanceRange: Option[(Double, Double)] = None): DataFrame = {
    val ix = load(spark, indexPath)
    IvfIndex.combined(spark, tablePath, indexPath, idCol, vecCol, query, k,
      ix.metric, prefilter, fastSearch, distanceRange)(
      transform => searchLoaded(spark, ix, indexPath, idCol, vecCol, query, k,
        nprobes, refineFactor, prefilter, transform, distanceRange))
  }

  // ------------------------------------------------------------ serving

  private type Codes = Array[(Long, Array[Byte], Float)]
  private lazy val serveCodes = new ServeCache[Int, Codes](Some(ServeCodesBudgetKey), 256)
  def currentServeCapacity: Int = serveCodes.currentCapacity
  def serveHits: java.util.concurrent.atomic.AtomicLong = serveCodes.hits
  def serveMisses: java.util.concurrent.atomic.AtomicLong = serveCodes.misses
  def serveCacheSize: Int = serveCodes.size
  private lazy val indexStates = new ServeCache[Unit, Loaded](None, ServeCache.IndexStates)

  /** Release an index's driver-resident serve state. The refine vectors
    * live in [[IvfIndex]]'s shared serve LRU and retire through its own
    * unpersist, so both caches retire together. */
  def serveUnpersist(indexPath: String): Unit = {
    indexStates.purge(indexPath)
    serveCodes.purge(indexPath)
    IvfIndex.serveUnpersist(indexPath)
  }

  /** Resident codes (+ norm) of `pids`, in request order. The pids that
    * miss load in ONE scan that reads their refine vectors too: those go
    * into `fetched`, for [[IvfIndex.servePartitions]] to take instead of
    * scanning again. */
  private def serveCodesOf(spark: SparkSession, indexPath: String, identity: String,
                           idCol: String, vecCol: String, pids: Seq[Int],
                           fetched: collection.mutable.Map[Int, IvfIndex.FloatRows])
      : Seq[Codes] =
    serveCodes.getOrLoadAll(spark, indexPath, identity, pids) { miss =>
      val withNorm = codeCols.size > 1
      val rows = spark.read.parquet(s"$indexPath/vectors")
        .filter(col(IvfIndex.PidCol).isin(miss: _*))
        .select((Seq(col(IvfIndex.PidCol), col(idCol).cast("long"), col(vecCol)) ++
          codeCols.map(col)): _*).collect()
      miss.zip(ServeCache.splitBy(miss, rows)(_.getInt(0))).map { case (pid, rs) =>
        fetched(pid) = rs.map(r => (r.getLong(1), r.getSeq[Float](2).toArray))
        rs.map(r => (r.getLong(1), r.getAs[Array[Byte]](3),
          if (withNorm) r.getFloat(4) else 0f))
      }
    }

  /** Preload the serve caches (codes + refine vectors; all partitions by
    * default) in one scan; returns the resident code-row count. Both
    * budgets are checked before anything is read. */
  def serveWarm(spark: SparkSession, indexPath: String, idCol: String,
                vecCol: String, pids: Seq[Int] = Nil): Long = {
    val (ident, st) = indexStates.serve(spark, indexPath, ())(loadUnder(spark, indexPath, _))
    val targets = if (pids.nonEmpty) pids else 0 until st.ivf.nlist
    serveCodes.requireFits(spark, targets.size, "code-cache")
    IvfIndex.serveRows.requireFits(spark, targets.size, "serve")
    val fetched = collection.mutable.Map.empty[Int, IvfIndex.FloatRows]
    val n = serveCodesOf(spark, indexPath, ident, idCol, vecCol, targets, fetched)
      .map(_.length.toLong).sum
    IvfIndex.servePartitions(spark, indexPath, ident, idCol, vecCol, targets, fetched)
    n
  }

  /** Answer one query driver-locally: centroid ranking, estimated distances
    * over the probed partitions' resident codes, exact refine of the global
    * top k·refineFactor against resident float vectors. Ids AND distances
    * are bit-identical to [[search]] at equal refineFactor: same estimator
    * arithmetic, same (score, id) candidate cut, same exact kernels
    * ([[IvfIndex.serveDist]]) and (distance, id) tie-break. `allowed` is
    * the id prefilter, applied BEFORE the candidate cut like the batched
    * `prefilter`. Cold probed partitions load codes and refine vectors in
    * one scan. */
  def serveLocal(spark: SparkSession, indexPath: String, idCol: String,
                 vecCol: String, query: Array[Float], k: Int, nprobes: Int,
                 refineFactor: Int = 10,
                 allowed: Option[Long => Boolean] = None): Seq[(Long, Double)] = {
    val (ident, st) = indexStates.serve(spark, indexPath, ())(loadUnder(spark, indexPath, _))
    val (q, probes) = probe(st, query, nprobes, "serve")
    val keep = allowed.getOrElse((_: Long) => true)
    val fetched = collection.mutable.Map.empty[Int, IvfIndex.FloatRows]
    val resident = serveCodesOf(spark, indexPath, ident, idCol, vecCol, probes, fetched)
    // pass 1: estimated distances over resident codes
    val cands = probes.iterator.zip(resident.iterator).flatMap { case (pid, rows) =>
      val score = scorer(st.ivf, st.codec, q, pid)
      rows.iterator
        .collect { case (id, codes, norm) if keep(id) => (id, score(codes, norm), pid) }
    }.toSeq.sortBy { case (id, d, _) => (d, id) }.take(k * refineFactor)
    // pass 2: exact refine from the shared float-vector serve LRU (stored
    // vectors are normalized under cosine, like the batched pass 2)
    val byPid = cands.groupBy(_._3).toSeq
    val vecs = IvfIndex.servePartitions(spark, indexPath, ident, idCol, vecCol,
      byPid.map(_._1), fetched)
    byPid.iterator.zip(vecs.iterator).flatMap { case ((_, cs), part) =>
      val lookup = new java.util.HashMap[Long, Array[Float]](part.rows.length * 2)
      part.rows.foreach { case (id, v) => lookup.put(id, v) }
      cs.iterator.flatMap { case (id, _, _) =>
        Option(lookup.get(id)).map(v => (id, IvfIndex.serveDist(st.metric, q, v)))
      }
    }.toSeq.sortBy { case (id, d) => (d, id) }.take(k)
  }
}

object IvfQuantized {
  /** Estimated distance of one resident code row (`norm` is the float
    * column after the codes, 0 when the quantizer stores none). A SAM
    * trait rather than a Function2, whose Float argument would box on
    * every row; serializable, since HNSW's batched beam ships it to tasks. */
  trait CodeScorer extends Serializable {
    def apply(codes: Array[Byte], norm: Float): Double
  }
}
