package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.format.{FragmentMeta, GraftManifest, GraftTable}

/** Post-compaction index maintenance WITHOUT re-encoding.
  *
  * Compaction and layout clustering rewrite rows into new fragments but
  * preserve row content and identity, so an index keyed by a stable id only
  * needs its stored `_rowaddr` values moved to the rows' new addresses — no
  * quantizer retrain, no code re-encode, no graph rebuild. The reference
  * applies exactly this: compaction produces a row-id remap that the index
  * optimizer applies to every index instead of rebuilding
  * (`rust/lance/src/dataset/optimize.rs` — `remap_indices`;
  * `rust/lance-index/src/optimize.rs`).
  *
  * Coverage is fragment-granular (the manifest `fragment_bitmap` role), so a
  * rewrite output joins the covered set iff EVERY live row in it came from
  * the index — serving the index for a partially-indexed fragment would miss
  * its unindexed rows. Outputs that mix indexed and unindexed rows stay
  * uncovered: their index rows are dropped (vector datasets) or dead-masked
  * (HNSW keeps them as routing-only nodes so the adjacency stays navigable)
  * and the ordinary fresh-fragment optimize path re-indexes those fragments
  * wholesale. [[GraftTable.compactFiles]] bins rewrite candidates by
  * coverage signature precisely so the common maintenance loop never mixes.
  *
  * Everything here is one filter + one join sized by the REWRITTEN rows (the
  * compaction delta), never by the corpus: at 100 TB an `optimize_index`
  * after routine compaction costs O(delta) IO instead of an O(table)
  * re-encode or an O(table · log) graph rebuild. */
object IndexRemap {
  private val A = GraftTable.RowAddrCol
  private def fragOf(c: Column): Column = shiftrightunsigned(c, 32)

  /** Filter `df` to rows whose `_rowaddr` fragment is in `ids` — inlined
    * `isin` for small sets, broadcast semi-join past that (same threshold
    * as [[IvfIndex.liveFragmentFilter]]). */
  private[operators] def fragIn(spark: SparkSession, df: DataFrame,
                                ids: Set[Long], c: Column): DataFrame = {
    if (ids.isEmpty) return df.filter(lit(false))
    if (ids.size <= 1000) df.filter(fragOf(c).isin(ids.toSeq: _*))
    else {
      import spark.implicits._
      df.join(broadcast(ids.toSeq.toDF("__ff")), fragOf(c) === col("__ff"), "left_semi")
    }
  }

  /** Live (DV-subtracted) row counts per fragment. */
  private def liveCounts(spark: SparkSession, tablePath: String,
                         m: GraftManifest, frags: Seq[FragmentMeta]): Map[Long, Long] = {
    val base = frags.map(f => f.id -> f.rows).toMap
    if (m.dvFiles.isEmpty) base
    else {
      val t = new org.apache.hadoop.fs.Path(tablePath)
      val del = spark.read.parquet(m.dvFiles.map(p =>
          new org.apache.hadoop.fs.Path(t, p).toString): _*)
        .select(fragOf(col("addr")).as("f")).groupBy(col("f")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      base.map { case (k, v) => k -> (v - del.getOrElse(k, 0L)) }
    }
  }

  /** The remap decision for one index: which uncovered live fragments are
    * FULLY composed of the index's stale rows (joined by id), and the
    * id → new-address map restricted to those fragments.
    *
    * `newAddrs` is persisted (it feeds both the per-fragment match counts
    * and the dataset rewrite join); callers must [[RemapPlan.done]] it. */
  private[operators] case class RemapPlan(
      coveredLive: Set[Long],
      deadIds: Set[Long],
      fullyMatched: Set[Long],
      /** (__rid, __new_addr) for stale index rows whose row now lives in a
        * fully-matched fragment. */
      newAddrs: DataFrame) {
    def newCovered: Set[Long] = coveredLive ++ fullyMatched
    def done(): Unit = newAddrs.unpersist(blocking = false)
  }

  /** Build the [[RemapPlan]] for an index covering `covered` whose stale
    * rows carry the ids in `staleIds` (a one-column `__rid` frame). */
  private[operators] def plan(spark: SparkSession, tablePath: String,
                              m: GraftManifest, covered: Set[Long],
                              staleIds: DataFrame, idCol: String): RemapPlan = {
    val liveIds = m.fragments.map(_.id).toSet
    val coveredLive = covered.intersect(liveIds)
    val deadIds = covered.diff(liveIds)
    val targets = m.fragments.filterNot(f => covered.contains(f.id))
    if (deadIds.isEmpty || targets.isEmpty) {
      val empty = spark.range(0)
        .select(col("id").as("__rid"), col("id").as("__new_addr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      return RemapPlan(coveredLive, deadIds, Set.empty, empty)
    }
    // live (id, new addr) of every fragment the index does not cover — the
    // possible rewrite outputs plus never-covered appends (which simply
    // won't match). One column-pruned scan of the uncovered fragments.
    val needRid = idCol == GraftTable.RowIdCol
    val tRows = GraftTable.readFragments(spark, tablePath, m, targets,
        withRowAddr = true, withRowId = needRid)
      .select(col(idCol).as("__rid"), col(A).as("__new_addr"))
    val matched = tRows.join(staleIds.select(col("__rid")).distinct(), Seq("__rid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val matchedByFrag = matched
      .groupBy(fragOf(col("__new_addr")).as("__f")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val live = liveCounts(spark, tablePath, m, targets)
    // a target fragment is claimable iff every one of its live rows matched
    // a stale index row (ids are unique per the build contract, so count
    // equality on an inner join is set equality)
    val fullyMatched = targets.map(_.id)
      .filter(f => live.getOrElse(f, -1L) > 0L &&
        matchedByFrag.getOrElse(f, 0L) == live(f)).toSet
    val fmAddrs =
      if (fullyMatched == matchedByFrag.keySet) matched
      else fragIn(spark, matched, fullyMatched, col("__new_addr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    if (!(fmAddrs eq matched)) matched.unpersist(blocking = false)
    RemapPlan(coveredLive, deadIds, fullyMatched, fmAddrs)
  }

  /** Rewrite an IVF-family `vectors` dataset after compaction: rows under
    * dead fragments move to their rows' new addresses when the whole target
    * fragment is index-composed, and are dropped otherwise (the caller's
    * fresh-fragment path re-encodes those fragments wholesale, codes and
    * assignments of everything else untouched). The rewritten dataset goes
    * to `out` (the caller's stage). Returns the fragment set it covers; the
    * caller appends anything still uncovered and records coverage. */
  private[operators] def remapVectors(spark: SparkSession, tablePath: String,
                                      m: GraftManifest, indexPath: String,
                                      idCol: String, out: String): Set[Long] = {
    val covered = graft.index.ScalarIndex.readCoverage(spark, indexPath)
      .map(_.fragmentIds.toSet)
      .getOrElse(throw new IllegalStateException(
        s"$indexPath has no coverage marker — remap needs named coverage"))
    val liveIds = m.fragments.map(_.id).toSet
    if (covered.subsetOf(liveIds)) return covered
    val dir = s"$indexPath/vectors"
    val rows = spark.read.parquet(dir)
    require(rows.columns.contains(A),
      s"$dir carries no $A — rebuild with buildForTable")
    val deadIds = covered.diff(liveIds)
    val stale = fragIn(spark, rows, deadIds, col(A))
    val p = plan(spark, tablePath, m, covered,
      stale.select(col(idCol).as("__rid")), idCol)
    try {
      val keep = fragIn(spark, rows, p.coveredLive, col(A))
      val remapped = stale.drop(A)
        .join(p.newAddrs, col(idCol) === col("__rid"))
        .withColumn(A, col("__new_addr"))
        .drop("__rid", "__new_addr")
        .select(rows.columns.map(col).toSeq: _*)
      keep.unionByName(remapped)
        .write.mode(SaveMode.Overwrite).partitionBy(IvfIndex.PidCol).parquet(out)
      p.newCovered
    } finally p.done()
  }

  /** FTS postings are id-keyed (no addresses), so an index whose docs all
    * survived compaction into fully-matched fragments needs NO data rewrite
    * at all — the postings, doc stats, and BM25 block stats stay
    * bit-identical and only the coverage marker moves. Returns the new
    * covered set in that case; None when docs were deleted or scattered
    * into mixed fragments (stats would be stale — the caller rebuilds, as
    * before). */
  def remapFtsCoverage(spark: SparkSession, tablePath: String, m: GraftManifest,
                       indexPath: String, idCol: String,
                       indexDocIds: DataFrame, nDocs: Long): Option[Set[Long]] = {
    val covered = graft.index.ScalarIndex.readCoverage(spark, indexPath)
      .map(_.fragmentIds.toSet).getOrElse(return None)
    val liveIds = m.fragments.map(_.id).toSet
    if (covered.subsetOf(liveIds)) return Some(covered)
    val p = plan(spark, tablePath, m, covered,
      indexDocIds.select(col("__rid")), idCol)
    try {
      val matchedIntoFm = p.newAddrs.count()
      val liveCovered = liveCounts(spark, tablePath, m,
        m.fragments.filter(f => p.coveredLive.contains(f.id))).values.sum
      // every indexed doc accounted for: still live under old coverage, or
      // moved whole into a claimable fragment — nothing deleted, nothing
      // mixed, so the index data is exact as-is
      if (liveCovered + matchedIntoFm == nDocs) Some(p.newCovered) else None
    } finally p.done()
  }
}
