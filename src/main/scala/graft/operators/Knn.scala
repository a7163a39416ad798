package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Flat (brute-force) K-nearest-neighbor search.
  *
  * Spark-native shape of the reference's flat KNN plan
  * (`rust/lance/src/dataset/scanner.rs:3336-3412`): distance column via a
  * codegen'd expression fused into the scan stage, then global top-k via
  * `ORDER BY _distance LIMIT k`, which Spark executes as
  * `TakeOrderedAndProject` — per-partition top-k heaps merged on the driver.
  * No shuffle of the full table: at 100 TB this moves only `k` rows per
  * partition, which is the correct distributed plan for brute-force search.
  *
  * Metrics: "l2" (euclidean), "cosine" (1 - cos sim), "dot" (ranked by
  * negative inner product, as the reference does for dot —
  * `rust/lance-linalg/src/distance.rs`).
  */
object Knn {

  val DistanceCol = "_distance"

  def distanceExpr(metric: String, vec: Column, query: Column): Column = metric match {
    case "l2" => l2Distance(vec, query)
    case "cosine" => cosineDistance(vec, query)
    case "dot" => negate(dotProduct(vec, query)) // rank: larger dot = nearer
    case m => throw new IllegalArgumentException(s"unknown metric: $m")
  }

  /** Append a `_distance` column (does not sort — composable with prefilters). */
  def withDistance(df: DataFrame, vecCol: String, query: Array[Float],
                   metric: String = "l2", outCol: String = DistanceCol): DataFrame =
    df.withColumn(outCol, distanceExpr(metric, col(vecCol), vectorLit(query)))

  /** Full flat search: distance + global top-k.
    *
    * @param tieBreakers deterministic ordering for equal distances (the
    *   reference sorts by `(_distance, _rowid)` — `scanner.rs:3385-3406`)
    * @param prefilter predicate applied BEFORE the top-k cut (reference
    *   prefiltered search, `scanner.rs:2254-2278` + `prefilter.rs`): the
    *   result is the true top-k of the filtered set — exactly k rows when k
    *   match — never a post-filtered, possibly short, top-k.
    */
  /** @param distanceRange (reference `distance_range`, `scanner.rs:1087`):
    *   keep only rows with `minDist <= _distance < maxDist`, applied BEFORE
    *   the top-k cut — the result is the true top-k of the in-range set. */
  def flatSearch(df: DataFrame, vecCol: String, query: Array[Float], k: Int,
                 metric: String = "l2", tieBreakers: Seq[Column] = Nil,
                 prefilter: Option[Column] = None,
                 distanceRange: Option[(Double, Double)] = None): DataFrame = {
    val d = withDistance(prefilter.map(df.filter).getOrElse(df), vecCol, query, metric)
    distanceRange.map { case (lo, hi) =>
        d.filter(col(DistanceCol) >= lit(lo) && col(DistanceCol) < lit(hi))
      }.getOrElse(d)
      .orderBy(col(DistanceCol) +: tieBreakers: _*)
      .limit(k)
  }

  /** Flat hamming search over PACKED BINARY vectors (reference Hamming as a
    * first-class DistanceType, `rust/lance-index/src/vector.rs:124`,
    * `rust/lance-linalg/src/distance/hamming.rs`): popcount(xor) distance
    * via the codegen'd [[graft.functions.HammingDistance]], then the same
    * TakeOrderedAndProject top-k as the float path. `_distance` is LONG
    * (bit count), sorted with the same (distance, tieBreakers) rule. */
  def flatSearchBinary(df: DataFrame, vecCol: String, query: Array[Byte], k: Int,
                       tieBreakers: Seq[Column] = Nil,
                       prefilter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val dist = ColumnBridge.column(graft.functions.HammingDistance(
      ColumnBridge.expression(col(vecCol)), ColumnBridge.expression(lit(query))))
    prefilter.map(df.filter).getOrElse(df)
      .withColumn(DistanceCol, dist)
      .orderBy(col(DistanceCol) +: tieBreakers: _*)
      .limit(k)
  }

  /** Flat search over PACKED f16 binary vectors (reference f16 storage —
    * `_cast_list_f16`, `rust/lance-datafusion/src/planner.rs:77-214` — with
    * f16 kernels from `rust/lance-linalg/`): the distance decodes THROUGH
    * the packed bytes (no per-row float array), then the same
    * TakeOrderedAndProject top-k. With `refineWith = Some(f32Col)` the
    * f16 ranking is an over-fetched candidate pass (k·refineFactor) and the
    * ORIGINAL f32 column re-ranks exactly — the reference's
    * refine_factor pattern, which recovers full-precision top-k from
    * half-precision storage. */
  def flatSearchF16(df: DataFrame, vecCol: String, query: Array[Float], k: Int,
                    metric: String = "l2", tieBreakers: Seq[Column] = Nil,
                    prefilter: Option[Column] = None,
                    refineWith: Option[String] = None,
                    refineFactor: Int = 4,
                    distanceRange: Option[(Double, Double)] = None): DataFrame = {
    import graft.functions.F16Functions._
    val q = f16Lit(query)
    flatSearchPacked(df, query, k, metric, tieBreakers, prefilter, refineWith,
      refineFactor, distanceRange, l2DistanceF16(col(vecCol), q),
      cosineDistanceF16(col(vecCol), q), dotProductF16(col(vecCol), q))
  }

  /** Flat search over PACKED bf16 vectors (reference
    * `lance.arrow.BFloat16Array` + bf16 kernels, `rust/lance-linalg/src/
    * distance/`): same contract as [[flatSearchF16]] — distance through the
    * packed bytes, optional exact f32 re-rank via `refineWith` — under the
    * bf16 codec (f32 exponent range, shift-only decode). The caller states
    * the codec by choosing this method: f16 and bf16 pack to
    * indistinguishable BINARY, and decoding one as the other returns a
    * confidently wrong ranking instead of an error. */
  def flatSearchBf16(df: DataFrame, vecCol: String, query: Array[Float], k: Int,
                     metric: String = "l2", tieBreakers: Seq[Column] = Nil,
                     prefilter: Option[Column] = None,
                     refineWith: Option[String] = None,
                     refineFactor: Int = 4,
                     distanceRange: Option[(Double, Double)] = None): DataFrame = {
    import graft.functions.Bf16Functions._
    val q = bf16Lit(query)
    flatSearchPacked(df, query, k, metric, tieBreakers, prefilter, refineWith,
      refineFactor, distanceRange, l2DistanceBf16(col(vecCol), q),
      cosineDistanceBf16(col(vecCol), q), dotProductBf16(col(vecCol), q))
  }

  /** The body [[flatSearchF16]] and [[flatSearchBf16]] share: the codec
    * supplies its three distance columns over the packed bytes. */
  private def flatSearchPacked(df: DataFrame, query: Array[Float], k: Int,
                               metric: String, tieBreakers: Seq[Column],
                               prefilter: Option[Column], refineWith: Option[String],
                               refineFactor: Int,
                               distanceRange: Option[(Double, Double)],
                               l2: Column, cosine: Column, dot: Column): DataFrame = {
    val dist = metric match {
      case "l2" => l2
      case "cosine" => cosine
      case "dot" => negate(dot)
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
    val base0 = prefilter.map(df.filter).getOrElse(df).withColumn(DistanceCol, dist)
    def rangeFilter(d: DataFrame) = distanceRange.map { case (lo, hi) =>
      d.filter(col(DistanceCol) >= lit(lo) && col(DistanceCol) < lit(hi))
    }.getOrElse(d)
    refineWith match {
      case None =>
        rangeFilter(base0).orderBy(col(DistanceCol) +: tieBreakers: _*).limit(k)
      case Some(f32Col) =>
        // candidate cut by the packed distance, exact re-rank by the f32
        // column; the candidate limit is a driver-merged top-(k·rf) — only
        // k·rf rows move, then one cheap re-sort of that driver-sized set.
        // distanceRange applies to the EXACT distances only (after the
        // re-rank): the returned `_distance` must honor the range, and a
        // pre-cut on the approximate distance would mis-classify rows near
        // the range bounds in both directions.
        rangeFilter(
          base0.orderBy(col(DistanceCol) +: tieBreakers: _*).limit(k * refineFactor)
            .withColumn(DistanceCol,
              distanceExpr(metric, col(f32Col), vectorLit(query))))
          .orderBy(col(DistanceCol) +: tieBreakers: _*).limit(k)
    }
  }

  /** Multivector (late-interaction / XTR-style) search (reference
    * `MultivectorScoringExec`, `io/exec/knn.rs:1133`; `multivec_ann`
    * `scanner.rs:3471-3552`): per-query-vector top-(k·overfetch) candidate
    * search, then per-row score aggregation (sum of per-query similarities),
    * then global top-k. One scan per query vector, candidate sets bounded by
    * overfetch — never a full cross join.
    *
    * Score per (row, queryVec) = 1 - cosineDistance (similarity); missing
    * (row, qv) pairs contribute 0, as in XTR.
    */
  /** @param packedF16 the vector column holds binary16-PACKED bytes
    *   ([[graft.functions.Float16]]) — EXPLICIT, not inferred from
    *   BinaryType: a binary column could equally be sign-bit packed
    *   (hamming family), and decoding those as halves would return a
    *   confidently wrong ranking instead of an error. */
  def multivectorSearch(df: DataFrame, idCol: String, vecCol: String,
                        queries: Seq[Array[Float]], k: Int,
                        overfetch: Int = 10,
                        packedF16: Boolean = false): DataFrame =
    multivectorSearchWith(idCol, queries, k, overfetch) { (q, kk) =>
      if (packedF16)
        flatSearchF16(df, vecCol, q, kk, "cosine", tieBreakers = Seq(col(idCol)))
      else
        flatSearch(df, vecCol, q, kk, "cosine", tieBreakers = Seq(col(idCol)))
    }

  /** Multivector over ANY ANN family (reference `multivec_ann`,
    * `scanner.rs:3471-3552`): the reference runs one index search per query
    * vector with overfetch and feeds the XTR aggregation — here
    * `searchOne(queryVec, kk)` supplies that per-vector candidate search
    * (typically a family's `searchCombined`, so delete-safety and the
    * fresh-fragment union come along for free) returning `(idCol,
    * _distance)` rows on the COSINE scale; scoring and the global top-k are
    * shared with [[multivectorSearch]] (sim = 1 − cosine distance, missing
    * (row, queryVec) pairs contribute 0). With full probes and a refine
    * covering the overfetch window, the result is hash-identical to the
    * flat multivector search. */
  def multivectorSearchWith(idCol: String, queries: Seq[Array[Float]], k: Int,
                            overfetch: Int = 10)(
      searchOne: (Array[Float], Int) => DataFrame): DataFrame = {
    require(queries.nonEmpty)
    val perVec = queries.map { q =>
      searchOne(q, k * overfetch)
        .select(col(idCol), (lit(1.0) - col(DistanceCol)).as("sim"))
    }
    perVec.reduce(_.unionByName(_))
      .groupBy(col(idCol))
      .agg(sum(col("sim")).as("_score"))
      .orderBy(col("_score").desc, col(idCol))
      .limit(k)
  }
}
