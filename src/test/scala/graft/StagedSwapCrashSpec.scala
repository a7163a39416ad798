package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable
import graft.index.{ScalarIndex, StagedSwap}
import graft.operators.{Fts, HnswIndex, IvfIndex}

/** The crash matrix of every index directory rewrite committed through
  * [[StagedSwap]]: IVF remap and legacy rewrite, HNSW remap, FTS optimize
  * (delta segments + termstats/meta + coverage), FTS segment merge, HNSW
  * delta merge and ngram compaction. Each rewrite is crashed at every
  * point its clean run passes — before the seal, after the seal, after
  * each roll-forward step — then its recovery point runs, then a retry of
  * the maintenance call, and the index must answer exactly as an uncrashed
  * run does. Where the recovery point is a reader (HNSW search, ngram
  * lookup) the matrix also checks that it finishes a sealed stage and
  * leaves an unsealed one alone. Every case starts from a copy of one
  * prepared template directory. */
class StagedSwapCrashSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** 500 seeded random 16-d vectors. */
  private lazy val embeddings: DataFrame = {
    val rnd = new scala.util.Random(42)
    (0L until 500L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("vec_id", "embedding")
  }
  private def queries: Seq[Array[Float]] =
    embeddings.filter($"vec_id".isin(3L, 250L)).orderBy("vec_id")
      .select("embedding").as[Seq[Float]].collect().map(_.toArray).toSeq

  private class Crash extends RuntimeException("injected crash")
  private def fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())

  /** The crash points a clean run of `op` passes, in order. */
  private def points(op: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    StagedSwap.TestHooks.at = p => seen.synchronized { seen += p }
    try op finally StagedSwap.TestHooks.at = _ => ()
    seen.toSeq
  }

  /** Run `op`, crashing it at its `n`-th crash point (1-based). */
  private def crashAt(n: Int)(op: => Unit): Unit = {
    var left = n
    StagedSwap.TestHooks.at = _ => { left -= 1; if (left == 0) throw new Crash }
    try intercept[Crash](op) finally StagedSwap.TestHooks.at = _ => ()
  }

  private def copyOf(template: String): String = {
    val dst = Files.createTempDirectory("staged_case_").toString + "/c"
    FileUtil.copy(fs, new Path(template), fs, new Path(dst), false,
      spark.sessionState.newHadoopConf())
    dst
  }

  /** One rewrite's matrix. `op` runs the rewrite on a case directory,
    * `recover` its recovery point, `retry` the maintenance call again.
    * `readerRoot`, for a reader-side recovery point, names the stage root
    * whose state the reader must have settled. */
  private def matrix[R](template: String, op: String => Unit, recover: String => Unit,
                        retry: String => Unit, result: String => R,
                        readerRoot: Option[String => String] = None): Seq[String] = {
    val clean = copyOf(template)
    val pts = points(op(clean))
    assert(pts.contains("before-seal") && pts.contains("after-seal") &&
      pts.exists(_.startsWith("after-step-")), s"no staged commit: $pts")
    val want = result(clean)
    for ((pt, n) <- pts.zipWithIndex) {
      val c = copyOf(template)
      crashAt(n + 1)(op(c))
      recover(c)
      readerRoot.foreach { root =>
        val stage = new Path(s"${root(c)}/_stage")
        if (pt == "before-seal")
          assert(fs.exists(stage), s"a reader threw away an unsealed stage (crash at $pt)")
        else
          assert(!fs.exists(stage), s"the reader did not finish the sealed stage (crash at $pt)")
      }
      retry(c)
      assert(result(c) == want, s"crash at $pt (#${n + 1} of ${pts.size})")
    }
    pts
  }

  // ------------------------------------------------------------ vectors

  private def annResult(search: Array[Float] => DataFrame): Seq[Seq[(Long, Double)]] =
    queries.map(q => search(q).select($"vec_id", $"_distance")
      .as[(Long, Double)].collect().toSeq)

  private def ivfResult(c: String): (Seq[Seq[(Long, Double)]], Long) =
    (annResult(q => IvfIndex.searchCombined(spark, s"$c/t", s"$c/ix", "vec_id",
        "embedding", q, 10, nprobes = 8)),
      spark.read.parquet(s"$c/ix/vectors").count())

  private def hnswResult(c: String): (Seq[Seq[(Long, Double)]], Seq[String]) =
    (annResult(q => HnswIndex.searchCombined(spark, s"$c/t", s"$c/ix", "vec_id",
        "embedding", q, k = 10, nprobes = 4, ef = 600, refineFactor = 100)),
      fs.listStatus(new Path(s"$c/ix")).map(_.getPath.getName)
        .filter(_.startsWith("graph")).sorted.toSeq)

  private def vectorTable(): String = {
    val root = Files.createTempDirectory("staged_tpl_").toString
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), s"$root/t", "overwrite")
    root
  }

  test("IVF remap after compaction: every crash point recovers to the uncrashed index") {
    val root = vectorTable()
    IvfIndex.buildForTable(spark, s"$root/t", "vec_id", "embedding", s"$root/ix", nlist = 8)
    GraftTable.compactFiles(spark, s"$root/t", targetRows = 2000)
    val opt = (c: String) =>
      { IvfIndex.optimizeForTable(spark, s"$c/t", "vec_id", "embedding", s"$c/ix"); () }
    val pts = matrix(root, opt, opt, opt, ivfResult)
    assert(pts.count(_.startsWith("after-step-")) == 2, pts)
  }

  test("IVF legacy rewrite: every crash point recovers to the uncrashed index") {
    val root = vectorTable()
    IvfIndex.buildForTable(spark, s"$root/t", "vec_id", "embedding", s"$root/ix", nlist = 8)
    // a version-marker-only index: its coverage cannot name dead fragments
    fs.delete(new Path(s"$root/ix/_GRAFT_INDEX_COVERAGE"), false)
    GraftTable.write(embeddings.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + 10000L), s"$root/t", "append")
    val opt = (c: String) =>
      { IvfIndex.optimizeForTable(spark, s"$c/t", "vec_id", "embedding", s"$c/ix"); () }
    matrix(root, opt, opt, opt, ivfResult)
  }

  test("HNSW remap after compaction: every crash point recovers to the uncrashed index") {
    val root = vectorTable()
    HnswIndex.buildForTable(spark, s"$root/t", "vec_id", "embedding", s"$root/ix", nlist = 4)
    GraftTable.compactFiles(spark, s"$root/t", targetRows = 2000)
    val opt = (c: String) =>
      { HnswIndex.optimizeForTable(spark, s"$c/t", "vec_id", "embedding", s"$c/ix"); () }
    matrix(root, opt, c => hnswResult(c), opt, hnswResult,
      readerRoot = Some(c => s"$c/ix"))
  }

  test("HNSW delta merge: search recovers a sealed merge; every crash point recovers") {
    val root = vectorTable()
    HnswIndex.buildForTable(spark, s"$root/t", "vec_id", "embedding", s"$root/ix", nlist = 4)
    for (i <- 1 to 2) {
      GraftTable.write(embeddings.filter($"vec_id" < 15)
        .withColumn("vec_id", $"vec_id" + 10000L * i), s"$root/t", "append")
      HnswIndex.optimizeForTable(spark, s"$root/t", "vec_id", "embedding", s"$root/ix",
        maxDeltas = 8)
    }
    val merge = (c: String) => {
      HnswIndex.optimizeForTable(spark, s"$c/t", "vec_id", "embedding", s"$c/ix",
        maxDeltas = 1); ()
    }
    val pts = matrix(root, merge, c => hnswResult(c), merge, hnswResult,
      readerRoot = Some(c => s"$c/ix"))
    assert(pts.count(_.startsWith("after-step-")) == 2, pts)
    val merged = copyOf(root)
    merge(merged)
    assert(hnswResult(merged)._2 == Seq("graph", "graph_delta_000"))
  }

  // ---------------------------------------------------------------- FTS

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"token$i shared common text piece ${i % 3} brown fox")).toDF("id", "text")

  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*))).as[String].collect().sorted.toSeq

  /** Everything a query can observe of an FTS index, order-free. */
  private def ftsState(ix: String) = {
    val terms = Seq("brown", "token41", "piece", "shared", "token7")
    (rows(spark.read.parquet(s"$ix/postings")),
      rows(spark.read.parquet(s"$ix/docstats")),
      spark.read.parquet(s"$ix/termstats").as[(String, Double)].collect().toMap,
      spark.read.parquet(s"$ix/meta").as[(Long, Double)].collect().toSeq,
      rows(spark.read.parquet(s"$ix/blockstats").groupBy("token", "block")
        .agg(max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))),
      Fts.matchQuery(spark, ix, terms, 10).as[(Long, Double)].collect().toSeq,
      Fts.matchQueryWand(spark, ix, terms, 10, minPostings = 0L)
        .as[(Long, Double)].collect().toSeq)
  }

  private def ftsTable(): String = {
    val root = Files.createTempDirectory("staged_fts_").toString
    GraftTable.write(docs(0 until 40), s"$root/t", "overwrite")
    Fts.buildForTable(spark, s"$root/t", "id", "text")
    root
  }

  private def ftsIx(c: String) = s"$c/t/_indices/fts_text"

  test("FTS optimizeForTable: each crash point plus a retry holds every doc exactly once") {
    val root = ftsTable()
    GraftTable.write(docs(40 until 60), s"$root/t", "append")
    val opt = (c: String) => { Fts.optimizeForTable(spark, s"$c/t", "id", "text"); () }
    val state = (c: String) =>
      (ftsState(ftsIx(c)), ScalarIndex.readCoverage(spark, ftsIx(c)).map(_.fragmentIds.toSet))
    val pts = matrix(root, opt, opt, opt, state)
    // blockstats, docstats, postings, termstats, meta, coverage
    assert(pts.count(_.startsWith("after-step-")) == 6, pts)
    // the uncrashed optimize equals a from-scratch build of the same table
    val clean = copyOf(root)
    opt(clean)
    val scratch = copyOf(root)
    fs.delete(new Path(ftsIx(scratch)), true)
    Fts.buildForTable(spark, s"$scratch/t", "id", "text")
    assert(ftsState(ftsIx(clean)) == ftsState(ftsIx(scratch)))
  }

  test("FTS segment merge: every crash point recovers at maintenance entry") {
    val root = ftsTable()
    for (i <- 0 until 3) {
      GraftTable.write(docs(40 + 5 * i until 45 + 5 * i), s"$root/t", "append")
      Fts.optimizeForTable(spark, s"$root/t", "id", "text")
    }
    def files(c: String): Seq[Int] = Seq("postings", "docstats", "blockstats").map(d =>
      fs.listStatus(new Path(s"${ftsIx(c)}/$d")).count(_.getPath.getName.endsWith(".parquet")))
    val merge = (c: String) => Fts.mergeDeltaSegments(spark, ftsIx(c), maxDeltaFiles = 1)
    val pts = matrix(root, merge,
      c => { Fts.optimizeForTable(spark, s"$c/t", "id", "text"); () },
      c => { Fts.optimizeForTable(spark, s"$c/t", "id", "text", maxDeltaFiles = 1); () },
      c => (ftsState(ftsIx(c)), files(c)))
    // retired deltas of three dirs, then their merged segments
    assert(pts.count(_.startsWith("after-step-")) > 6, pts)
    val merged = copyOf(root)
    merge(merged)
    assert(files(merged).sum < files(root).sum)
  }

  // -------------------------------------------------------------- ngram

  test("ngram compaction: the lookup recovers a sealed stage; every crash point recovers") {
    val root = Files.createTempDirectory("staged_ngram_").toString
    val rowsOf = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("id")
      .withColumn("payload", concat(lit("payload text walrus "), col("id")))
    GraftTable.write(rowsOf(0, 200), s"$root/t", "overwrite")
    ScalarIndex.buildNgram(spark, s"$root/t", "payload", s"$root/idx")
    for (i <- 0 until 3) {
      GraftTable.write(rowsOf(1000 + 50 * i, 1050 + 50 * i), s"$root/t", "append")
      ScalarIndex.optimizeNgram(spark, s"$root/t", "payload", s"$root/idx",
        maxSegmentFiles = 1000)
    }
    def lookup(c: String): Set[Long] =
      ScalarIndex.containsViaNgram(spark, s"$c/t", s"$c/idx", "payload", "walrus 10")
        .select("id").as[Long].collect().toSet
    val compact = (c: String) => {
      ScalarIndex.optimizeNgram(spark, s"$c/t", "payload", s"$c/idx", maxSegmentFiles = 6); ()
    }
    val pts = matrix(root, compact, c => lookup(c), compact,
      c => (lookup(c), new java.io.File(s"$c/idx/ngram_payload").listFiles()
        .count(_.getName.endsWith(".parquet"))),
      readerRoot = Some(c => s"$c/idx/ngram_payload"))
    assert(pts.count(_.startsWith("after-step-")) > 2, pts)
    assert(lookup(root) == Set(10L) ++ (100L to 109L) ++ (1000L until 1100L))
  }
}
