package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable

/** r17 metadata hot-path optimizations: the latest-version hint (forward
  * probe instead of a directory listing per table op) and the FTS
  * optimize's O(delta) termstats (crash-safe through its staged commit).
  * Every test here is a STALENESS or CRASH case — the fast paths must
  * never serve an answer the slow paths would not. */
class MetaHotPathSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_meta_").toString + "/t"

  private def people = Seq(
    (1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0),
    (4L, "dave", 40.0), (5L, "erin", 50.0)
  ).toDF("id", "name", "score")

  private def manifestFile(t: String, v: Long): Path =
    new Path(s"$t/_manifests", f"$v%020d.json")

  test("latestVersion hint: an externally committed version is found by the probe") {
    val t = tmp()
    GraftTable.write(people, t, "overwrite")
    GraftTable.write(people.filter($"id" <= 2), t, "append")
    assert(GraftTable.latestVersion(spark, t) == Some(2L)) // hint seeded at 2
    // another PROCESS commits v3 (bypasses this JVM's hint bookkeeping):
    // simulate with a raw manifest-file copy
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs, manifestFile(t, 2L),
      fs, manifestFile(t, 3L), false, spark.sessionState.newHadoopConf())
    assert(GraftTable.latestVersion(spark, t) == Some(3L),
      "the forward probe must walk past a stale hint to the external commit")
  }

  test("latestVersion hint: drop-and-recreate at the same path falls back to the listing") {
    val t = tmp()
    GraftTable.write(people, t, "overwrite")
    GraftTable.write(people, t, "append")
    assert(GraftTable.latestVersion(spark, t) == Some(2L)) // hint = 2
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(t), true)
    GraftTable.write(people, t, "overwrite") // fresh lineage: only v1
    assert(GraftTable.latestVersion(spark, t) == Some(1L),
      "a vanished hinted version must invalidate the hint, not serve it")
  }

  test("latestVersion hint: a lineage hole behind the gap sentinel is never probed across") {
    val t = tmp()
    GraftTable.write(people, t, "overwrite")
    GraftTable.write(people, t, "append")
    assert(GraftTable.latestVersion(spark, t) == Some(2L)) // hint = 2
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(t).getFileSystem(conf)
    // another process commits v3..v5 and cleans up v3..v4 around a pin —
    // leaving a HOLE at v3 right above our stale hint. The cleanup
    // contract writes the gap sentinel before deleting.
    for (v <- Seq(4L, 5L))
      org.apache.hadoop.fs.FileUtil.copy(fs, manifestFile(t, 2L),
        fs, manifestFile(t, v), false, conf)
    fs.create(new Path(s"$t/_manifests", "_GRAFT_GAP"), true).close()
    assert(GraftTable.latestVersion(spark, t) == Some(5L),
      "with the sentinel present the probe must yield to the full listing")
  }

  test("latestVersion hint: a cleanup landing between the sentinel check and the walk never yields a non-head version") {
    val t = tmp()
    GraftTable.write(people, t, "overwrite")
    GraftTable.write(people, t, "append")
    assert(GraftTable.latestVersion(spark, t) == Some(2L)) // hint = 2
    GraftTable.tag(spark, t, "pin", 2L)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(t).getFileSystem(conf)
    // another process commits v3..v6 past our stale hint
    for (v <- 3L to 6L)
      org.apache.hadoop.fs.FileUtil.copy(fs, manifestFile(t, 2L),
        fs, manifestFile(t, v), false, conf)
    // ... and its cleanup runs after our probe saw no sentinel but before
    // it walks: keep the pinned v2 and the head v6, drop v1 and v3..v5 —
    // a hole right above the hint
    GraftTable.DmlTestHooks.beforeProbeWalk = _ => {
      GraftTable.DmlTestHooks.beforeProbeWalk = _ => ()
      GraftTable.cleanupOldVersions(spark, t, keepLast = 1,
        unverifiedGraceMillis = 0L, errorIfTaggedOldVersions = false)
    }
    try {
      val head = GraftTable.latestVersion(spark, t)
      assert(!fs.exists(manifestFile(t, 3L)), "the cleanup did not run mid-probe")
      assert(head == Some(6L), s"the probe stopped at the hole: $head")
    } finally GraftTable.DmlTestHooks.beforeProbeWalk = _ => ()
  }

  test("cleanup writes the gap sentinel exactly when it punches a hole") {
    val t = tmp()
    GraftTable.write(people, t, "overwrite")
    for (_ <- 1 to 3) GraftTable.write(people.filter($"id" <= 1), t, "append")
    // prefix-only cleanup: keep the latest two — no hole, no sentinel
    GraftTable.cleanupOldVersions(spark, t, keepLast = 2,
      unverifiedGraceMillis = 0L)
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val sentinel = new Path(s"$t/_manifests", "_GRAFT_GAP")
    assert(!fs.exists(sentinel), "prefix cleanup must not write the sentinel")
    assert(GraftTable.latestVersion(spark, t) == Some(4L))
    // now pin an old version with a tag and clean again: versions 3 is
    // dropped BELOW the kept tag (v... tag the oldest survivor) — hole
    GraftTable.write(people.filter($"id" <= 1), t, "append") // v5
    GraftTable.write(people.filter($"id" <= 1), t, "append") // v6
    GraftTable.tag(spark, t, "pin", 3L)
    GraftTable.cleanupOldVersions(spark, t, keepLast = 1,
      unverifiedGraceMillis = 0L, errorIfTaggedOldVersions = false)
    assert(fs.exists(sentinel),
      "a cleanup that drops versions above a pinned survivor must pin the sentinel")
    assert(GraftTable.versions(spark, t) == Seq(3L, 6L))
    assert(GraftTable.latestVersion(spark, t) == Some(6L))
  }

  test("fts optimize: healthy O(delta) termstats equal a from-scratch build") {
    import graft.operators.Fts
    val docs = (id: Range) => id.map(i =>
      (i.toLong, s"token$i shared common text piece ${i % 3}")).toDF("id", "text")
    val dir = Files.createTempDirectory("fts_delta_").toString
    Fts.buildIndex(docs(0 until 40), "id", "text", dir)
    Fts.optimizeIndex(docs(40 until 60), "id", "text", dir)
    val stage = new Path(dir, "_stage")
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(stage), "a completed optimize must leave no stage")
    val ref = Files.createTempDirectory("fts_ref_").toString
    Fts.buildIndex(docs(0 until 60), "id", "text", ref)
    def ts(p: String): Map[String, Double] =
      spark.read.parquet(s"$p/termstats").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ts(dir) == ts(ref),
      "merged stored+delta termstats must equal the from-scratch dictionary")
  }

  test("fts optimize: a crash inside the stats window self-heals via the marker") {
    import graft.operators.Fts
    val docs = (id: Range) => id.map(i =>
      (i.toLong, s"token$i shared common text piece ${i % 3}")).toDF("id", "text")
    val dir = Files.createTempDirectory("fts_crash_").toString
    Fts.buildIndex(docs(0 until 40), "id", "text", dir)
    // crash between the delta postings landing and the termstats swap
    // (steps: blockstats, docstats, postings, termstats, meta)
    graft.index.StagedSwap.TestHooks.at = pt =>
      if (pt == "after-step-2") throw new RuntimeException("boom")
    try intercept[Exception] {
      Fts.optimizeIndex(docs(40 until 60), "id", "text", dir)
    } finally graft.index.StagedSwap.TestHooks.at = _ => ()
    val seal = new Path(dir, "_stage/_SEALED")
    val fs = seal.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(seal),
      "a crashed optimize must leave its sealed stage for the next run")
    // the next batch finishes the sealed stage first — the 40..60 delta
    // lands with its stats, not lost and not counted twice
    Fts.optimizeIndex(docs(60 until 70), "id", "text", dir)
    assert(!fs.exists(seal.getParent))
    val ref = Files.createTempDirectory("fts_crashref_").toString
    Fts.buildIndex(docs(0 until 70), "id", "text", ref)
    def ts(p: String): Map[String, Double] =
      spark.read.parquet(s"$p/termstats").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ts(dir) == ts(ref),
      "the rolled-forward stats must cover both deltas exactly")
  }

  test("trigram_set matches the r16 higher-order pipeline bit for bit") {
    val cases = Seq(
      "", "a", "ab", "abc", "abcd", "aaaaaa", "hello vector world",
      "héllo", "ümläut straße",
      "a😀b😀c😀", // surrogate pairs
      "日本語のテキスト",
      "xy", "zz z",
      null) // NULL text: the empty array, like the pipeline's otherwise arm
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val old = when(length(col("s")) >= 3,
      array_distinct(transform(sequence(lit(1), length(col("s")) - 2),
        i => col("s").substr(i, lit(3)))))
      .otherwise(typedLit(Array.empty[String]))
    val neu = org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.index.TrigramSet(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("s"))))
    val rows = df.select(col("id"), old.as("o"), neu.as("n"))
      .orderBy(col("id")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"trigram mismatch for id ${r.getLong(0)}")
    }
  }
}
