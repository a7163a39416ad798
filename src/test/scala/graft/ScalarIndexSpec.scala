package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable
import graft.index.{ScalarIndex, StagedSwap}

class ScalarIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def setup(): (String, String) = {
    val base = Files.createTempDirectory("graft_si_").toString
    val t = s"$base/t"
    val idx = s"$base/idx"
    val df = spark.range(0, 200).toDF("id")
      .withColumn("category", concat(lit("cat-"), pmod(col("id"), lit(7))))
      .withColumn("payload", concat(lit("payload text number "), col("id")))
    GraftTable.write(df, t, "overwrite")
    (t, idx)
  }

  test("btree lookup: equals / range / isin masks match full-scan truth") {
    val (t, idx) = setup()
    ScalarIndex.buildBtree(spark, t, "id", idx)
    val base = GraftTable.read(spark, t, withRowAddr = true)

    def truth(c: org.apache.spark.sql.Column): Set[Long] =
      base.filter(c).select("_rowaddr").as[Long].collect().toSet

    val eq = ScalarIndex.lookupBtree(spark, idx, "id", _ === 42L)
      .as[Long].collect().toSet
    assert(eq == truth($"id" === 42L) && eq.size == 1)

    val range = ScalarIndex.lookupBtree(spark, idx, "id", _.between(50, 60))
      .as[Long].collect().toSet
    assert(range == truth($"id".between(50, 60)) && range.size == 11)

    val isin = ScalarIndex.lookupBtree(spark, idx, "id", _.isin(1L, 5L, 199L))
      .as[Long].collect().toSet
    assert(isin == truth($"id".isin(1L, 5L, 199L)))
  }

  test("btree mask applied via semi-join returns the right rows") {
    val (t, idx) = setup()
    ScalarIndex.buildBtree(spark, t, "category", idx)
    val mask = ScalarIndex.lookupBtree(spark, idx, "category", _ === "cat-3")
    val rows = GraftTable.read(spark, t, withRowAddr = true)
      .join(mask, Seq("_rowaddr"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(rows == (0L until 200L).filter(_ % 7 == 3).toSet)
  }

  test("ngram index accelerates contains with exact results") {
    val (t, idx) = setup()
    ScalarIndex.buildNgram(spark, t, "payload", idx)
    val got = ScalarIndex.containsViaNgram(spark, t, idx, "payload", "number 13")
      .select("id").as[Long].collect().toSet
    val truth = GraftTable.read(spark, t)
      .filter(lower($"payload").contains("number 13"))
      .select("id").as[Long].collect().toSet
    assert(got == truth && got.contains(13L) && got.contains(130L))
  }

  test("ngram build writes a fixed file count and incremental optimize is O(delta)") {
    val (t, idx) = setup()
    ScalarIndex.buildNgram(spark, t, "payload", idx)
    // sorted-postings layout: a handful of plain parquet files, NOT a
    // directory per distinct trigram
    val dir = new java.io.File(s"$idx/ngram_payload")
    assert(dir.listFiles().forall(!_.isDirectory),
      "ngram index must not be directory-per-gram")
    // append new rows, optimize incrementally, lookup sees them
    val extra = spark.range(200, 260).toDF("id")
      .withColumn("category", concat(lit("cat-"), pmod(col("id"), lit(7))))
      .withColumn("payload", concat(lit("payload text zebra "), col("id")))
    GraftTable.write(extra, t, "append")
    val n = ScalarIndex.optimizeNgram(spark, t, "payload", idx)
    assert(n == 60L)
    val got = ScalarIndex.containsViaNgram(spark, t, idx, "payload", "zebra")
      .select("id").as[Long].collect().toSet
    assert(got == (200L until 260L).toSet)
    // idempotent: nothing new to index
    assert(ScalarIndex.optimizeNgram(spark, t, "payload", idx) == 0L)
  }

  test("ngram segment-merge policy bounds the file count under continuous optimize") {
    val (t, idx) = setup()
    ScalarIndex.buildNgram(spark, t, "payload", idx)
    val dir = new java.io.File(s"$idx/ngram_payload")
    def files(): Int = dir.listFiles().count(_.getName.endsWith(".parquet"))
    // many append→optimize cycles with a LOW merge bound: without the
    // policy every cycle leaves 2 more files forever
    for (i <- 0 until 8) {
      val base = 1000L + i * 50
      val extra = spark.range(base, base + 50).toDF("id")
        .withColumn("category", concat(lit("cat-"), pmod(col("id"), lit(7))))
        .withColumn("payload", concat(lit("payload text walrus "), col("id")))
      GraftTable.write(extra, t, "append")
      ScalarIndex.optimizeNgram(spark, t, "payload", idx, maxSegmentFiles = 6)
    }
    assert(files() <= 8, s"segment count stays bounded, got ${files()}")
    // correctness after repeated merges: every appended row found
    val got = ScalarIndex.containsViaNgram(spark, t, idx, "payload", "walrus")
      .select("id").as[Long].collect().toSet
    assert(got == (1000L until 1400L).toSet)
  }

  test("ngram compact swap recovers a crash between renames (forward + back)") {
    val (t, idx) = setup()
    ScalarIndex.buildNgram(spark, t, "payload", idx)
    val truth = ScalarIndex.containsViaNgram(spark, t, idx, "payload", "number 13")
      .select("id").as[Long].collect().toSet
    // a few appends leave more segment files than the bound below
    for (i <- 0 until 3) {
      GraftTable.write(spark.range(1000 + 10 * i, 1010 + 10 * i).toDF("id")
        .withColumn("category", lit("cat-0"))
        .withColumn("payload", concat(lit("payload text number "), col("id"))), t, "append")
      ScalarIndex.optimizeNgram(spark, t, "payload", idx)
    }
    val stage = new org.apache.hadoop.fs.Path(s"$idx/ngram_payload/_stage")
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    def compactCrashingAt(point: String): Unit = {
      StagedSwap.TestHooks.at = pt => if (pt == point) throw new IllegalStateException("crash")
      try intercept[IllegalStateException](
        ScalarIndex.optimizeNgram(spark, t, "payload", idx, maxSegmentFiles = 4))
      finally StagedSwap.TestHooks.at = _ => ()
      graft.format.GraftScalarIndexRule.invalidateCache()
    }
    def lookup(): Set[Long] =
      ScalarIndex.containsViaNgram(spark, t, idx, "payload", "number 13")
        .select("id").as[Long].collect().toSet
    // FORWARD crash: the compacted files moved in, no old file deleted yet
    compactCrashingAt("after-step-0")
    assert(lookup() == truth, "roll-forward recovery must serve exact results")
    assert(!fs.exists(stage), "the lookup finishes the sealed stage")
    // BACKWARD crash: the compacted output is staged but never sealed —
    // the lookup leaves it alone, the next optimize throws it away
    compactCrashingAt("before-seal")
    assert(lookup() == truth, "an unsealed stage must not change results")
    assert(fs.exists(stage), "a reader must not throw away an unsealed stage")
    ScalarIndex.optimizeNgram(spark, t, "payload", idx, maxSegmentFiles = 4)
    assert(!fs.exists(stage) && lookup() == truth)
  }

  test("ngram short-needle falls back to full scan semantics") {
    val (t, idx) = setup()
    ScalarIndex.buildNgram(spark, t, "payload", idx)
    val got = ScalarIndex.containsViaNgram(spark, t, idx, "payload", "13")
      .select("id").as[Long].collect().toSet
    assert(got.contains(13L) && got.contains(131L) && got.contains(113L))
  }

  test("label-list lookup: has-all intersection / has-any union match truth") {
    val (t, idx) = setup()
    // tags: multiples of 2 → "even", of 3 → "div3", of 5 → "div5"
    val tagged = GraftTable.read(spark, t).drop("category", "payload")
    GraftTable.write(
      tagged.withColumn("tags", filter(
        typedlit(Seq("even", "div3", "div5")),
        x => (x === "even" && pmod($"id", lit(2)) === 0) ||
             (x === "div3" && pmod($"id", lit(3)) === 0) ||
             (x === "div5" && pmod($"id", lit(5)) === 0))),
      s"$t-tags", "overwrite")
    ScalarIndex.buildLabelList(spark, s"$t-tags", "tags", idx)
    val base = GraftTable.read(spark, s"$t-tags", withRowAddr = true)

    val all = ScalarIndex.lookupLabelsAll(spark, idx, "tags", Seq("even", "div3"))
    val gotAll = base.join(all.toDF("_rowaddr"), Seq("_rowaddr"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(gotAll == (0L until 200L).filter(i => i % 6 == 0).toSet)

    val any = ScalarIndex.lookupLabelsAny(spark, idx, "tags", Seq("div3", "div5"))
    val gotAny = base.join(any.toDF("_rowaddr"), Seq("_rowaddr"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(gotAny == (0L until 200L).filter(i => i % 3 == 0 || i % 5 == 0).toSet)
  }

  test("label-list optimize indexes only appended fragments") {
    val (t, idx) = setup()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("id")
      .withColumn("tags", when(pmod($"id", lit(2)) === 0, typedlit(Seq("even")))
        .otherwise(typedlit(Seq("odd"))))
    GraftTable.write(mk(0, 100), s"$t-inc", "overwrite")
    ScalarIndex.buildLabelList(spark, s"$t-inc", "tags", idx)
    GraftTable.write(mk(100, 150), s"$t-inc", "append")
    assert(ScalarIndex.optimizeLabelList(spark, s"$t-inc", "tags", idx) == 50L)
    assert(ScalarIndex.optimizeLabelList(spark, s"$t-inc", "tags", idx) == 0L)
    val mask = ScalarIndex.lookupLabelsAll(spark, idx, "tags", Seq("even"))
    val got = GraftTable.read(spark, s"$t-inc", withRowAddr = true)
      .join(mask.toDF("_rowaddr"), Seq("_rowaddr"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 150L).filter(_ % 2 == 0).toSet)
  }

  test("json path index: lookup matches full-scan extraction, incremental optimize") {
    val (t, idx) = setup()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("id")
      .withColumn("props", concat(lit("""{"k": """), col("id") % 50,
        lit(""", "tag": "t"""), col("id") % 3, lit("\"}")))
    GraftTable.write(mk(0, 200), s"$t-json", "overwrite")
    ScalarIndex.buildJson(spark, s"$t-json", "props", "$.k", idx)
    val base = GraftTable.read(spark, s"$t-json", withRowAddr = true)

    val mask = ScalarIndex.lookupJson(spark, idx, "props", "$.k", _ === "17")
    val got = base.join(mask.toDF("_rowaddr"), Seq("_rowaddr"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 200L).filter(_ % 50 == 17).toSet)

    // nested second path on the same column coexists (separate dir)
    ScalarIndex.buildJson(spark, s"$t-json", "props", "$.tag", idx)
    val m2 = ScalarIndex.lookupJson(spark, idx, "props", "$.tag", _ === "t2")
    assert(base.join(m2.toDF("_rowaddr"), Seq("_rowaddr"), "left_semi").count() ==
      (0L until 200L).count(_ % 3 == 2))

    GraftTable.write(mk(200, 260), s"$t-json", "append")
    assert(ScalarIndex.optimizeJson(spark, s"$t-json", "props", "$.k", idx) == 60L)
    val mask2 = ScalarIndex.lookupJson(spark, idx, "props", "$.k", _ === "17")
    val got2 = GraftTable.read(spark, s"$t-json", withRowAddr = true)
      .join(mask2.toDF("_rowaddr"), Seq("_rowaddr"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(got2 == (0L until 260L).filter(_ % 50 == 17).toSet)
  }

  test("label-list lookup prunes to the wanted label partitions") {
    val (t, idx) = setup()
    GraftTable.write(spark.range(0, 100).toDF("id")
      .withColumn("tags", when(pmod($"id", lit(2)) === 0, typedlit(Seq("even")))
        .otherwise(typedlit(Seq("odd")))), s"$t-pp", "overwrite")
    ScalarIndex.buildLabelList(spark, s"$t-pp", "tags", idx)
    val plan = ScalarIndex.lookupLabelsAny(spark, idx, "tags", Seq("even"))
      .queryExecution.executedPlan.toString
    // partitionBy(label) → the label filter becomes a partition filter
    assert(plan.contains("PartitionFilters") && plan.contains("even"), plan)
  }

  test("btree index scan pushes the lookup predicate to parquet") {
    val (t, idx) = setup()
    ScalarIndex.buildBtree(spark, t, "id", idx)
    val plan = ScalarIndex.lookupBtree(spark, idx, "id", _ === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(v), EqualTo(v,42)]"), plan)
  }
}
