package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable

class GraftTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_tbl_").toString + "/t"

  private def people = Seq(
    (1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0),
    (4L, "dave", 40.0), (5L, "erin", 50.0)
  ).toDF("id", "name", "score")

  test("create / read roundtrip preserves data and schema") {
    val t = tmp()
    GraftTable.write(people, t, "append")
    val back = GraftTable.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("append adds fragments; versions advance; time travel works") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.write(people.filter($"id" <= 2), t, "append")
    assert(GraftTable.versions(spark, t) == Seq(1L, 2L))
    assert(GraftTable.read(spark, t).count() == 7)
    assert(GraftTable.read(spark, t, Some(1L)).count() == 5)
    assert(GraftTable.countRows(spark, t) == 7)
    assert(GraftTable.countRows(spark, t, Some(1L)) == 5)
  }

  test("overwrite replaces content") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.write(people.filter($"id" === 1L), t, "overwrite")
    assert(GraftTable.read(spark, t).count() == 1)
    assert(GraftTable.read(spark, t, Some(1L)).count() == 5) // old version intact
  }

  test("_rowaddr is stable and unique; fragid encodes in high bits") {
    val t = tmp()
    GraftTable.write(people.repartition(2), t)
    val addrs = GraftTable.read(spark, t, withRowAddr = true)
      .select("_rowaddr").as[Long].collect()
    assert(addrs.distinct.length == 5)
    assert(addrs.map(_ >>> 32).distinct.length == 2) // two fragments
  }

  test("delete by predicate uses DVs, no fragment rewrite") {
    val t = tmp()
    GraftTable.write(people, t)
    val before = GraftTable.loadManifest(spark, t).fragments.map(_.path).toSet
    GraftTable.delete(spark, t, "score >= 30.0")
    val m = GraftTable.loadManifest(spark, t)
    assert(m.fragments.map(_.path).toSet == before) // same files
    assert(m.numDeleted == 3)
    assert(GraftTable.countRows(spark, t) == 2)
    val left = GraftTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(left == Set(1L, 2L))
    // time travel still sees everything
    assert(GraftTable.read(spark, t, Some(1L)).count() == 5)
  }

  test("graft.write.compression config selects the fragment parquet codec") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def codecOf(t: String, frag: graft.format.FragmentMeta): String = {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(t), frag.path)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.toString
      finally r.close()
    }
    val t = tmp()
    GraftTable.write(people, t, "overwrite",
      configUpdates = Map(GraftTable.CompressionKey -> "zstd"))
    // the config lands with the CREATE commit, so the first append (and
    // every later mutation) honors it
    GraftTable.write(people.select($"id" + 100 as "id", $"name", $"score"), t, "append")
    val m = GraftTable.loadManifest(spark, t)
    val appended = m.fragments.filter(_.addedVersion == m.version)
    assert(appended.nonEmpty && appended.forall(f => codecOf(t, f) == "ZSTD"),
      m.fragments.map(f => f.path -> codecOf(t, f)).toString)
    assert(GraftTable.read(spark, t).count() == 10) // zstd fragments read back
    // a table without the config keeps Spark's default codec
    val t2 = tmp()
    GraftTable.write(people, t2)
    val m2 = GraftTable.loadManifest(spark, t2)
    assert(codecOf(t2, m2.fragments.head) != "ZSTD")
  }

  test("graft.write.rowgroup.bytes config sets the parquet row-group granule") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def blocksOf(t: String, frag: graft.format.FragmentMeta): Int = {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(t), frag.path)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getBlocks.size() finally r.close()
    }
    val wide = spark.range(0, 20000).toDF("id")
      .withColumn("pad", org.apache.spark.sql.functions.concat_ws("",
        Seq.fill(20)(org.apache.spark.sql.functions.lit("x" * 50)): _*))
      .coalesce(1)
    // tiny row groups: a single fragment must split into many blocks
    val t = tmp()
    GraftTable.write(wide, t, "overwrite",
      configUpdates = Map(GraftTable.RowGroupBytesKey -> (256 * 1024).toString))
    val m = GraftTable.loadManifest(spark, t)
    // config lands with the create commit; the append honors it
    GraftTable.write(wide, t, "append")
    val m2 = GraftTable.loadManifest(spark, t)
    val appended = m2.fragments.filter(_.addedVersion == m2.version)
    assert(appended.nonEmpty && appended.forall(f => blocksOf(t, f) > 2),
      appended.map(f => f.path -> blocksOf(t, f)).toString)
    // default: one big row group for the same data
    val t2 = tmp()
    GraftTable.write(wide, t2, "overwrite")
    val f2 = GraftTable.loadManifest(spark, t2).fragments.head
    assert(blocksOf(t2, f2) < 3, s"default block count: ${blocksOf(t2, f2)}")
    assert(GraftTable.read(spark, t).count() == 40000L)
  }

  test("includeDeleted: dead rows surface with on-disk values and null _rowid") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.delete(spark, t, "score >= 30.0")
    assert(GraftTable.read(spark, t).count() == 2)
    val all = GraftTable.read(spark, t, withRowId = true, includeDeleted = true)
    assert(all.count() == 5)
    val dead = all.filter(col(GraftTable.RowIdCol).isNull)
      .select("id").as[Long].collect().toSet
    assert(dead == Set(3L, 4L, 5L), dead.toString)
    val live = all.filter(col(GraftTable.RowIdCol).isNotNull)
      .select("id").as[Long].collect().toSet
    assert(live == Set(1L, 2L))
    // without row ids the flag-less variant still returns every row
    assert(GraftTable.read(spark, t, includeDeleted = true).count() == 5)
  }

  test("delete true drops all fragments") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.delete(spark, t, "true")
    assert(GraftTable.read(spark, t).count() == 0)
    assert(GraftTable.countRows(spark, t) == 0)
  }

  test("update rewrites matching rows in one commit") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.update(spark, t, Map("score" -> "score * 10"), Some("id <= 2"))
    val out = GraftTable.read(spark, t).orderBy("id")
      .select("score").as[Double].collect().toSeq
    assert(out == Seq(100.0, 200.0, 30.0, 40.0, 50.0))
    assert(GraftTable.read(spark, t).count() == 5)
  }

  test("merge_insert: update-all + insert-all + not-matched-by-source-delete") {
    val t = tmp()
    GraftTable.write(people, t)
    val source = Seq(
      (1L, "alice2", 11.0), // matched -> update
      (6L, "frank", 60.0)   // not matched -> insert
    ).toDF("id", "name", "score")
    GraftTable.mergeInsert(spark, t, source, Seq("id"),
      whenMatchedUpdateAll = true, whenNotMatchedInsertAll = true,
      whenNotMatchedBySourceDelete = true, deleteCondition = Some("score > 45.0"))
    val out = GraftTable.read(spark, t).orderBy("id")
      .select("id", "name").as[(Long, String)].collect().toSeq
    // erin (50.0 > 45) deleted; alice updated; frank inserted
    assert(out == Seq((1L, "alice2"), (2L, "bob"), (3L, "carol"), (4L, "dave"), (6L, "frank")))
  }

  test("merge_insert rejects ambiguous source matches") {
    val t = tmp()
    GraftTable.write(people, t)
    val dupSource = Seq((1L, "x", 0.0), (1L, "y", 1.0)).toDF("id", "name", "score")
    assertThrows[IllegalStateException] {
      GraftTable.mergeInsert(spark, t, dupSource, Seq("id"))
    }
  }

  test("compact materializes deletions and resets DVs") {
    val t = tmp()
    GraftTable.write(people.repartition(4), t)
    GraftTable.delete(spark, t, "id = 3")
    GraftTable.compact(spark, t, targetRows = 1000)
    val m = GraftTable.loadManifest(spark, t)
    assert(m.fragments.length == 1)
    assert(m.dvFiles.isEmpty && m.numDeleted == 0)
    assert(GraftTable.read(spark, t).count() == 4)
    // addresses changed but content preserved
    assert(GraftTable.read(spark, t).select("id").as[Long].collect().toSet == Set(1L, 2L, 4L, 5L))
  }

  test("compact maxBytesPerFile bounds output size for wide rows") {
    val t = tmp()
    // ~100 KB of incompressible payload per fragment, tiny row counts —
    // the row target alone would merge everything into ONE fat fragment
    val wide = spark.range(0, 40).toDF("id")
      .withColumn("payload", expr("sha2(concat(repeat(uuid(), 800), id), 256)"))
      .withColumn("payload", expr("repeat(payload, 50)"))
    GraftTable.write(wide.repartition(8), t)
    val bytes = GraftTable.loadManifest(spark, t).fragments.map(_.sizeBytes).sum
    val m = GraftTable.compact(spark, t, targetRows = 1000000,
      maxBytesPerFile = Some(bytes / 4))
    assert(m.fragments.length >= 4,
      s"byte ceiling must split the rewrite: ${m.fragments.length} fragments")
    assert(GraftTable.read(spark, t).count() == 40)
    // without the ceiling the same rewrite produces one fragment
    val t2 = tmp()
    GraftTable.write(wide.repartition(8), t2)
    assert(GraftTable.compact(spark, t2, targetRows = 1000000).fragments.length == 1)
  }

  test("add_columns + metadata-only drop_columns") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.addColumns(spark, t, Seq("double_score" -> "score * 2"))
    assert(GraftTable.read(spark, t).schema.fieldNames.contains("double_score"))
    GraftTable.dropColumns(spark, t, Seq("name"))
    val back = GraftTable.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "score", "double_score"))
    assert(back.count() == 5)
  }

  test("addColumnsUdf computes new columns per partition") {
    import org.apache.spark.sql.types._
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.addColumnsUdf(spark, t,
      StructType(Seq(StructField("name_len", IntegerType), StructField("tier", StringType))),
      r => Seq(r.getString(1).length, if (r.getDouble(2) >= 30.0) "high" else "low"))
    val out = GraftTable.read(spark, t).orderBy("id")
      .select("name", "name_len", "tier").collect()
    assert(out.head.getInt(1) == 5)  // "alice".length
    assert(out.head.getString(2) == "low")
    assert(out.last.getString(2) == "high")
  }

  test("addColumnsUdf checkpoint: failed backfill resumes without recompute") {
    import org.apache.spark.sql.types._
    val t = tmp()
    GraftTable.write(people.filter($"id" <= 3).coalesce(1), t)
    GraftTable.write(people.filter($"id" > 3).coalesce(1), t, "append")
    assert(GraftTable.loadManifest(spark, t).fragments.size == 2)
    UdfCkptProbe.fail.set(true)
    val cols = StructType(Seq(StructField("nl", IntegerType)))
    // first attempt: fragment 0 checkpoints, fragment 1 throws
    intercept[org.apache.spark.SparkException] {
      GraftTable.addColumnsUdf(spark, t, cols, UdfCkptProbe.fn, "nl_ckpt")
    }
    val ckpt = new org.apache.hadoop.fs.Path(s"$t/columns/udf_ckpt_nl_ckpt")
    val fs = ckpt.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(ckpt, "frag-0/_SUCCESS")),
      "fragment 0's checkpoint should survive the failure")
    // retry: fragment 0 must NOT be recomputed
    UdfCkptProbe.fail.set(false)
    UdfCkptProbe.calls.set(0)
    GraftTable.addColumnsUdf(spark, t, cols, UdfCkptProbe.fn, "nl_ckpt")
    assert(UdfCkptProbe.calls.get() == 2,
      s"resume recomputed fragment 0: ${UdfCkptProbe.calls.get()} calls (want 2)")
    val out = GraftTable.read(spark, t).orderBy("id")
      .select("name", "nl").as[(String, Int)].collect().toSeq
    assert(out == Seq("alice" -> 5, "bob" -> 3, "carol" -> 5, "dave" -> 4, "erin" -> 4))
    assert(!fs.exists(ckpt), "checkpoint dir should be cleaned after commit")
  }

  test("restore rolls back to an old version as a new commit") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.delete(spark, t, "id <= 4")
    assert(GraftTable.read(spark, t).count() == 1)
    GraftTable.restore(spark, t, 1L)
    assert(GraftTable.read(spark, t).count() == 5)
    assert(GraftTable.versions(spark, t).length == 3)
  }

  test("format(\"graft\") read/write API") {
    val t = tmp()
    people.write.format("graft").mode("overwrite").save(t)
    people.filter($"id" === 1L).write.format("graft").mode("append").save(t)
    val df = spark.read.format("graft").load(t)
    assert(df.count() == 6)
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(t)
    assert(v1.count() == 5)
  }

  test("format(\"graft\") refuses DV snapshots (directs to GraftTable.read)") {
    val t = tmp()
    GraftTable.write(people, t)
    GraftTable.delete(spark, t, "id = 1")
    assertThrows[IllegalStateException] {
      spark.read.format("graft").load(t).count()
    }
  }

  test("filter pushdown reaches parquet scan through graft read") {
    val t = tmp()
    GraftTable.write(people, t)
    val plan = GraftTable.read(spark, t).filter($"id" > 3).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [GreaterThan(id,3)]"), plan)
  }

  test("concurrent appends both land (CAS retry)") {
    val t = tmp()
    GraftTable.write(people, t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = (1 to 4).map { i =>
      Future { GraftTable.write(people.filter($"id" === i.toLong), t, "append") }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(GraftTable.read(spark, t).count() == 9)
    assert(GraftTable.versions(spark, t).length == 5)
    // all fragment ids unique
    val m = GraftTable.loadManifest(spark, t)
    assert(m.fragments.map(_.id).distinct.length == m.fragments.length)
  }

  test("stable row ids: contiguous at ingest, appends advance the high-water mark") {
    val t = tmp()
    GraftTable.write(people.repartition(1), t)
    val ids1 = GraftTable.read(spark, t, withRowId = true)
      .select("id", GraftTable.RowIdCol).as[(Long, Long)].collect().toMap
    assert(ids1.values.toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L))
    GraftTable.write(people.filter($"id" <= 2).repartition(1), t, "append")
    val m = GraftTable.loadManifest(spark, t)
    assert(m.nextRowId == 7L)
    val ids2 = GraftTable.read(spark, t, withRowId = true)
      .select(GraftTable.RowIdCol).as[Long].collect().toSeq.sorted
    assert(ids2 == (0L until 7L)) // appended rows got 5 and 6
  }

  test("stable row ids survive delete + compaction; takeRows resolves them") {
    val t = tmp()
    GraftTable.write(people.repartitionByRange(2, $"id").sortWithinPartitions("id"), t)
    val before = GraftTable.read(spark, t, withRowId = true)
      .select("id", GraftTable.RowIdCol).as[(Long, Long)].collect().toMap
    assert(before == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    GraftTable.delete(spark, t, "id = 2")
    GraftTable.compactFiles(spark, t, targetRows = 4, materializeDeletions = 0.1)
    val m = GraftTable.loadManifest(spark, t)
    assert(m.dvFiles.isEmpty && m.fragments.exists(_.rowIdStored),
      "compaction should materialize DVs and store row ids physically")
    val after = GraftTable.read(spark, t, withRowId = true)
      .select("id", GraftTable.RowIdCol).as[(Long, Long)].collect().toMap
    assert(after == before - 2L, s"ids moved: $after vs $before")
    // take by id: deleted id 1 (row id=2) resolves to nothing, others exact
    val got = GraftTable.takeRows(spark, t, Seq(0L, 1L, 4L))
      .select(GraftTable.RowIdCol, "id").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 4L -> 5L), s"takeRows returned $got")
    // a second compaction round-trips the STORED ids unchanged
    GraftTable.write(people.filter($"id" === 5L).repartition(1), t, "append")
    GraftTable.compactFiles(spark, t, targetRows = 100, materializeDeletions = 0.0)
    val again = GraftTable.read(spark, t, withRowId = true)
      .select("id", GraftTable.RowIdCol).as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(again(1L) == Set(0L) && again(3L) == Set(2L) && again(4L) == Set(3L))
    assert(again(5L) == Set(4L, 5L)) // original + appended copy, distinct ids
  }

  test("update preserves stable row ids (move-stable: address moves, id does not)") {
    val t = tmp()
    GraftTable.write(people.repartition(1), t)
    val before = GraftTable.read(spark, t, withRowId = true)
      .select("id", GraftTable.RowIdCol).as[(Long, Long)].collect().toMap
    GraftTable.update(spark, t, Map("score" -> "score * 2"), Some("id = 3"))
    val m = GraftTable.loadManifest(spark, t)
    assert(m.nextRowId == 5L, "update must not advance the id high-water mark")
    assert(m.fragments.exists(_.rowIdStored),
      "rewritten rows persist their carried ids physically")
    val after = GraftTable.read(spark, t, withRowId = true)
      .select("id", GraftTable.RowIdCol).as[(Long, Long)].collect().toMap
    assert(after == before, s"ids moved across update: $after vs $before")
    // the updated value landed under the SAME id
    val score = GraftTable.read(spark, t).filter($"id" === 3L)
      .select("score").as[Double].collect().toSeq
    assert(score.length == 1 && score.head == people.filter($"id" === 3L)
      .select("score").as[Double].collect().head * 2)
  }

  test("row-version system columns: _rowoffset, created/updated versions") {
    val t = tmp()
    // v1: ids 1..3 · v2: ids 4..5 · v3: update id 3 · v4: compact
    GraftTable.write(people.filter($"id" <= 3).repartition(1)
      .sortWithinPartitions("id"), t)
    GraftTable.write(people.filter($"id" > 3).repartition(1)
      .sortWithinPartitions("id"), t, "append")
    val fresh = GraftTable.read(spark, t, withRowVersions = true)
      .select($"id", col(GraftTable.RowOffsetCol), col(GraftTable.RowCreatedCol),
        col(GraftTable.RowLastUpdatedCol))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // offsets enumerate the snapshot scan order 0..n-1
    assert(fresh.map(_._2).sorted == (0L until 5L))
    assert(fresh.map(r => r._1 -> r._3).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
    assert(fresh.forall(r => r._3 == r._4), "never-touched rows: created == updated")
    // update rewrites id 3 (v3) but KEEPS its stable row id (move-stable:
    // created survives, updated moves — reference delta.rs:430-520); a
    // compact (v4) rewrites all and likewise preserves ids
    GraftTable.update(spark, t, Map("score" -> "score + 1"), Some("id = 3"))
    val mid = GraftTable.read(spark, t, withRowVersions = true)
      .select($"id", col(GraftTable.RowCreatedCol), col(GraftTable.RowLastUpdatedCol))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mid.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L),
      s"created must survive an update: $mid")
    assert(mid.map(r => r._1 -> r._3).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 2L, 5L -> 2L),
      s"only the updated row's last-write moves: $mid")
    GraftTable.compact(spark, t)
    val after = GraftTable.read(spark, t, withRowVersions = true)
      .select($"id", col(GraftTable.RowCreatedCol), col(GraftTable.RowLastUpdatedCol))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(after.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L),
      s"created versions wrong: $after")
    assert(after.forall(_._3 == 4L), s"compaction is the last touch: $after")
    // versions never leak into a plain read
    assert(!GraftTable.read(spark, t).columns.contains(GraftTable.RowOffsetCol))
  }

  test("table under a .../data/... parent: table-relative paths through write, append, compact, cleanup") {
    // the directories ABOVE the table contain `/data/`: committed fragment
    // paths must still be relative to the table root
    val t = Files.createTempDirectory("graft_tbl_").toString + "/data/lake/t"
    GraftTable.write(people.repartition(2), t)
    GraftTable.write(people.filter($"id" <= 2), t, "append")
    val paths = GraftTable.loadManifest(spark, t).fragments.map(_.path)
    assert(paths.forall(_.matches("data/txn-[^/]+/frag-\\d+\\.parquet")), paths)
    assert(GraftTable.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 2L, 2L, 3L, 4L, 5L))
    GraftTable.compact(spark, t, targetRows = 1000)
    val live = GraftTable.loadManifest(spark, t).fragments.map(_.path)
    assert(live.length == 1 && !paths.contains(live.head), live)
    val stats = GraftTable.cleanupOldVersions(spark, t, keepLast = 1,
      unverifiedGraceMillis = 0L)
    assert(stats.filesRemoved == paths.length, stats)
    // exactly the live fragment survives under data/
    val root = new java.io.File(t).toPath
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val onDisk = files(new java.io.File(t, "data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => root.relativize(f.toPath).toString).toSet
    assert(onDisk == live.toSet, onDisk)
    assert(GraftTable.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 2L, 2L, 3L, 4L, 5L))
  }
}

/** Executor-visible (same-JVM local mode) probe for the addColumnsUdf
  * checkpoint spec: `fail` makes second-fragment rows throw, `calls`
  * counts UDF invocations. */
object UdfCkptProbe {
  val fail = new java.util.concurrent.atomic.AtomicBoolean(false)
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val fn: org.apache.spark.sql.Row => Seq[Any] = { r =>
    calls.incrementAndGet()
    if (fail.get() && r.getLong(0) > 3) sys.error("simulated UDF crash")
    Seq(r.getString(1).length)
  }
}
