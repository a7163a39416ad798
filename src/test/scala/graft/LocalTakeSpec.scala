package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.{GraftTable, LocalTake}
import graft.functions.F16Functions

/** Driver-local bounded take: under the byte bound `take`, `takeRows` and
  * `takeBlobs` read on the driver and return a local relation that equals
  * the Spark scan's answer (rows, names, types, nullability, field
  * metadata) over every table shape the scan handles, and collecting it
  * runs no Spark job. Over the bound the Spark scan answers. */
class LocalTakeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def tmp(name: String): String = Files.createTempDirectory(name).toString + "/t"

  /** Rows [from, until): scalars, a binary payload, a struct and a packed
    * f16 vector. */
  private def rows(from: Long, until: Long): DataFrame = spark.range(from, until).select(
    col("id"), (col("id") * 1.5).as("score"), concat(lit("n"), col("id")).as("name"),
    encode(concat(lit("p"), col("id")), "UTF-8").as("payload"),
    struct((col("id") * 10).as("a"), concat(lit("b"), col("id")).as("b")).as("s"),
    F16Functions.f16Pack(array(col("id").cast("float"), (col("id") / 3).cast("float")))
      .as("vec"))

  /** A table in four fragments with a delete; returns (path, version before
    * the delete). */
  private def dvTable(name: String, config: Map[String, String] = Map.empty,
                      wide: Boolean = false): (String, Long) = {
    val t = tmp(name)
    val df = if (!wide) rows(0, 60) else rows(0, 3000)
      .withColumn("pad", concat_ws("", Seq.fill(8)(lit("x" * 50)): _*))
    GraftTable.write(df.repartition(4), t, "overwrite", configUpdates = config)
    val v = GraftTable.loadManifest(spark, t).version
    GraftTable.delete(spark, t, "id % 7 = 3")
    (t, v)
  }

  /** name -> builds a table, returning (path, an older version to take at) */
  private val fixtures: Seq[(String, () => (String, Long))] = Seq(
    "dv-deleted" -> (() => dvTable("lt_dv_")),
    "compacted, stored _rowid, appended and deleted again" -> { () =>
      val (t, v) = dvTable("lt_compact_")
      GraftTable.compactFiles(spark, t, targetRows = 25, materializeDeletions = 0.05)
      GraftTable.write(rows(60, 80).repartition(1), t, "append")
      GraftTable.delete(spark, t, "id % 11 = 4")
      assert(GraftTable.loadManifest(spark, t).fragments.exists(_.rowIdStored))
      (t, v)
    },
    "top-level and nested renames" -> { () =>
      val (t, v) = dvTable("lt_rename_")
      GraftTable.alterColumns(spark, t, renames = Map("name" -> "label", "s.a" -> "alpha"))
      (t, v)
    },
    "supplemental column file" -> { () =>
      val (t, v) = dvTable("lt_addcol_")
      GraftTable.addColumnsFiles(spark, t, Seq("bonus" -> "id * 2", "tag" -> "concat('t', id)"))
      GraftTable.write(rows(60, 70).withColumn("bonus", col("id") * 3)
        .withColumn("tag", lit("fresh")).repartition(1), t, "append")
      (t, v)
    },
    "multi-base" -> { () =>
      val (t, v) = dvTable("lt_base_")
      val cold = Files.createTempDirectory("lt_cold_").toString
      GraftTable.addBases(spark, t, Map("cold" -> cold))
      GraftTable.write(rows(60, 80).repartition(2), t, "append", base = Some("cold"))
      GraftTable.delete(spark, t, "id = 65")
      assert(GraftTable.loadManifest(spark, t).fragments.exists(_.path.contains(cold)))
      (t, v)
    },
    "shallow clone" -> { () =>
      val (src, _) = dvTable("lt_clone_src_")
      val t = tmp("lt_clone_")
      GraftTable.shallowClone(spark, src, t)
      GraftTable.write(rows(60, 70).repartition(1), t, "append")
      (t, 1L)
    },
    "field metadata" -> { () =>
      val (t, v) = dvTable("lt_meta_")
      GraftTable.updateFieldMetadata(spark, t, "score", Map("unit" -> "pts"))
      GraftTable.updateFieldMetadata(spark, t, "vec", Map("encoding" -> "f16"))
      (t, v)
    },
    "f16 vectors in many row groups" -> (() => dvTable("lt_groups_",
      Map(GraftTable.RowGroupBytesKey -> (16 * 1024).toString), wide = true)),
    "compacted into many row groups" -> { () =>
      val (t, v) = dvTable("lt_groups_compact_",
        Map(GraftTable.RowGroupBytesKey -> (16 * 1024).toString), wide = true)
      GraftTable.compactFiles(spark, t, targetRows = 2000, materializeDeletions = 0.05)
      GraftTable.delete(spark, t, "id % 11 = 4")
      (t, v)
    }
  )

  /** `f` with the driver-local bound at `bytes`. */
  private def withBound[T](bytes: Long)(f: => T): T = {
    val prev = LocalTake.maxBytes
    LocalTake.maxBytes = bytes
    try f finally LocalTake.maxBytes = prev
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** A value in a form that compares and sorts by content. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case f: Float => java.lang.Float.floatToRawIntBits(f).toString
    case x => x.toString
  }

  /** The driver answer of `take` equals the Spark scan's, and was local. */
  private def parity(what: String, take: => DataFrame): Unit = {
    val local = take
    val scan = withBound(-1)(take)
    assert(isLocal(local), s"$what: not answered on the driver")
    assert(!isLocal(scan), s"$what: the forced Spark path answered locally")
    assert(local.schema == scan.schema,
      s"$what: schema\n local ${local.schema.json}\n scan  ${scan.schema.json}")
    val a = local.collect().map(canon).sorted.toSeq
    val b = scan.collect().map(canon).sorted.toSeq
    assert(a == b, s"$what: rows\n local $a\n scan  $b")
  }

  fixtures.foreach { case (name, build) =>
    test(s"driver take == Spark take: $name") {
      val (t, older) = build()
      val m = GraftTable.loadManifest(spark, t)
      val live = GraftTable.read(spark, t, withRowAddr = true, withRowId = true)
        .select(GraftTable.RowAddrCol, GraftTable.RowIdCol).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val liveAddrs = live.map(_._1).toSet
      val liveIds = live.map(_._2).toSet
      // every fragment's first, second and last slot, one past its end,
      // and a fragment id the table never had
      val slots = m.fragments.flatMap(f =>
        Seq(0L, 1L, f.rows - 1, f.rows).map(i => (f.id << 32) + i)) :+ ((999L << 32) + 2)
      val deletedAddrs = m.fragments.flatMap(f => (0L until f.rows).map(i => (f.id << 32) + i))
        .filterNot(liveAddrs).take(3)
      val someAddrs = live.map(_._1).sorted.grouped(7).map(_.head).toSeq
      val ids = (0L until m.nextRowId by 5L) ++ Seq(m.nextRowId + 3, 2L, 2L)
      val deletedIds = (0L until m.nextRowId).filterNot(liveIds).take(3)
      assert(deletedAddrs.nonEmpty && deletedIds.nonEmpty, "fixture has no deleted rows")
      val blobCol = "payload"
      parity("take live", GraftTable.take(spark, t, someAddrs))
      parity("take slots, deleted, duplicates",
        GraftTable.take(spark, t, slots ++ deletedAddrs ++ someAddrs.take(2) ++ someAddrs.take(2)))
      parity("take empty", GraftTable.take(spark, t, Nil))
      parity("takeRows ids, deleted, absent, duplicates",
        GraftTable.takeRows(spark, t, ids ++ deletedIds))
      parity("takeRows empty", GraftTable.takeRows(spark, t, Nil))
      parity("takeBlobs", GraftTable.takeBlobs(spark, t, someAddrs ++ deletedAddrs, blobCol))
      // at the older version: its own fragments, DVs and schema
      val old = GraftTable.loadManifest(spark, t, Some(older))
      val oldAddrs = old.fragments.flatMap(f => Seq((f.id << 32) + 1, (f.id << 32) + f.rows - 1))
      parity("take at an older version", GraftTable.take(spark, t, oldAddrs, Some(older)))
      parity("takeRows at an older version",
        GraftTable.takeRows(spark, t, (0L until old.nextRowId by 3L), Some(older)))
    }
  }

  /** Spark jobs started by `f` (job ids are sequential; read after the
    * listener bus drains). */
  private def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    def last: Int = {
      org.apache.spark.TestBus.drain(sc)
      sc.statusTracker.getJobIdsForGroup(null).maxOption.getOrElse(-1)
    }
    val before = last
    f
    last - before
  }

  test("an under-bound take runs no Spark job; over the bound the scan answers the same") {
    val (t, _) = dvTable("lt_jobs_")
    val m = GraftTable.loadManifest(spark, t)
    val addrs = m.fragments.map(f => (f.id << 32) + 2)
    val ids = m.fragments.map(_.rowIdStart + 1)
    // warm: the first call compiles projections
    GraftTable.takeRows(spark, t, ids).select("id", "name").collect()
    assert(jobs(GraftTable.takeRows(spark, t, ids).select("id", "name").collect()) == 0)
    assert(jobs(GraftTable.take(spark, t, addrs)) == 0)
    assert(jobs(GraftTable.take(spark, t, addrs).select("id").collect()) == 0)
    assert(jobs(GraftTable.takeBlobs(spark, t, addrs, "payload").collect()) == 0)

    // the requests touch every fragment: at a bound of exactly their size
    // the driver answers, one byte below it the Spark scan does
    val size = m.fragments.map(_.sizeBytes).sum
    val local = withBound(size)(GraftTable.takeRows(spark, t, ids))
    assert(isLocal(local))
    val (l0, s0) = (LocalTake.localTakes.get, LocalTake.sparkTakes.get)
    var fallback: DataFrame = null
    val n = jobs { fallback = withBound(size - 1)(GraftTable.takeRows(spark, t, ids)).cache()
      fallback.count() }
    assert(n > 0 && !isLocal(fallback))
    assert(LocalTake.sparkTakes.get == s0 + 1 && LocalTake.localTakes.get == l0)
    assert(local.collect().map(canon).sorted.toSeq == fallback.collect().map(canon).sorted.toSeq)
    assert(local.collect().length == ids.size)
    fallback.unpersist()
  }

  test("cache_stats reports driver-local takes and Spark fallbacks as take_local") {
    val (t, _) = dvTable("lt_stats_")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lt", "graft.format.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lt.warehouse", Files.createTempDirectory("lt_wh_").toString)
    def stats(): (Long, Long, Long) = {
      val r = sess.sql("CALL lt.system.cache_stats()").collect()
        .find(_.getString(0) == "take_local").getOrElse(fail("no take_local row"))
      (r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val (cap, h0, m0) = stats()
    assert(cap == LocalTake.MaxBytes)
    GraftTable.takeRows(spark, t, Seq(1L, 2L)).collect()
    withBound(-1)(GraftTable.takeRows(spark, t, Seq(1L, 2L))).collect()
    val (_, h1, m1) = stats()
    assert(h1 == h0 + 1 && m1 == m0 + 1, s"hits $h0 -> $h1, misses $m0 -> $m1")
  }
}
