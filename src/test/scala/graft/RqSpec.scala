package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable
import graft.operators.{Knn, RqIndex}

class RqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = Tables.embeddings(spark, sf)

  private def queryVec(id: Long): Array[Float] =
    embeddings.filter($"vec_id" === id).select("embedding").head().getSeq[Float](0).toArray

  private def buildIdx(): String = {
    val dir = Files.createTempDirectory("rq_").toString
    RqIndex.build(embeddings, "vec_id", "embedding", dir, nlist = 8)
    dir
  }

  test("rq codes are d/8 bytes + one norm; bits are the residual signs") {
    val idx = buildIdx()
    val rows = spark.read.parquet(s"$idx/vectors")
      .select(col(RqIndex.CodeCol), col(RqIndex.NormCol), col("embedding"),
        col(graft.operators.IvfIndex.PidCol))
    assert(rows.count() == 500)
    val codes = rows.select(RqIndex.CodeCol).as[Array[Byte]].collect()
    assert(codes.forall(_.length == 8)) // 64 dims packed 8/byte — 32x vs float
    // verify bit semantics against the stored centroid for one row
    val cents = spark.read.parquet(s"$idx/centroids").orderBy("pid")
      .as[(Int, Seq[Float])].collect().map(_._2.toArray)
    val r0 = rows.as[(Array[Byte], Float, Seq[Float], Int)].head()
    val (c0, n0, v0, pid0) = r0
    val resid = v0.toArray.zip(cents(pid0)).map { case (x, c) => x - c }
    resid.indices.foreach { i =>
      val bit = ((c0(i >> 3) >> (i & 7)) & 1) != 0
      assert(bit == (resid(i) > 0f), s"bit $i disagrees with residual sign")
    }
    assert(math.abs(n0 - math.sqrt(resid.map(x => x.toDouble * x).sum)) < 1e-3)
  }

  test("full probes + large refine == flat search exactly") {
    val idx = buildIdx()
    val q = queryVec(0L)
    val full = RqIndex.search(spark, idx, "vec_id", "embedding", q, 10, nprobes = 8,
      refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(full == flat)
  }

  test("recall@10 at modest refine is acceptable for 32x compression") {
    val idx = buildIdx()
    val recalls = (0L until 15L).map { qid =>
      val q = queryVec(qid)
      val truth = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
        .select("vec_id").as[Long].collect().toSet
      val approx = RqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
        nprobes = 4, refineFactor = 10)
        .select("vec_id").as[Long].collect().toSet
      truth.intersect(approx).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    info(f"IVF_RQ mean recall@10 (nprobes=4/8, refine=10): $mean%.3f")
    // 1 bit/dim is the coarsest family — the recall bar sits below SQ's
    assert(mean >= 0.7, s"recall too low for RQ: $mean")
  }

  test("prefilter restricts candidates before ranking") {
    val idx = buildIdx()
    val q = queryVec(0L)
    val got = RqIndex.search(spark, idx, "vec_id", "embedding", q, 10, nprobes = 8,
      refineFactor = 100, prefilter = Some($"vec_id" % 2 === 0))
      .select("vec_id").as[Long].collect().toSeq
    assert(got.forall(_ % 2 == 0) && got.size == 10)
    val flat = Knn.flatSearch(embeddings.filter($"vec_id" % 2 === 0),
      "embedding", q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(got == flat)
  }

  test("buildForTable + optimizeForTable: delta append, compaction rewrite") {
    val t = Files.createTempDirectory("rq_tbl_").toString + "/t"
    val idx = s"$t/_indices/ivfrq_embedding"
    GraftTable.write(embeddings.limit(400).repartition(4), t, "overwrite")
    RqIndex.buildForTable(spark, t, "vec_id", "embedding", idx, nlist = 4)
    GraftTable.write(embeddings.filter($"vec_id" >= 400).coalesce(1), t, "append")
    assert(RqIndex.optimizeForTable(spark, t, "vec_id", "embedding", idx) == 100L)
    assert(RqIndex.optimizeForTable(spark, t, "vec_id", "embedding", idx) == 0L)
    assert(spark.read.parquet(s"$idx/vectors").count() == 500L)
    GraftTable.delete(spark, t, "vec_id % 10 = 3")
    GraftTable.compactFiles(spark, t, targetRows = 200, materializeDeletions = 0.01)
    RqIndex.optimizeForTable(spark, t, "vec_id", "embedding", idx)
    val m = GraftTable.loadManifest(spark, t)
    val live = m.fragments.map(_.id).toSet
    val fragsInIdx = spark.read.parquet(s"$idx/vectors")
      .select(shiftrightunsigned(col(GraftTable.RowAddrCol), 32).as("f"))
      .distinct().as[Long].collect().toSet
    assert(fragsInIdx.subsetOf(live), s"index holds dead fragments: ${fragsInIdx.diff(live)}")
  }

  test("cosine metric: full probes + refine == flat cosine search") {
    val dir = Files.createTempDirectory("rq_cos_").toString
    RqIndex.build(embeddings, "vec_id", "embedding", dir, nlist = 8, metric = "cosine")
    val q = queryVec(3L)
    val got = RqIndex.search(spark, dir, "vec_id", "embedding", q, 10, nprobes = 8,
        refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(embeddings, "embedding", q, 10, "cosine", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(got == flat)
  }

  test("searchCombined: deletes + fresh appends == flat over the live set") {
    val t = Files.createTempDirectory("rq_comb_").toString + "/t"
    val idx = s"$t/_indices/ivfrq_embedding"
    GraftTable.write(embeddings.filter($"vec_id" < 400).repartition(4), t, "overwrite")
    RqIndex.buildForTable(spark, t, "vec_id", "embedding", idx, nlist = 8)
    GraftTable.delete(spark, t, "vec_id % 7 = 0")
    GraftTable.write(embeddings.filter($"vec_id" >= 400), t, "append")
    val qv = queryVec(0L)
    val got = RqIndex.searchCombined(spark, t, idx, "vec_id", "embedding", qv,
        k = 10, nprobes = 8, refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(GraftTable.read(spark, t), "embedding", qv, 10, "l2",
        Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(got == flat)
    assert(got.filter(_ < 400).forall(_ % 7 != 0))
  }

  test("serveLocal: driver-local RQ serving matches the batched two-pass search, no jobs warm (r16)") {
    for (metric <- Seq("l2", "cosine")) {
      val idx = Files.createTempDirectory(s"rq_serve_${metric}_").toString
      RqIndex.build(embeddings, "vec_id", "embedding", idx, nlist = 8, metric = metric)
      RqIndex.serveUnpersist(idx)
      val resident = RqIndex.serveWarm(spark, idx, "vec_id", "embedding")
      assert(resident == 500L, s"$metric: $resident resident")
      Seq(1L, 77L, 300L).foreach { qid =>
        val q = queryVec(qid)
        val batched = RqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
            nprobes = 8, refineFactor = 10)
          .select(col("vec_id"), col(Knn.DistanceCol)).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val tracker = spark.sparkContext.statusTracker
        val before = tracker.getJobIdsForGroup(null).length
        val served = RqIndex.serveLocal(spark, idx, "vec_id", "embedding", q,
          10, nprobes = 8, refineFactor = 10)
        assert(tracker.getJobIdsForGroup(null).length == before,
          s"$metric: warm RQ serveLocal launched a Spark job")
        assert(served == batched, s"$metric qid=$qid: $served != $batched")
      }
      // id-predicate prefilter parity vs the batched Column prefilter
      val q = queryVec(5L)
      val batchedPf = RqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
          nprobes = 8, refineFactor = 10,
          prefilter = Some(col("vec_id") % 2 === 0))
        .select(col("vec_id"), col(Knn.DistanceCol)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val servedPf = RqIndex.serveLocal(spark, idx, "vec_id", "embedding", q,
        10, nprobes = 8, refineFactor = 10, allowed = Some(id => id % 2 == 0))
      assert(servedPf == batchedPf, s"$metric: $servedPf != $batchedPf")
      RqIndex.serveUnpersist(idx)
    }
  }

  test("serveLocal prefilter at partial probes: applied before ranking, parity with batched") {
    val idx = buildIdx()
    RqIndex.serveUnpersist(idx)
    RqIndex.serveWarm(spark, idx, "vec_id", "embedding")
    val q = queryVec(0L)
    val batched = RqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
        nprobes = 3, refineFactor = 6, prefilter = Some(col("vec_id") % 2 === 0))
      .select(col("vec_id"), col(Knn.DistanceCol))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = RqIndex.serveLocal(spark, idx, "vec_id", "embedding", q, 10,
      nprobes = 3, refineFactor = 6, allowed = Some(id => id % 2 == 0))
    assert(served == batched, s"$served != $batched")
    assert(served.size == 10 && served.forall(_._1 % 2 == 0))
    RqIndex.serveUnpersist(idx)
  }

  test("serveLocal staleness + budget: rebuild at the same path serves the NEW index; over-budget warm refuses (r16)") {
    spark.conf.set("spark.graft.serve.epoch.ttl.ms", "0")
    try {
      val dir = Files.createTempDirectory("rq_stale_").toString
      RqIndex.build(embeddings.filter($"vec_id" < 250), "vec_id", "embedding",
        dir, nlist = 4)
      RqIndex.serveUnpersist(dir)
      val q = queryVec(3L)
      val servedOld = RqIndex.serveLocal(spark, dir, "vec_id", "embedding", q,
        5, nprobes = 4)
      assert(servedOld.forall(_._1 < 250))
      RqIndex.build(embeddings.filter($"vec_id" >= 250), "vec_id", "embedding",
        dir, nlist = 4)
      val servedNew = RqIndex.serveLocal(spark, dir, "vec_id", "embedding", q,
        5, nprobes = 4)
      assert(servedNew.forall(_._1 >= 250),
        s"stale serve cache answered for the dropped index: $servedNew")
      spark.conf.set(RqIndex.ServeCodesBudgetKey, "2")
      try {
        val e = intercept[IllegalArgumentException] {
          RqIndex.serveWarm(spark, dir, "vec_id", "embedding") // nlist 4 > 2
        }
        assert(e.getMessage.contains("code-cache budget"), e.getMessage)
      } finally spark.conf.unset(RqIndex.ServeCodesBudgetKey)
      RqIndex.serveUnpersist(dir)
    } finally spark.conf.unset("spark.graft.serve.epoch.ttl.ms")
  }
}
