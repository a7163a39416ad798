package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Knn, PqIndex}

class PqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = Tables.embeddings(spark, sf)

  private def queryVec(id: Long): Array[Float] =
    embeddings.filter($"vec_id" === id).select("embedding").head().getSeq[Float](0).toArray

  private def buildIdx(): String = {
    val dir = Files.createTempDirectory("pq_").toString
    // 64-dim vectors, m=8 subspaces of 8 dims, 16 codes each (tiny corpus)
    PqIndex.build(embeddings, "vec_id", "embedding", dir, nlist = 8, m = 8, k = 16)
    dir
  }

  test("pq codes are m bytes; encode is deterministic") {
    val idx = buildIdx()
    val codes = spark.read.parquet(s"$idx/vectors")
      .select(PqIndex.CodeCol).as[Array[Byte]].collect()
    assert(codes.forall(_.length == 8))
    assert(codes.length == 500)
  }

  test("4-bit codes: half the bytes, identical ADC, exact config == flat") {
    val dir = Files.createTempDirectory("pq4_").toString
    val (_, pq) = PqIndex.build(embeddings, "vec_id", "embedding", dir,
      nlist = 8, m = 8, k = 16, numBits = 4)
    // nibble-packed: ⌈m/2⌉ = 4 bytes instead of 8
    val codes = spark.read.parquet(s"$dir/vectors")
      .select(PqIndex.CodeCol).as[Array[Byte]].collect()
    assert(codes.forall(_.length == 4), "4-bit m=8 codes must pack to 4 bytes")
    // the recorded width round-trips and search uses it: exact == flat
    assert(graft.operators.IvfIndex.vectorMeta(spark, dir).pqBits == 4)
    val q = queryVec(0L)
    val full = PqIndex.search(spark, dir, "vec_id", "embedding", q, 10,
      nprobes = 8, refineFactor = 100).select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(full == flat)
    // same codebooks, k ≤ 16: the nibble-packed ADC must equal the byte ADC
    val table = pq.adcTable(q)
    val v = embeddings.filter($"vec_id" === 7L)
      .select("embedding").head().getSeq[Float](0).toArray
    val c8 = PqIndex.encodeVec(v, pq)
    val c4 = new Array[Byte]((c8.length + 1) / 2)
    for (s <- c8.indices)
      c4(s >> 1) = (c4(s >> 1) | ((c8(s) & 0xf) << ((s & 1) * 4))).toByte
    assert(PqIndex.adc(table, c4, numBits = 4) == PqIndex.adc(table, c8),
      "nibble unpack must reproduce the byte-code ADC exactly")
    // k > 16 cannot be 4-bit encoded
    intercept[IllegalArgumentException] {
      PqIndex.build(embeddings, "vec_id", "embedding",
        Files.createTempDirectory("pq4bad_").toString,
        nlist = 4, m = 8, k = 32, numBits = 4)
    }
  }

  test("4-bit optimizeForTable encodes the delta nibble-packed") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("pq4tbl_").toString + "/t"
    val idx = Files.createTempDirectory("pq4idx_").toString
    val cut = 400L
    GraftTable.write(embeddings.filter($"vec_id" < cut)
      .repartitionByRange(2, $"vec_id"), t, "overwrite")
    PqIndex.buildForTable(spark, t, "vec_id", "embedding", idx,
      nlist = 8, m = 8, k = 16, numBits = 4)
    GraftTable.write(embeddings.filter($"vec_id" >= cut), t, "append")
    PqIndex.optimizeForTable(spark, t, "vec_id", "embedding", idx)
    val codes = spark.read.parquet(s"$idx/vectors")
      .select(PqIndex.CodeCol).as[Array[Byte]].collect()
    assert(codes.length == 500 && codes.forall(_.length == 4),
      "delta rows must encode at the index's recorded 4-bit width")
    val q = queryVec(3L)
    val full = PqIndex.searchCombined(spark, t, idx, "vec_id", "embedding",
        q, 10, nprobes = 8, refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(GraftTable.read(spark, t), "embedding", q, 10,
      "l2", Seq($"vec_id")).select("vec_id").as[Long].collect().toSeq
    assert(full == flat)
  }

  test("adc distance approximates true distance (rank correlation)") {
    val idx = buildIdx()
    val q = queryVec(0L)
    // full probe + huge refine -> exact result must equal flat search
    val full = PqIndex.search(spark, idx, "vec_id", "embedding", q, 10, nprobes = 8,
      refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(full == flat)
  }

  test("recall@10 with modest refine over 15 queries") {
    val idx = buildIdx()
    val recalls = (0L until 15L).map { qid =>
      val q = queryVec(qid)
      val truth = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
        .select("vec_id").as[Long].collect().toSet
      val approx = PqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
        nprobes = 4, refineFactor = 5)
        .select("vec_id").as[Long].collect().toSet
      truth.intersect(approx).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    info(f"IVF_PQ mean recall@10 (nprobes=4/8, refine=5): $mean%.3f")
    assert(mean >= 0.5, s"recall too low: $mean")
  }

  test("candidate pass reads only id+codes columns") {
    val idx = buildIdx()
    val q = queryVec(0L)
    // the ADC stage must not materialize the embedding column
    val plan = spark.read.parquet(s"$idx/vectors")
      .select($"vec_id", col(PqIndex.CodeCol))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,__pq_codes:binary>"), plan)
  }

  test("optimizeForTable PQ-encodes appended fragments; exact config == flat") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("pq_opt_").toString + "/t"
    val idx = Files.createTempDirectory("pq_opt_idx_").toString
    GraftTable.write(embeddings.filter($"vec_id" < 400), t, "overwrite")
    PqIndex.buildForTable(spark, t, "vec_id", "embedding", idx, nlist = 8, m = 8, k = 16)
    GraftTable.write(embeddings.filter($"vec_id" >= 400), t, "append")
    assert(PqIndex.optimizeForTable(spark, t, "vec_id", "embedding", idx) == 100L)
    val qv = queryVec(0L)
    // full probes + refine covering the corpus == flat over ALL 500 vectors
    val viaIdx = PqIndex.search(spark, idx, "vec_id", "embedding", qv,
        kNeighbors = 10, nprobes = 8, refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(embeddings, "embedding", qv, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(viaIdx == flat)
    assert(PqIndex.optimizeForTable(spark, t, "vec_id", "embedding", idx) == 0L)
  }

  test("cosine metric: full probes + refine == flat cosine search") {
    val dir = Files.createTempDirectory("pq_cos_").toString
    PqIndex.build(embeddings, "vec_id", "embedding", dir, nlist = 8, m = 8, k = 16,
      metric = "cosine")
    val q = queryVec(3L)
    val got = PqIndex.search(spark, dir, "vec_id", "embedding", q, 10, nprobes = 8,
        refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(embeddings, "embedding", q, 10, "cosine", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(got == flat)
  }

  test("residual variant is recorded, honored, and beats raw-space recall") {
    // same data + params, the only difference is the code space
    val rawIdx = Files.createTempDirectory("pq_raw_").toString
    PqIndex.build(embeddings, "vec_id", "embedding", rawIdx, nlist = 8, m = 8, k = 16,
      residual = false)
    val resIdx = buildIdx() // default: residual
    assert(graft.operators.IvfIndex.vectorMeta(spark, rawIdx).pqVariant == "raw")
    assert(graft.operators.IvfIndex.vectorMeta(spark, resIdx).pqVariant == "residual")

    def meanRecall(idx: String): Double = {
      val recalls = (0L until 15L).map { qid =>
        val q = queryVec(qid)
        val truth = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
          .select("vec_id").as[Long].collect().toSet
        val approx = PqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
          nprobes = 4, refineFactor = 5)
          .select("vec_id").as[Long].collect().toSet
        truth.intersect(approx).size.toDouble / truth.size
      }
      recalls.sum / recalls.length
    }
    val raw = meanRecall(rawIdx)
    val res = meanRecall(resIdx)
    info(f"recall@10 raw-space: $raw%.3f residual-space: $res%.3f")
    // residual codes quantize a tighter ball with the same (m, k) budget —
    // the whole point of the variant; allow equality (both paths share the
    // exact refine)
    assert(res >= raw, f"residual recall $res%.3f below raw $raw%.3f")
    // both remain exact under full probe + full refine
    val q0 = queryVec(0L)
    val flat = Knn.flatSearch(embeddings, "embedding", q0, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    for (idx <- Seq(rawIdx, resIdx)) {
      val full = PqIndex.search(spark, idx, "vec_id", "embedding", q0, 10,
        nprobes = 8, refineFactor = 100).select("vec_id").as[Long].collect().toSeq
      assert(full == flat)
    }
  }

  test("legacy meta without a pq field reads as raw") {
    val dir = Files.createTempDirectory("pq_legacy_").toString
    graft.operators.IvfIndex.writeVectorMeta(spark, dir, "l2")
    assert(graft.operators.IvfIndex.vectorMeta(spark, dir).pqVariant == "raw")
  }

  test("searchCombined: deletes + fresh appends == flat over the live set") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("pq_comb_").toString + "/t"
    val idx = s"$t/_indices/ivfpq_embedding"
    GraftTable.write(embeddings.filter($"vec_id" < 400).repartition(4), t, "overwrite")
    PqIndex.buildForTable(spark, t, "vec_id", "embedding", idx, nlist = 8, m = 8, k = 16)
    GraftTable.delete(spark, t, "vec_id % 7 = 0") // indexed rows now DV-dead
    GraftTable.write(embeddings.filter($"vec_id" >= 400), t, "append") // uncovered
    val qv = queryVec(0L)
    val got = PqIndex.searchCombined(spark, t, idx, "vec_id", "embedding", qv,
        k = 10, nprobes = 8, refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val flat = Knn.flatSearch(GraftTable.read(spark, t), "embedding", qv, 10, "l2",
        Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(got == flat)
    assert(got.filter(_ < 400).forall(_ % 7 != 0)) // deleted indexed rows stay dead
  }

  test("serveLocal: PQ serving matches search() ids AND distances, no jobs warm (r16)") {
    val idx = buildIdx()
    PqIndex.serveUnpersist(idx)
    val resident = PqIndex.serveWarm(spark, idx, "vec_id", "embedding")
    assert(resident == embeddings.count(), s"all code rows resident, got $resident")
    for (qid <- Seq(0L, 7L, 123L); rf <- Seq(4, 10)) {
      val q = queryVec(qid)
      val batched = PqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
          nprobes = 3, refineFactor = rf)
        .select(col("vec_id"), col(Knn.DistanceCol))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val tracker = spark.sparkContext.statusTracker
      val before = tracker.getJobIdsForGroup(null).length
      val served = PqIndex.serveLocal(spark, idx, "vec_id", "embedding", q,
        10, nprobes = 3, refineFactor = rf)
      assert(tracker.getJobIdsForGroup(null).length == before,
        "warm serveLocal must not launch a Spark job")
      assert(served == batched, s"qid=$qid rf=$rf: $served != $batched")
    }
  }

  test("serveLocal: residual AND raw variants, cosine metric, all parity (r16)") {
    for (residual <- Seq(true, false)) {
      val dir = Files.createTempDirectory(s"pq_serve_${residual}_").toString
      PqIndex.build(embeddings, "vec_id", "embedding", dir, nlist = 8, m = 8,
        k = 16, metric = "cosine", residual = residual)
      PqIndex.serveUnpersist(dir)
      val q = queryVec(42L)
      val batched = PqIndex.search(spark, dir, "vec_id", "embedding", q, 10,
          nprobes = 4, refineFactor = 6)
        .select(col("vec_id"), col(Knn.DistanceCol))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val served = PqIndex.serveLocal(spark, dir, "vec_id", "embedding", q,
        10, nprobes = 4, refineFactor = 6)
      assert(served == batched, s"residual=$residual: $served != $batched")
    }
  }

  test("serveLocal staleness: rebuild at the same path serves the NEW index (r16)") {
    // pin the epoch-recheck throttle off: the guard semantics under test
    // must not depend on the rebuild outlasting the TTL window (r16)
    spark.conf.set("spark.graft.serve.epoch.ttl.ms", "0")
    try {
      val dir = Files.createTempDirectory("pq_stale_").toString
      PqIndex.build(embeddings.filter($"vec_id" < 300), "vec_id", "embedding",
        dir, nlist = 4, m = 8, k = 16)
      PqIndex.serveUnpersist(dir)
      val q = queryVec(0L)
      val servedOld = PqIndex.serveLocal(spark, dir, "vec_id", "embedding", q, 5,
        nprobes = 4)
      assert(servedOld.forall(_._1 < 300))
      // rebuild IN PLACE over a disjoint id range; the epoch guard alone must
      // retire the resident codes, vectors, and codebook state
      PqIndex.build(embeddings.filter($"vec_id" >= 300 && $"vec_id" < 600),
        "vec_id", "embedding", dir, nlist = 4, m = 8, k = 16)
      val servedNew = PqIndex.serveLocal(spark, dir, "vec_id", "embedding", q, 5,
        nprobes = 4)
      assert(servedNew.forall(p => p._1 >= 300 && p._1 < 600),
        s"stale serve cache answered for the dropped index: $servedNew")
      val batched = PqIndex.search(spark, dir, "vec_id", "embedding", q, 5,
          nprobes = 4)
        .select(col("vec_id"), col(Knn.DistanceCol))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(servedNew == batched)
    } finally spark.conf.unset("spark.graft.serve.epoch.ttl.ms")
  }

  test("serve budget: warm refuses over-budget, shrink evicts immediately (r16)") {
    val idx = buildIdx()
    PqIndex.serveUnpersist(idx)
    spark.conf.set(PqIndex.ServeCodesBudgetKey, "4")
    try {
      val e = intercept[IllegalArgumentException] {
        PqIndex.serveWarm(spark, idx, "vec_id", "embedding") // nlist=8 > 4
      }
      assert(e.getMessage.contains(PqIndex.ServeCodesBudgetKey), e.getMessage)
      spark.conf.set(PqIndex.ServeCodesBudgetKey, "8")
      PqIndex.serveWarm(spark, idx, "vec_id", "embedding")
      assert(PqIndex.serveCacheSize == 8)
      spark.conf.set(PqIndex.ServeCodesBudgetKey, "3")
      PqIndex.serveLocal(spark, idx, "vec_id", "embedding", queryVec(0L), 5,
        nprobes = 2)
      assert(PqIndex.serveCacheSize <= 3,
        s"shrunk budget left ${PqIndex.serveCacheSize} resident")
    } finally spark.conf.unset(PqIndex.ServeCodesBudgetKey)
  }

  test("serveLocal prefilter: applied before ADC ranking, parity with batched (r16)") {
    val idx = buildIdx()
    PqIndex.serveUnpersist(idx)
    PqIndex.serveWarm(spark, idx, "vec_id", "embedding")
    val q = queryVec(0L)
    val batched = PqIndex.search(spark, idx, "vec_id", "embedding", q, 10,
        nprobes = 3, refineFactor = 6, prefilter = Some(col("vec_id") % 2 === 0))
      .select(col("vec_id"), col(Knn.DistanceCol))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = PqIndex.serveLocal(spark, idx, "vec_id", "embedding", q, 10,
      nprobes = 3, refineFactor = 6, allowed = Some(id => id % 2 == 0))
    assert(served == batched, s"$served != $batched")
    assert(served.size == 10 && served.forall(_._1 % 2 == 0))
  }
}
