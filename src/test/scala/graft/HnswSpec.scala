package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{HnswIndex, Knn}

class HnswSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = Tables.embeddings(spark, sf)

  private def queryVec(id: Long): Array[Float] =
    embeddings.filter($"vec_id" === id).select("embedding")
      .head().getSeq[Float](0).toArray

  private lazy val idx: String = {
    val dir = Files.createTempDirectory("hnsw_").toString
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64)
    dir
  }

  test("graph covers every vector exactly once, layered") {
    val g = spark.read.parquet(s"$idx/graph")
    assert(g.count() == 500)
    assert(g.select("id").distinct().count() == 500)
    assert(g.filter(col("level") > 0).count() > 0, "multi-layer graph expected")
    // every node has layer-0 neighbors (connected locally)
    assert(g.filter(size(element_at(col("nbrs"), 1)) === 0).count() == 0)
  }

  test("serveLocal: driver-local serving matches the batched beam, no Spark jobs when warm (r14)") {
    // parity: the same greedy+beam arithmetic runs driver-side, so ids AND
    // distances must match the batched search exactly
    val qs = Seq(3L, 57L, 211L)
    val resident = HnswIndex.serveWarm(spark, idx)
    assert(resident == 500L, s"all nodes resident, got $resident")
    qs.foreach { qid =>
      val q = queryVec(qid)
      val batched = HnswIndex.search(spark, idx, q, 10, nprobes = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val tracker = spark.sparkContext.statusTracker
      val before = tracker.getJobIdsForGroup(null).length
      val served = HnswIndex.serveLocal(spark, idx, q, 10, nprobes = 4)
      assert(tracker.getJobIdsForGroup(null).length == before,
        "warm serveLocal must not launch a Spark job")
      assert(served == batched, s"qid=$qid: $served != $batched")
    }
    // serveUnpersist releases the resident graphs; next query re-warms
    HnswIndex.serveUnpersist(idx)
    val again = HnswIndex.serveLocal(spark, idx, queryVec(3L), 5, nprobes = 4)
    assert(again.length == 5)
    // warming more partitions than the LRU budget refuses instead of
    // silently evicting what it just loaded (r14 review)
    spark.conf.set(HnswIndex.ServeCacheBudgetKey, "2")
    try {
      val err = intercept[IllegalArgumentException] {
        HnswIndex.serveWarm(spark, idx) // nlist = 4 > budget 2
      }
      assert(err.getMessage.contains("serve budget"), err.getMessage)
      // a subset within budget is fine
      assert(HnswIndex.serveWarm(spark, idx, pids = Seq(0, 1)) >= 0L)
    } finally spark.conf.unset(HnswIndex.ServeCacheBudgetKey)
  }

  test("serveLocal over quantized node storage: ADC beam + exact refine match the batched search, no jobs warm (r16)") {
    // the last batched-only serve cell: SQ and PQ graphs serve driver-
    // locally with the batched two-pass arithmetic — ids AND distances
    // equal search() at equal refineFactor
    val qs = Seq(7L, 123L, 402L)
    for ((storage, metric) <- Seq(("sq", "l2"), ("sq", "cosine"),
                                  ("pq", "l2"), ("pq", "cosine"))) {
      val dir = Files.createTempDirectory(s"hnsw_${storage}_serve_").toString
      HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
        "vec_id", "embedding", dir, nlist = 4, m = 16, storage = storage,
        metric = metric, pqM = 8)
      val resident = HnswIndex.serveWarm(spark, dir)
      assert(resident == 500L, s"$storage/$metric: $resident resident")
      qs.foreach { qid =>
        val q = queryVec(qid)
        val batched = HnswIndex.search(spark, dir, q, 10, nprobes = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val tracker = spark.sparkContext.statusTracker
        val before = tracker.getJobIdsForGroup(null).length
        val served = HnswIndex.serveLocal(spark, dir, q, 10, nprobes = 4)
        assert(tracker.getJobIdsForGroup(null).length == before,
          s"$storage/$metric: warm quantized serveLocal launched a Spark job")
        assert(served == batched, s"$storage/$metric qid=$qid: $served != $batched")
      }
      HnswIndex.serveUnpersist(dir)
    }
  }

  test("serveLocal prefilter: excluded ids route but never emit — batched dead-mark parity (r16)") {
    // batched twin: the searchCombined broadcast mask is a dead-mark on
    // the graph; search(markDead) applies the identical mechanism, so a
    // serve-side `allowed` predicate must reproduce it exactly
    val pred: Long => Boolean = id => id % 3 != 0
    val markDead: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      g => g.withColumn("__dead", col("id") % 3 === 0)
    for (storage <- Seq("flat", "sq")) {
      val dir = Files.createTempDirectory(s"hnsw_pf_${storage}_").toString
      HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
        "vec_id", "embedding", dir, nlist = 4, m = 16, storage = storage)
      HnswIndex.serveWarm(spark, dir)
      val q = queryVec(42L)
      val batched = HnswIndex.search(spark, dir, q, 10, nprobes = 4,
          markDead = Some(markDead))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val served = HnswIndex.serveLocal(spark, dir, q, 10, nprobes = 4,
        allowed = Some(pred))
      assert(served == batched, s"$storage: $served != $batched")
      assert(served.forall(e => pred(e._1)))
      HnswIndex.serveUnpersist(dir)
    }
  }

  test("serveLocal staleness guard: rebuild at the same path serves the NEW graph (r15)") {
    // pin the epoch-recheck throttle off: the guard semantics under test
    // must not depend on the rebuild outlasting the TTL window (r16)
    spark.conf.set("spark.graft.serve.epoch.ttl.ms", "0")
    try {
      val dir = Files.createTempDirectory("hnsw_stale_").toString
      HnswIndex.build(embeddings.filter($"vec_id" < 250).select($"vec_id", $"embedding"),
        "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64)
      HnswIndex.serveUnpersist(dir)
      val q = queryVec(3L)
      val servedOld = HnswIndex.serveLocal(spark, dir, q, 5, nprobes = 4)
      assert(servedOld.forall(_._1 < 250))
      // rebuild in place over a disjoint id range with NO explicit
      // serveUnpersist: the on-disk epoch check must purge the dead
      // incarnation's resident graphs and model
      HnswIndex.build(
        embeddings.filter($"vec_id" >= 250 && $"vec_id" < 500)
          .select($"vec_id", $"embedding"),
        "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64)
      val servedNew = HnswIndex.serveLocal(spark, dir, q, 5, nprobes = 4)
      assert(servedNew.forall(e => e._1 >= 250 && e._1 < 500),
        s"stale serve cache answered for the dropped graph: $servedNew")
      val batched = HnswIndex.search(spark, dir, q, 5, nprobes = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(servedNew == batched)
    } finally spark.conf.unset("spark.graft.serve.epoch.ttl.ms")
  }

  test("partition-size guard fails fast with 'raise nlist', not an OOM") {
    val dir = Files.createTempDirectory("hnsw_guard_").toString
    spark.conf.set(HnswIndex.PartitionBudgetKey, "2048") // a few vectors' worth
    try {
      val e = intercept[org.apache.spark.SparkException] {
        HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
          "vec_id", "embedding", dir, nlist = 2, m = 16, efConstruction = 64)
      }
      // the actionable message surfaces through Spark's task-failure wrap
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("raise nlist")), e.getMessage)
    } finally spark.conf.unset(HnswIndex.PartitionBudgetKey)
    // and the same corpus builds fine under the default budget
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nlist = 2, m = 16, efConstruction = 64)
    assert(spark.read.parquet(s"$dir/graph").count() == 500)
  }

  test("recall@10 vs flat search is high at full probe") {
    val hits = (0 until 20).map { qi =>
      val q = queryVec(qi.toLong * 7 % 500)
      val approx = HnswIndex.search(spark, idx, q, k = 10, nprobes = 4, ef = 64)
        .select("id").as[Long].collect().toSet
      val exact = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
        .select("vec_id").as[Long].collect().toSet
      (approx intersect exact).size.toDouble / exact.size
    }
    val recall = hits.sum / hits.length
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("sq storage: cache holds codes not vectors; refined recall ≥ the flat variant's") {
    val dir = Files.createTempDirectory("hnsw_sq_").toString
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64,
      storage = "sq")
    HnswIndex.warm(spark, dir)
    // the cached/shuffled graph must carry int8 codes, NOT float vectors —
    // the entire point of quantized node storage at scale
    assert(HnswIndex.cachedPayloadType(dir)
      .contains(org.apache.spark.sql.types.BinaryType))
    def recallOf(searcher: Array[Float] => Set[Long]): Double = {
      val hits = (0 until 20).map { qi =>
        val q = queryVec(qi.toLong * 7 % 500)
        val exact = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
          .select("vec_id").as[Long].collect().toSet
        (searcher(q) intersect exact).size.toDouble / exact.size
      }
      hits.sum / hits.length
    }
    val sqRecall = recallOf(q => HnswIndex.search(spark, dir, q, k = 10, nprobes = 4, ef = 64)
      .select("id").as[Long].collect().toSet)
    val flatRecall = recallOf(q => HnswIndex.search(spark, idx, q, k = 10, nprobes = 4, ef = 64)
      .select("id").as[Long].collect().toSet)
    assert(sqRecall >= flatRecall - 1e-9,
      s"sq recall $sqRecall < flat recall $flatRecall")
    assert(sqRecall >= 0.9, s"sq recall@10 = $sqRecall")
    // distances come from the EXACT refine pass: the self-query's nearest
    // hit is itself at distance ~0 despite the lossy beam
    val q0 = queryVec(42L)
    val top = HnswIndex.search(spark, dir, q0, k = 3, nprobes = 4, ef = 64)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 42L && top.head._2 < 1e-6, top.toSeq.toString)
  }

  test("pq storage: cache holds pqM-byte codes; exact config matches flat search") {
    val dir = Files.createTempDirectory("hnsw_pq_").toString
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64,
      storage = "pq", pqM = 8, pqK = 16)
    HnswIndex.warm(spark, dir)
    assert(HnswIndex.cachedPayloadType(dir)
      .contains(org.apache.spark.sql.types.BinaryType))
    // node codes live in residual space (recorded; beams rank per-pid)
    assert(graft.operators.IvfIndex.vectorMeta(spark, dir).pqVariant == "residual")
    // the persisted codes are pqM bytes — d/pqM× smaller than the d-byte SQ
    // codes and 4·d/pqM× smaller than the float vectors
    val d = embeddings.head().getSeq[Float](
      embeddings.schema.fieldIndex("embedding")).length
    val codeLens = spark.read.parquet(s"$dir/graph")
      .select(length(col("codes"))).distinct().as[Int].collect().toSeq
    assert(codeLens == Seq(8), s"expected 8-byte PQ codes, got $codeLens (d=$d)")
    // exhaustive beam + refine == exact flat search (the gate contract)
    val q = queryVec(123L)
    val viaPq = HnswIndex.search(spark, dir, q, k = 10, nprobes = 4,
        ef = 500, refineFactor = 100)
      .as[(Long, Double)].collect().toSeq
    val exact = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
      .select($"vec_id", col(Knn.DistanceCol)).as[(Long, Double)].collect().toSeq
    assert(viaPq.map(_._1) == exact.map(_._1), s"$viaPq vs $exact")
    viaPq.zip(exact).foreach { case ((_, dp), (_, de)) =>
      assert(math.abs(dp - de) < 1e-4, s"refined distance drift: $dp vs $de")
    }
    // realistic lossy config still recalls well (beam on 8-byte codes)
    val hits = (0 until 20).map { qi =>
      val qv = queryVec(qi.toLong * 7 % 500)
      val approx = HnswIndex.search(spark, dir, qv, k = 10, nprobes = 4, ef = 64)
        .select("id").as[Long].collect().toSet
      val ex = Knn.flatSearch(embeddings, "embedding", qv, 10, "l2", Seq($"vec_id"))
        .select("vec_id").as[Long].collect().toSet
      (approx intersect ex).size.toDouble / ex.size
    }
    val recall = hits.sum / hits.length
    assert(recall >= 0.8, s"pq recall@10 = $recall")
  }

  test("pq storage with 4-bit codes: half the node bytes, exact config still matches flat") {
    val dir = Files.createTempDirectory("hnsw_pq4_").toString
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64,
      storage = "pq", pqM = 8, pqK = 16, pqBits = 4)
    assert(graft.operators.IvfIndex.vectorMeta(spark, dir).pqBits == 4)
    // nibble-packed: 4 bytes per node instead of 8
    val codeLens = spark.read.parquet(s"$dir/graph")
      .select(length(col("codes"))).distinct().as[Int].collect().toSeq
    assert(codeLens == Seq(4), s"expected 4-byte packed codes, got $codeLens")
    val q = queryVec(123L)
    val via4 = HnswIndex.search(spark, dir, q, k = 10, nprobes = 4,
        ef = 500, refineFactor = 100)
      .select("id").as[Long].collect().toSeq
    val exact = Knn.flatSearch(embeddings, "embedding", q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(via4 == exact)
    // pqK > 16 cannot be 4-bit encoded
    intercept[IllegalArgumentException] {
      HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
        "vec_id", "embedding",
        Files.createTempDirectory("hnsw_pq4bad_").toString,
        nlist = 4, storage = "pq", pqM = 8, pqK = 32, pqBits = 4)
    }
  }

  test("cosine metric: high recall vs flat cosine, distances on the cosine scale") {
    val dir = Files.createTempDirectory("hnsw_cos_").toString
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nlist = 4, m = 16, efConstruction = 64,
      metric = "cosine")
    val hits = (0 until 10).map { qi =>
      val q = queryVec(qi.toLong * 13 % 500)
      val approx = HnswIndex.search(spark, dir, q, k = 10, nprobes = 4, ef = 128)
        .select("id").as[Long].collect().toSet
      val exact = Knn.flatSearch(embeddings, "embedding", q, 10, "cosine", Seq($"vec_id"))
        .select("vec_id").as[Long].collect().toSet
      (approx intersect exact).size.toDouble / exact.size
    }
    val recall = hits.sum / hits.length
    assert(recall >= 0.9, s"cosine recall@10 = $recall")
    // output distances are cosine distances (1 - cos ∈ [0, 2]), and the
    // self-query's nearest hit is itself at distance ~0
    val q0 = queryVec(42L)
    val top = HnswIndex.search(spark, dir, q0, k = 3, nprobes = 4, ef = 128)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 42L && top.head._2 < 1e-6, top.toSeq.toString)
    assert(top.forall { case (_, d) => d >= 0.0 && d <= 2.0 + 1e-9 })
  }

  test("probing fewer partitions still returns k ordered results") {
    val q = queryVec(3L)
    val r = HnswIndex.search(spark, idx, q, k = 10, nprobes = 1, ef = 32)
      .as[(Long, Double)].collect().toSeq
    assert(r.size == 10)
    assert(r.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("table-backed search never returns deleted or compacted-away rows") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_tbl_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_tblidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4)
    GraftTable.delete(spark, t, "vec_id < 100")
    val q = queryVec(7L * 3 % 500)

    // DV-only state: deleted nodes must be routing-only
    val afterDelete = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding",
        q, k = 10, nprobes = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(afterDelete.size == 10)
    assert(afterDelete.forall(_ >= 100),
      s"deleted ids surfaced after delete: ${afterDelete.filter(_ < 100)}")

    // compaction materializes DVs and retires fragment ids: dead-fragment
    // nodes must not duplicate the flat side's rewritten fragments
    GraftTable.compactFiles(spark, t, targetRows = 200, materializeDeletions = 0.1)
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(r.size == 10)
    assert(r.distinct.size == 10, "compaction produced duplicate hits")
    assert(r.forall(_ >= 100), s"deleted ids surfaced after compact: ${r.filter(_ < 100)}")
    val exact = Knn.flatSearch(embeddings.filter($"vec_id" >= 100), "embedding",
        q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSet
    assert((r.toSet intersect exact).size >= 8, s"recall too low: $r vs $exact")
  }

  test("pq storage, table-backed: combined search survives deletes + fresh appends") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_pqtbl_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_pqtblidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4,
      storage = "pq", pqM = 8, pqK = 16)
    GraftTable.delete(spark, t, "vec_id < 100")
    // rows appended after the build take the flat-union leg
    val fresh = embeddings.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + 10000L)
    GraftTable.write(fresh, t, "append")
    val q = queryVec(21L)
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    assert(r.size == 10 && r.distinct.size == 10, r.toString)
    assert(r.forall(_ >= 100), s"deleted ids surfaced: ${r.filter(_ < 100)}")
    // exhaustive beam + wide refine over ADC codes == exact over the live set
    val live = embeddings.filter($"vec_id" >= 100).union(fresh)
    val exact = Knn.flatSearch(live, "embedding", q, 10, "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(r == exact, s"$r vs $exact")
  }

  test("prefilter: beam emits the true top-k of the matching rows only") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_pf_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_pfidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4)
    // appended-after-build rows exercise the filtered fresh leg too
    GraftTable.write(embeddings.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + 10000L), t, "append")
    val q = queryVec(42L)
    val pred = expr("vec_id % 2 = 0")
    val exact = Knn.flatSearch(
        GraftTable.read(spark, t).filter(pred), "embedding", q, 10, "l2",
        Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    // exhaustive beam (ef covers the corpus) ⇒ mask path must equal exact
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, prefilter = Some(pred))
      .select("vec_id").as[Long].collect().toSeq
    assert(r.forall(_ % 2 == 0), s"non-matching ids surfaced: $r")
    assert(r.toSet == exact.toSet, s"mask path: $r vs exact $exact")
    // match set over maskCap ⇒ degrades to the exact flat scan, same result
    val fb = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, prefilter = Some(pred), maskCap = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(fb.toSet == exact.toSet, s"fallback path: $fb vs exact $exact")
  }

  test("graph cache is LRU-bounded: eviction releases storage") {
    HnswIndex.unpersistAll()
    // CacheCapacity+1 tiny indexes; touching them in order must evict the
    // first and leave at most CacheCapacity persisted
    val dirs = (0 to HnswIndex.currentCacheCapacity).map { i =>
      val d = Files.createTempDirectory(s"hnsw_lru_$i").toString
      HnswIndex.build(embeddings.filter($"vec_id" < 64).select($"vec_id", $"embedding"),
        "vec_id", "embedding", d, nlist = 2, m = 8, efConstruction = 16)
      d
    }
    dirs.foreach(d => HnswIndex.warm(spark, d))
    val cached = HnswIndex.cachedPaths()
    assert(cached.size == HnswIndex.currentCacheCapacity,
      s"expected ${HnswIndex.currentCacheCapacity} cached, got ${cached.size}")
    assert(!cached.contains(dirs.head), "LRU head survived eviction")
    // evicted entries must have released their blocks
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted <= HnswIndex.currentCacheCapacity + 1,
      s"$persisted RDDs still persisted after eviction")
    // explicit release drops everything
    HnswIndex.unpersistAll()
    assert(HnswIndex.cachedPaths().isEmpty)
  }

  test("delta optimize: appended fragments get a sub-graph, covered graph files untouched") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_delta_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_deltaidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4,
      storage = "sq")
    // fingerprint every file of the covered graph before the optimize
    val gp = new org.apache.hadoop.fs.Path(s"$ix/graph")
    val fs = gp.getFileSystem(spark.sessionState.newHadoopConf())
    def snapshot(): Map[String, (Long, Long)] = {
      val it = fs.listFiles(gp, true)
      val b = Seq.newBuilder[(String, (Long, Long))]
      while (it.hasNext) { val s = it.next()
        b += s.getPath.toString -> ((s.getLen, s.getModificationTime)) }
      b.result().toMap
    }
    val before = snapshot()
    val fresh = embeddings.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + 10000L)
    GraftTable.write(fresh, t, "append")
    val n = HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix)
    assert(n == 20, s"expected 20 delta rows indexed, got $n")
    // O(delta) IO: the covered partitions' graph files are byte-identical
    assert(snapshot() == before, "optimize rewrote covered graph files")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ix/graph_delta_000")),
      "no delta sub-graph written")
    // coverage is now complete: the indexed-only (fast_search) path must
    // see the appended rows through the delta sub-graph
    val q = queryVec(5L)
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, refineFactor = 100, fastSearch = true)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.flatSearch(embeddings.union(fresh), "embedding", q, 10,
        "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(r == exact, s"$r vs $exact")
    assert(r.exists(_ >= 10000L), "delta rows absent from indexed-only search")

    // a second optimize with nothing new appends no generation
    assert(HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix) == 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ix/graph_delta_001")))

    // compaction retires covered fragments → addresses are REMAPPED in
    // place (graft.operators.IndexRemap): the delta generation survives
    // and no graph is rebuilt
    GraftTable.delete(spark, t, "vec_id < 50")
    GraftTable.compactFiles(spark, t, targetRows = 200, materializeDeletions = 0.1)
    HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ix/graph_delta_000")),
      "remap should preserve delta generations, not rebuild")
    val r2 = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, refineFactor = 100)
      .select("vec_id").as[Long].collect().toSeq
    val exact2 = Knn.flatSearch(
        embeddings.union(fresh).filter($"vec_id" >= 50), "embedding", q, 10,
        "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(r2 == exact2, s"$r2 vs $exact2")
  }

  test("delta merge policy bounds generation count; search still exact") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_merge_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_mergeidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4)
    val fs = new org.apache.hadoop.fs.Path(ix)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def deltas(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(ix)).map(_.getPath.getName)
        .filter(_.startsWith("graph_delta_")).sorted.toSeq
    // four append→optimize cycles with maxDeltas=2: generations must merge
    var appended = embeddings.limit(0)
    for (i <- 0 until 4) {
      val fresh = embeddings.filter($"vec_id" < 15)
        .withColumn("vec_id", $"vec_id" + lit(10000L * (i + 1)))
      GraftTable.write(fresh, t, "append")
      appended = appended.union(fresh)
      assert(HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix,
        maxDeltas = 2) == 15L)
      assert(deltas().size <= 2,
        s"merge policy failed to bound generations: ${deltas()}")
    }
    // every appended row is still reachable through the indexed-only path
    val q = queryVec(5L)
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, refineFactor = 100, fastSearch = true)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.flatSearch(embeddings.union(appended), "embedding", q, 10,
        "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(r == exact, s"$r vs $exact")
  }

  test("delta merge recovers a crash between marker and swap (roll-forward)") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_crash_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_crashidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4)
    val fresh = embeddings.filter($"vec_id" < 15)
      .withColumn("vec_id", $"vec_id" + lit(10000L))
    GraftTable.write(fresh, t, "append")
    HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix, maxDeltas = 8)
    val p = new org.apache.hadoop.fs.Path(ix)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def deltas(): Seq[String] =
      fs.listStatus(p).map(_.getPath.getName)
        .filter(n => n.startsWith("graph_delta_") &&
          n.stripPrefix("graph_delta_").forall(_.isDigit)).sorted.toSeq
    val fresh2 = fresh.withColumn("vec_id", $"vec_id" + lit(10000L))
    GraftTable.write(fresh2, t, "append")
    HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix, maxDeltas = 8)
    val gen = deltas()
    assert(gen.size == 2)
    // CRASH after the merge's first roll-forward step: the newer source
    // generation is deleted, the merged graph not yet in the oldest slot
    graft.index.StagedSwap.TestHooks.at = pt =>
      if (pt == "after-step-0") throw new IllegalStateException("crash")
    try intercept[IllegalStateException](
      HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix, maxDeltas = 1))
    finally graft.index.StagedSwap.TestHooks.at = _ => ()
    val stage = new org.apache.hadoop.fs.Path(p, "_stage")
    assert(fs.exists(stage) && deltas() == gen.take(1))
    // search triggers the roll-forward: the merged graph lands in the head slot
    val q = queryVec(5L)
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, refineFactor = 100, fastSearch = true)
      .select("vec_id").as[Long].collect().toSeq
    assert(!fs.exists(stage), "stage consumed by recovery")
    assert(deltas() == gen.take(1), "merged generation under the oldest numeric name")
    val exact = Knn.flatSearch(embeddings.union(fresh).union(fresh2), "embedding", q, 10,
        "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(r == exact, s"post-recovery search exact: $r vs $exact")
  }

  test("full rebuild discards a crashed merge's tmp instead of resurrecting it") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("hnsw_rbtmp_").toString + "/t"
    val ix = Files.createTempDirectory("hnsw_rbtmpidx_").toString + "/ix"
    GraftTable.write(embeddings.repartitionByRange(4, $"vec_id"), t, "overwrite")
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4)
    val fresh = embeddings.filter($"vec_id" < 15)
      .withColumn("vec_id", $"vec_id" + lit(10000L))
    GraftTable.write(fresh, t, "append")
    HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix, maxDeltas = 8)
    val fresh2 = fresh.withColumn("vec_id", $"vec_id" + lit(10000L))
    GraftTable.write(fresh2, t, "append")
    HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix, maxDeltas = 8)
    val p = new org.apache.hadoop.fs.Path(ix)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // crashed merge: a SEALED stage holding PRE-REBUILD delta rows
    graft.index.StagedSwap.TestHooks.at = pt =>
      if (pt == "after-seal") throw new IllegalStateException("crash")
    try intercept[IllegalStateException](
      HnswIndex.optimizeForTable(spark, t, "vec_id", "embedding", ix, maxDeltas = 1))
    finally graft.index.StagedSwap.TestHooks.at = _ => ()
    val stage = new org.apache.hadoop.fs.Path(p, "_stage/_SEALED")
    assert(fs.exists(stage))
    // FULL rebuild collapses the deltas — and must take the stale stage
    // with them, or the next search's recovery would land pre-rebuild rows
    // as a live generation over the fresh base graph
    HnswIndex.buildForTable(spark, t, "vec_id", "embedding", ix, nlist = 4)
    assert(!fs.exists(stage.getParent), "rebuild must discard the crashed merge stage")
    val q = queryVec(5L)
    val r = HnswIndex.searchCombined(spark, t, ix, "vec_id", "embedding", q,
        k = 10, nprobes = 4, ef = 600, refineFactor = 100, fastSearch = true)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.flatSearch(embeddings.union(fresh).union(fresh2), "embedding", q, 10,
        "l2", Seq($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(r == exact, s"post-rebuild search exact: $r vs $exact")
  }

  test("deterministic rebuild: identical graphs") {
    val d2 = Files.createTempDirectory("hnsw2_").toString
    HnswIndex.build(embeddings.select($"vec_id", $"embedding"),
      "vec_id", "embedding", d2, nlist = 4, m = 16, efConstruction = 64)
    val a = spark.read.parquet(s"$idx/graph")
      .select("id", "level", "nbrs").orderBy("id").collect().toSeq
    val b = spark.read.parquet(s"$d2/graph")
      .select("id", "level", "nbrs").orderBy("id").collect().toSeq
    assert(a == b)
  }
}
