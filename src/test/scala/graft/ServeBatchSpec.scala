package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable
import graft.operators._

/** Batched serve loads and serve freshness, over every driver-local serve
  * family: a warm or a query reads all the partitions (terms) it misses in
  * one scan, so a warm's Spark job count does not grow with nlist (the term
  * count); an over-budget warm refuses before it reads anything; and
  * serving right after an in-process build or optimize answers from the
  * new index. The shared index cache ([[ServeCache]]) is checked on its
  * own too: identity moves, budget shrinks, hit/miss counting. Synthetic
  * data only. */
class ServeBatchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val dim = 16
  /** 500 deterministic 16-d vectors: component i of row r is sin(r·(i+1)). */
  private def embeddings: DataFrame = spark.range(0, 500).select(col("id").as("vec_id"),
    array((0 until dim).map(i => sin(col("id") * (i + 1)).cast("float")): _*).as("embedding"))
  /** The same rows as packed sign bits (hamming). */
  private def packed: DataFrame = embeddings.select(col("vec_id"),
    ColumnBridge.column(PackSignBits(ColumnBridge.expression(col("embedding")))).as("bits"))
  /** 500 three-word docs; doc r holds a(r%7) b(r%11) c(r%13). */
  private def docs: DataFrame = spark.range(0, 500).select(col("id"),
    concat_ws(" ", concat(lit("a"), col("id") % 7), concat(lit("b"), col("id") % 11),
      concat(lit("c"), col("id") % 13)).as("text"))

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  /** Spark jobs started by `f`. Job ids are sequential, so the count is the
    * move of the highest id, read after the listener bus drains; a count of
    * retained ids would stop moving at the UI's job retention limit. */
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

  private def rows(df: DataFrame, idCol: String): Seq[(Long, Double)] =
    df.select(col(idCol).cast("long"), col(Knn.DistanceCol).cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** A vector serve family: build at `nlist`, warm every partition (returns
    * resident rows), drop the serve state. */
  private case class Warmable(name: String, build: (String, Int) => Any,
                              warm: String => Long, unpersist: String => Unit)

  private def warmables(emb: DataFrame, bits: DataFrame): Seq[Warmable] = Seq(
    Warmable("ivf_flat", IvfIndex.build(emb, "vec_id", "embedding", _, _),
      IvfIndex.serveWarm(spark, _, "vec_id", "embedding"), IvfIndex.serveUnpersist),
    Warmable("pq", PqIndex.build(emb, "vec_id", "embedding", _, _, m = 4, k = 16),
      PqIndex.serveWarm(spark, _, "vec_id", "embedding"), PqIndex.serveUnpersist),
    Warmable("sq", SqIndex.build(emb, "vec_id", "embedding", _, _),
      SqIndex.serveWarm(spark, _, "vec_id", "embedding"), SqIndex.serveUnpersist),
    Warmable("rq", RqIndex.build(emb, "vec_id", "embedding", _, _),
      RqIndex.serveWarm(spark, _, "vec_id", "embedding"), RqIndex.serveUnpersist),
    Warmable("hamming", BinaryIvfIndex.build(bits, "vec_id", "bits", _, _),
      BinaryIvfIndex.serveWarm(spark, _, "vec_id", "bits"), BinaryIvfIndex.serveUnpersist),
    Warmable("hnsw", HnswIndex.build(emb, "vec_id", "embedding", _, _),
      HnswIndex.serveWarm(spark, _), HnswIndex.serveUnpersist))

  test("serveWarm runs as many Spark jobs at nlist 16 as at nlist 4 (every vector family)") {
    val emb = embeddings.cache()
    val bits = packed.cache()
    try for (f <- warmables(emb, bits)) {
      val counts = Seq(4, 16).map { nlist =>
        val dir = tmp(s"serve_${f.name}_$nlist")
        f.build(dir, nlist)
        f.unpersist(dir)
        var resident = 0L
        val n = jobs { resident = f.warm(dir) }
        f.unpersist(dir)
        assert(resident == 500L, s"${f.name} nlist $nlist: $resident resident")
        n
      }
      assert(counts.head == counts.last, s"${f.name}: warm jobs at nlist 4 / 16 = $counts")
    } finally { emb.unpersist(); bits.unpersist() }
  }

  test("FTS serveWarm of 2 terms and of 8 terms runs the same number of jobs") {
    val dir = tmp("serve_fts_warm")
    Fts.buildIndex(docs, "id", "text", dir)
    // untimed: fills the per-index meta memo, which outlives serveUnpersist
    Fts.serveWarm(spark, dir, Seq("c3"))
    val counts = Seq(Seq("a1", "b2"), Seq("a1", "a2", "a3", "b1", "b2", "b3", "c1", "c2"))
      .map { terms =>
        Fts.serveUnpersist(dir)
        var resident = 0L
        val n = jobs { resident = Fts.serveWarm(spark, dir, terms) }
        assert(resident > 0L && Fts.serveCacheSize >= terms.size,
          s"$terms: $resident rows, ${Fts.serveCacheSize} terms resident")
        n
      }
    Fts.serveUnpersist(dir)
    assert(counts.head == counts.last, s"FTS warm jobs for 2 / 8 terms = $counts")
  }

  test("a cold PQ serveLocal reads codes and refine vectors of its probes in one scan, equal to search") {
    val emb = embeddings
    val dir = tmp("serve_pq_cold")
    PqIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, m = 4, k = 16)
    val q = emb.filter(col("vec_id") === 7L).head().getSeq[Float](1).toArray
    val probes = IvfIndex.loadModel(spark, dir).rank(q).take(2)
    withConf(IvfIndex.ServeCacheBudgetKey -> "100000", PqIndex.ServeCodesBudgetKey -> "100000") {
      PqIndex.serveUnpersist(dir)
      // the serve state (model, codebook) and one unprobed partition resident
      PqIndex.serveWarm(spark, dir, "vec_id", "embedding",
        pids = Seq((0 until 8).find(p => !probes.contains(p)).get))
      val oneScan = jobs(spark.read.parquet(s"$dir/vectors")
        .filter(col(IvfIndex.PidCol).isin(probes: _*))
        .select(col(IvfIndex.PidCol), col("vec_id"), col("embedding"), col(PqIndex.CodeCol))
        .collect())
      val codeMiss = PqIndex.serveMisses.get
      val codeSize = PqIndex.serveCacheSize
      val vecMiss = IvfIndex.serveMisses.get
      val vecSize = IvfIndex.serveCacheSize
      var served = Seq.empty[(Long, Double)]
      val n = jobs {
        served = PqIndex.serveLocal(spark, dir, "vec_id", "embedding", q, 5, nprobes = 2)
      }
      assert(n == oneScan, s"cold serveLocal ran $n jobs, one scan runs $oneScan")
      assert(PqIndex.serveMisses.get - codeMiss == 2 && PqIndex.serveCacheSize - codeSize == 2,
        "both probed partitions' codes load once")
      val vecLoads = IvfIndex.serveMisses.get - vecMiss
      assert(vecLoads >= 1 && vecLoads == IvfIndex.serveCacheSize - vecSize,
        s"$vecLoads refine misses, ${IvfIndex.serveCacheSize - vecSize} newly resident")
      val batched = rows(PqIndex.search(spark, dir, "vec_id", "embedding", q, 5, nprobes = 2), "vec_id")
      assert(served == batched, s"$served != $batched")
      assert(jobs(PqIndex.serveLocal(spark, dir, "vec_id", "embedding", q, 5, nprobes = 2)) == 0,
        "warm serveLocal launched a Spark job")
      PqIndex.serveUnpersist(dir)
    }
  }

  test("an over-budget serveWarm refuses before any partition or term scan runs") {
    val dir = tmp("serve_refuse_pq")
    PqIndex.build(embeddings, "vec_id", "embedding", dir, nlist = 8, m = 4, k = 16)
    PqIndex.serveUnpersist(dir)
    PqIndex.serveWarm(spark, dir, "vec_id", "embedding", pids = Seq(0)) // state resident
    // the refine-vector budget refuses as early as the code budget
    for (key <- Seq(IvfIndex.ServeCacheBudgetKey, PqIndex.ServeCodesBudgetKey))
      withConf(key -> "3") {
        // (the shrunk budget may evict residents: only loads are counted)
        val before = PqIndex.serveMisses.get
        var err: Throwable = null
        val n = jobs {
          err = intercept[IllegalArgumentException](
            PqIndex.serveWarm(spark, dir, "vec_id", "embedding")) // nlist 8 > 3
        }
        assert(err.getMessage.contains(key), err.getMessage)
        assert(n == 0, s"$key: the refused warm ran $n jobs")
        assert(PqIndex.serveMisses.get == before, s"$key: codes loaded")
      }
    PqIndex.serveUnpersist(dir)
    val fts = tmp("serve_refuse_fts")
    Fts.buildIndex(docs, "id", "text", fts)
    Fts.serveUnpersist(fts)
    Fts.serveWarm(spark, fts, Seq("a1")) // state resident
    withConf(Fts.ServeTermBudgetKey -> "2") {
      var err: Throwable = null
      val n = jobs { err = intercept[IllegalArgumentException](
        Fts.serveWarm(spark, fts, Seq("a2", "b2", "c2"))) }
      assert(err.getMessage.contains(Fts.ServeTermBudgetKey), err.getMessage)
      assert(n == 0, s"the refused FTS warm ran $n jobs")
    }
    Fts.serveUnpersist(fts)
  }

  /** A serve family over a table: `rows` are the table, `q` row 7's query;
    * build/optimize write the index at `idx` for table `t`; `serve` and
    * `search` answer q (ids and distances or scores). */
  private case class Fresh(name: String, rows: DataFrame, idCol: String,
                           build: (String, String) => Any, warm: String => Any,
                           serve: String => Seq[(Long, Double)],
                           search: String => Seq[(Long, Double)],
                           optimize: (String, String) => Any,
                           unpersist: String => Unit)

  private def freshFamilies: Seq[Fresh] = {
    val emb = embeddings
    val q = emb.filter(col("vec_id") === 7L).head().getSeq[Float](1).toArray
    val bits = packed
    val qb = bits.filter(col("vec_id") === 7L).head().getAs[Array[Byte]](1)
    val terms = Seq("a0", "b7", "c7") // doc 7's words, all three in no other doc
    val (v, e) = ("vec_id", "embedding")
    Seq(
      Fresh("ivf_flat", emb, v, IvfIndex.buildForTable(spark, _, v, e, _, 4),
        IvfIndex.serveWarm(spark, _, v, e),
        IvfIndex.serveLocal(spark, _, v, e, q, 5, nprobes = 4),
        i => rows(IvfIndex.search(spark, i, v, e, q, 5, nprobes = 4), v),
        IvfIndex.optimizeForTable(spark, _, v, e, _), IvfIndex.serveUnpersist),
      Fresh("pq", emb, v, PqIndex.buildForTable(spark, _, v, e, _, 4, m = 4, k = 16),
        PqIndex.serveWarm(spark, _, v, e),
        PqIndex.serveLocal(spark, _, v, e, q, 5, nprobes = 4),
        i => rows(PqIndex.search(spark, i, v, e, q, 5, nprobes = 4), v),
        PqIndex.optimizeForTable(spark, _, v, e, _), PqIndex.serveUnpersist),
      Fresh("sq", emb, v, SqIndex.buildForTable(spark, _, v, e, _, 4),
        SqIndex.serveWarm(spark, _, v, e),
        SqIndex.serveLocal(spark, _, v, e, q, 5, nprobes = 4),
        i => rows(SqIndex.search(spark, i, v, e, q, 5, nprobes = 4), v),
        SqIndex.optimizeForTable(spark, _, v, e, _), SqIndex.serveUnpersist),
      Fresh("rq", emb, v, RqIndex.buildForTable(spark, _, v, e, _, 4),
        RqIndex.serveWarm(spark, _, v, e),
        RqIndex.serveLocal(spark, _, v, e, q, 5, nprobes = 4),
        i => rows(RqIndex.search(spark, i, v, e, q, 5, nprobes = 4), v),
        RqIndex.optimizeForTable(spark, _, v, e, _), RqIndex.serveUnpersist),
      Fresh("hamming", bits, v, BinaryIvfIndex.buildForTable(spark, _, v, "bits", _, 4),
        BinaryIvfIndex.serveWarm(spark, _, v, "bits"),
        BinaryIvfIndex.serveLocal(spark, _, v, "bits", qb, 5, nprobes = 4)
          .map { case (id, d) => (id, d.toDouble) },
        i => rows(BinaryIvfIndex.search(spark, i, v, "bits", qb, 5, nprobes = 4), v),
        BinaryIvfIndex.optimizeForTable(spark, _, v, "bits", _), BinaryIvfIndex.serveUnpersist),
      Fresh("hnsw", emb, v, HnswIndex.buildForTable(spark, _, v, e, _, 4),
        HnswIndex.serveWarm(spark, _),
        HnswIndex.serveLocal(spark, _, q, 5, nprobes = 4),
        i => HnswIndex.search(spark, i, q, 5, nprobes = 4).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        HnswIndex.optimizeForTable(spark, _, v, e, _), HnswIndex.serveUnpersist),
      Fresh("fts", docs, "id", (t, _) => Fts.buildForTable(spark, t, "id", "text"),
        Fts.serveWarm(spark, _, terms),
        Fts.serveLocal(spark, _, terms, 5),
        i => Fts.matchQuery(spark, i, terms, 5).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        (t, _) => Fts.optimizeForTable(spark, t, "id", "text"), Fts.serveUnpersist))
  }

  test("serveLocal right after an in-process optimize answers from the optimized index (every family)") {
    // at the default epoch TTL, and at a TTL long enough that only the
    // optimize dropping the serve state can make the new rows visible
    for (ttl <- Seq(None, Some("600000")); f <- freshFamilies) {
      val label = s"${f.name} ttl=${ttl.getOrElse("default")}"
      val t = tmp(s"fresh_${f.name}_") + "/t"
      val idx = if (f.name == "fts") s"$t/_indices/fts_text" else tmp(s"fresh_${f.name}_idx_")
      GraftTable.write(f.rows, t, "overwrite")
      f.build(t, idx)
      ttl.foreach(spark.conf.set("spark.graft.serve.epoch.ttl.ms", _))
      try {
        f.warm(idx)
        // five copies of row 7 (the query's row), new ids 10000..10004
        GraftTable.write(f.rows.filter(col(f.idCol) === 7L)
          .crossJoin(spark.range(5).withColumnRenamed("id", "__k"))
          .withColumn(f.idCol, col(f.idCol) + 10000L + col("__k")).drop("__k"), t, "append")
        f.serve(idx) // serving stays warm across appends
        f.optimize(t, idx)
        val served = f.serve(idx)
        val batched = f.search(idx)
        assert(batched.exists(_._1 >= 10000L), s"$label: search misses the appended rows: $batched")
        assert(served == batched, s"$label: serve $served != search $batched")
      } finally {
        spark.conf.unset("spark.graft.serve.epoch.ttl.ms")
        f.unpersist(idx)
      }
    }
  }

  /** The family's table at a fresh path and where its index goes. */
  private def tableAndIndex(f: Fresh, tag: String): (String, String) = {
    val t = tmp(s"${tag}_${f.name}_") + "/t"
    (t, if (f.name == "fts") s"$t/_indices/fts_text" else tmp(s"${tag}_${f.name}_idx_"))
  }

  /** Five copies of row 7 appended to table `t`, new ids 10000..10004. */
  private def appendCopies(f: Fresh, t: String): Unit =
    GraftTable.write(f.rows.filter(col(f.idCol) === 7L)
      .crossJoin(spark.range(5).withColumnRenamed("id", "__k"))
      .withColumn(f.idCol, col(f.idCol) + 10000L + col("__k")).drop("__k"), t, "append")

  test("every build and optimize path publishes a new index identity (every family)") {
    for (f <- freshFamilies) {
      val (t, idx) = tableAndIndex(f, "ident")
      GraftTable.write(f.rows, t, "overwrite")
      // an optimize of a path that holds no index fails and publishes nothing
      intercept[Exception](f.optimize(t, idx))
      val idFile = new org.apache.hadoop.fs.Path(idx, IndexIdentity.FileName)
      assert(!idFile.getFileSystem(spark.sessionState.newHadoopConf()).exists(idFile),
        s"${f.name}: a failed optimize published an identity")
      assert(IndexIdentity.of(spark, idx) == IndexIdentity.Legacy, f.name)
      f.build(t, idx)
      val built = IndexIdentity.of(spark, idx)
      assert(built != IndexIdentity.Legacy, s"${f.name}: build published nothing")
      assert(IndexIdentity.read(spark, idx) == built, s"${f.name}: memo != file after build")
      appendCopies(f, t)
      f.optimize(t, idx)
      val optimized = IndexIdentity.of(spark, idx)
      assert(optimized != built, s"${f.name}: optimize kept the identity")
      assert(IndexIdentity.read(spark, idx) == optimized, s"${f.name}: memo != file after optimize")
      f.unpersist(idx)
    }
    // the remaining writers of an index or model dir
    def moves(dir: String)(write: => Any): Unit = {
      val before = IndexIdentity.of(spark, dir)
      write
      assert(IndexIdentity.of(spark, dir) != before, s"$dir kept its identity")
    }
    val model = tmp("ident_model")
    moves(model)(IvfIndex.saveModelTo(spark, model, IvfIndex.Model(Array(Array(0f, 1f)))))
    val ftsSrc = tmp("ident_fts_src")
    Fts.buildIndex(docs, "id", "text", ftsSrc)
    val replica = tmp("ident_fts_replica")
    moves(replica)(Fts.replicateIndex(spark, ftsSrc, replica, 2))
    moves(ftsSrc)(Fts.optimizeIndex(docs.filter(col("id") < 5L)
      .withColumn("id", col("id") + 1000L), "id", "text", ftsSrc))
    val t = tmp("ident_fts_parts") + "/t"
    GraftTable.write(docs, t, "overwrite")
    val frags = GraftTable.loadManifest(spark, t).fragments.map(_.id)
    val uuid = java.util.UUID.randomUUID().toString
    Fts.buildPartForTable(spark, t, "id", "text", uuid, 0, frags)
    moves(s"$t/_indices/fts_text")(Fts.mergePartsForTable(spark, t, "id", "text", uuid))
  }

  test("an index dir replaced out of band answers from the new index on serve and search (every family)") {
    // index B is built elsewhere over the same rows with ids shifted by
    // 100000, then copied over A's dir by plain filesystem calls: no engine
    // code runs between the copy and the queries
    spark.conf.set(IndexIdentity.TtlKey, "0")
    try for (f <- freshFamilies) {
      val (ta, a) = tableAndIndex(f, "oob_a")
      val (tb, b) = tableAndIndex(f, "oob_b")
      GraftTable.write(f.rows, ta, "overwrite")
      GraftTable.write(f.rows.withColumn(f.idCol, col(f.idCol) + 100000L), tb, "overwrite")
      f.build(ta, a)
      f.build(tb, b)
      // A resident in every cache: serve state, centroids, stats, graph
      f.warm(a)
      assert(f.serve(a) == f.search(a), s"${f.name}: A serve != search")
      assert(f.search(a).forall(_._1 < 100000L), s"${f.name}: A answered from B")
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(a).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(a), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(b),
        fs, new org.apache.hadoop.fs.Path(a), false, conf)
      val served = f.serve(a)
      val batched = f.search(a)
      val fromB = f.search(b)
      assert(fromB.nonEmpty && fromB.forall(_._1 >= 100000L), s"${f.name}: B answers $fromB")
      assert(served == fromB, s"${f.name}: serve after the copy $served != B's $fromB")
      assert(batched == fromB, s"${f.name}: search after the copy $batched != B's $fromB")
      f.unpersist(a); f.unpersist(b)
      HnswIndex.unpersist(a); HnswIndex.unpersist(b)
    } finally spark.conf.unset(IndexIdentity.TtlKey)
  }

  test("ServeCache: an identity move drops only that index's entries, releasing each once") {
    val released = collection.mutable.ArrayBuffer.empty[String]
    val c = new ServeCache[Int, String](None, 16, release = v => released += v)
    c.getOrLoadAll(spark, "a", "a1", Seq(0, 1, 2))(_.map(k => s"a1/$k"))
    c.getOrLoadAll(spark, "b", "b1", Seq(0, 1))(_.map(k => s"b1/$k"))
    assert(c.size == 5 && released.isEmpty)
    assert(c.getOrLoad(spark, "a", "a1", 1)(fail("a resident entry was loaded")) == "a1/1")
    // a's identity moves: its three entries go, each released once
    assert(c.getOrLoad(spark, "a", "a2", 1)("a2/1") == "a2/1")
    assert(released.sorted == Seq("a1/0", "a1/1", "a1/2"), released)
    assert(c.size == 3)
    assert(c.getOrLoadAll(spark, "b", "b1", Seq(0, 1))(_ => fail("b was dropped")) ==
      Seq("b1/0", "b1/1"))
    c.purge("a")
    assert(released.size == 4 && c.indexPaths == Seq("b"))
    c.clear()
    assert(released.size == 6 && c.size == 0)
  }

  test("ServeCache: a shrunk budget evicts least-recently-used entries at once") {
    val key = "spark.graft.test.serve.cache.entries"
    val released = collection.mutable.ArrayBuffer.empty[String]
    val c = new ServeCache[Int, String](Some(key), 8, release = v => released += v)
    withConf(key -> "4") {
      c.getOrLoadAll(spark, "i", "x", Seq(0, 1, 2, 3))(_.map(_.toString))
      c.getOrLoad(spark, "i", "x", 0)(fail("0 is resident")) // recency: 1, 2, 3, 0
    }
    withConf(key -> "2")(assert(c.refresh(spark) == 2))
    assert(c.size == 2 && c.currentCapacity == 2)
    assert(released == Seq("1", "2"), released)
    assert(c.resident("i", 3).contains("3") && c.resident("i", 0).contains("0"))
  }

  test("ServeCache: one batched access counts hits and misses as key-by-key loading does") {
    val batched = new ServeCache[Int, String](None, 64)
    val single = new ServeCache[Int, String](None, 64)
    val loads = collection.mutable.ArrayBuffer.empty[Seq[Int]]
    for (keys <- Seq(Seq(1, 2, 2, 3), Seq(3, 4, 1, 4), Seq(5, 5, 5))) {
      val got = batched.getOrLoadAll(spark, "i", "x", keys) { miss =>
        loads += miss
        miss.map(_.toString)
      }
      assert(got == keys.map(_.toString))
      keys.foreach(k => single.getOrLoad(spark, "i", "x", k)(k.toString))
    }
    // one load per access, each missed key in it once
    assert(loads == Seq(Seq(1, 2, 3), Seq(4), Seq(5)), loads)
    assert(batched.misses.get == 5 && batched.hits.get == 6)
    assert(single.misses.get == batched.misses.get && single.hits.get == batched.hits.get)
  }

  test("ServeCache: callers passing different identities of one index never get each other's entry") {
    // the serve path's memoized identity (IndexIdentity.of) and a Spark
    // path's fresh read (IndexIdentity.read) can differ within one TTL
    val c = new ServeCache[Unit, String](None, 8)
    for (round <- 1 to 2; ident <- Seq("old", "new"))
      assert(c.getOrLoad(spark, "i", ident, ())(s"$ident $round") == s"$ident $round")
    // a load that finishes after another caller moved the identity is
    // handed to its own caller only
    val late = c.getOrLoad(spark, "i", "old", ()) {
      assert(c.getOrLoad(spark, "i", "new", ())("newest") == "newest")
      "late old"
    }
    assert(late == "late old")
    assert(c.getOrLoad(spark, "i", "new", ())(fail("the late load was kept")) == "newest")
    assert(c.getOrLoad(spark, "i", "old", ())("old 3") == "old 3")
  }
}
