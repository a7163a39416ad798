package graftbench

import org.apache.spark.sql.functions._
import graft.index.ScalarIndex
import graft.operators.{IvfIndex, PqIndex}

/** `ann_serve`: IVF_PQ and IVF_FLAT over one clustered vector table,
  * served driver-locally with Zipf-skewed queries, a smaller Spark-path
  * `searchCombined` stream (each answer's top rows fetched by row id), ~5 %
  * appended vectors in twenty commits, `optimizeForTable` on both indexes, and a second
  * serve pass that reloads cold (optimize moves the index epoch).
  *
  * Sizing: both indexes have `nlist` partitions and a query probes
  * `nprobes` of them, a quarter, so centroid ranking decides what a
  * query reads. The float serve LRU the two indexes share holds exactly
  * their 2 × nlist refine partitions and PQ codes (nlist) fit their own
  * cache, so serving after set-up hits, and the pass after optimize
  * reloads the partitions its queries probe cold (the epoch moved). A
  * cold partition load is a Spark job (~0.3 s here), and set-up warms
  * 3 × nlist partitions three times per run, so `nlist` is kept small
  * enough for a run to fit its time budget: the budget is scaled to the
  * index instead of the index up to the default 64-partition budget. An
  * LRU smaller than the working set made serve latency depend on which
  * partitions a seed's queries favour. */
final class AnnServe(ctx: Ctx) extends Workload(ctx) {
  private val dim = 32
  private val nlist = 8
  private val nprobes = 2
  /** Mean recall@10 every run must reach (see NOTES.md for the measured
    * values it sits below). */
  private val recallFloor = 0.95
  /** Float serve LRU budget, in partitions: the two indexes' refine vectors. */
  private val floatLru = 2 * nlist
  private val k = 10
  // one equal-size cluster per partition, around centres that are the
  // same for every seed (see Gen): the partition layout, and so the rows a
  // query reads, change little with the seed. With four clusters per
  // partition, training grouped them differently per seed, and serve p50
  // differed by a third between seeds on the same host
  private val g = new Gen(ctx.seed, dim, clusters = nlist, vocab = 3000, words = 8)
  private val (rows0, appended) = ctx.bench("gen") {
    val (r0, _) = g.corpus(0, 6000, 0)
    val (r1, _) = g.corpus(r0.size, 300, 0)
    (r0, r1.grouped(15).toSeq)
  }
  private var dir = ""
  def table: String = s"$dir/t"
  private def flat = s"$table/_indices/ivf_flat"
  private def pq = s"$table/_indices/ivf_pq"
  private var recalls = Vector.empty[Double]

  def setup(d: String): Unit = {
    dir = d
    spark.conf.set(IvfIndex.ServeCacheBudgetKey, floatLru.toString)
    create(rows0, fragments = 8)
    ctx.op("index.btree.build", "setup")(ScalarIndex.buildBtree(spark, table, "cat", s"$table/_indices"))
    ctx.op("operators.ivf.build", "setup")(IvfIndex.buildForTable(spark, table, "id", "emb", flat, nlist))
    ctx.op("operators.pq.build", "setup")(PqIndex.buildForTable(spark, table, "id", "emb", pq, nlist, m = 16))
    ctx.op("operators.ivf.warm", "setup")(IvfIndex.serveWarm(spark, flat, "id", "emb"))
    ctx.op("operators.pq.warm", "setup")(PqIndex.serveWarm(spark, pq, "id", "emb"))
  }

  def teardown(): Unit = { PqIndex.serveUnpersist(pq); IvfIndex.serveUnpersist(flat) }

  private def indexed: Seq[(Long, Array[Float])] = model.rows.valuesIterator.map(r => (r.id, r.emb)).toSeq

  /** The serve query stream: one seeded sequence, continued from burst to
    * burst. `served` counts its queries. */
  private val queries = ctx.rnd(1)
  private var served = 0
  /** The rows the indexes hold: the table at set-up, the grown table after
    * optimize. Brute-force ground truth is computed over these. */
  private var truthRows = Seq.empty[(Long, Array[Float])]

  /** A burst of Zipf-skewed single queries, alternating IVF_PQ and
    * IVF_FLAT, timed in latency class `cls` ("": an untimed warm-up); every
    * tenth answer is scored against brute force over [[truthRows]]. */
  private def serve(budget: Double, cls: String, minIters: Int = 1): Unit =
    ctx.loop(budget, minIters) { _ =>
      val i = served
      served += 1
      val q = g.query(queries)
      val got =
        if (i % 2 == 0) ctx.op("operators.pq.serve", cls)(
          PqIndex.serveLocal(spark, pq, "id", "emb", q, k, nprobes))
        else ctx.op("operators.ivf.serve", cls)(
          IvfIndex.serveLocal(spark, flat, "id", "emb", q, k, nprobes))
      if (i % 10 == 0) got.foreach(res => ctx.bench("truth") {
        val exact = Gen.exactTopK(truthRows, q, k).toSet
        recalls :+= res.count(x => exact(x._1)).toDouble / k
      })
    }

  /** serveLocal must equal the Spark-path search, ids and distances. */
  private def parity(salt: Int): Unit = {
    val q = g.query(ctx.rnd(salt))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id").cast("long"), col("_distance")).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq.sortBy(x => (x._2, x._1))
    for {
      a <- ctx.op("operators.ivf.serve")(IvfIndex.serveLocal(spark, flat, "id", "emb", q, k, nprobes))
      b <- ctx.op("operators.ivf.search")(rows(IvfIndex.search(spark, flat, "id", "emb", q, k, nprobes)))
    } ctx.rec.check("parity.ivf", a == b, s"serve $a vs search $b")
    for {
      a <- ctx.op("operators.pq.serve")(PqIndex.serveLocal(spark, pq, "id", "emb", q, k, nprobes))
      b <- ctx.op("operators.pq.search")(rows(PqIndex.search(spark, pq, "id", "emb", q, k, nprobes)))
    } ctx.rec.check("parity.pq", a == b, s"serve $a vs search $b")
  }

  def run(): Outcome = {
    val s = ctx.seconds
    truthRows = indexed
    // untimed: the serve path's first calls compile and relist
    serve(0.1 * s, "")
    val r = ctx.rnd(3)
    ctx.loop(0.25 * s, minIters = 16) { i =>
      val q = g.query(r)
      // one query in four through IVF_PQ: its searchCombined costs about
      // three times IVF_FLAT's, and an even mix would put the median on
      // the boundary between the two
      val usePq = i % 4 == 0
      ctx.op(if (usePq) "operators.pq.search" else "operators.ivf.search", "search") {
        (if (usePq) PqIndex.searchCombined(spark, table, pq, "id", "emb", q, k, nprobes)
         else IvfIndex.searchCombined(spark, table, flat, "id", "emb", q, k, nprobes))
          .select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq
      }.foreach { ids =>
        ctx.rec.check("search.k", ids.size == k && ids.forall(model.rows.contains), s"$ids")
        take(ids.take(3))
      }
      // warm serving runs in bursts between the other calls, so its median
      // spans the run's seconds, not one short window of the host's speed
      serve(0.02 * s, "serve")
    }
    parity(2)
    // appends leave the indexes as they are: serving stays warm
    appended.foreach { rows => append(rows); serve(0.01 * s, "serve") }
    ctx.op("operators.pq.optimize", "maintain")(PqIndex.optimizeForTable(spark, table, "id", "emb", pq))
    ctx.op("operators.ivf.optimize", "maintain")(IvfIndex.optimizeForTable(spark, table, "id", "emb", flat))
    ctx.op("index.btree.optimize", "maintain")(ScalarIndex.optimizeBtree(spark, table, "cat", s"$table/_indices"))
    // after optimize: cold reloads, then serving over the grown index. Its
    // p50 varied from 1.4 to 2.2 ms between runs (the warm pass: 1.4-1.5),
    // so it feeds the printed serve tail (serve_p99_ms), not serve_p50_ms
    truthRows = indexed
    serve(0.1 * s, "serve_cold", minIters = 100)
    parity(5)
    val recall = recalls.sum / recalls.size
    ctx.rec.check("recall", recall >= recallFloor, s"mean recall@$k $recall below $recallFloor")
    Outcome(recall, model.liveBytes, heapMb())
  }
}
