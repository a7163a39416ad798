package graftbench

import org.apache.spark.sql.functions._
import graft.format.GraftTable
import graft.index.ScalarIndex
import graft.operators.{Dedup, Fts, TextAnalysis}

/** `text_dedup`: a corpus with near-duplicate families planted at known
  * Jaccard similarity, run through a curation pipeline.
  *
  *  1. FTS is built, then served (`Fts.serveLocal`, Zipf terms over more
  *     distinct terms than the postings LRU holds) and queried through
  *     Spark (`matchQuery`, whose top hits are fetched with `takeRows`,
  *     and every fourth query a BTREE-prunable filtered aggregate scan).
  *  2. The minhash pipeline finds the pairs and their components; every
  *     component keeps its smallest id and the rest are deleted.
  *  3. An arriving batch (a tenth of the corpus) is appended in small
  *     commits and deduplicated against a persisted minhash store with
  *     `minhashIncremental`.
  *  4. Maintenance: FTS optimize, compaction, `cleanupOldVersions`, BTREE
  *     optimize; a final filtered scan reads the compacted table.
  *
  * Task compute, shuffle and `localCheckpoint` dominate the pipeline; the
  * deletes, compaction and cleanup exercise the format layer's commit and
  * metadata paths (the layers a separate table-churn workload would
  * cover; it does not fit the run budget as a workload of its own). */
final class TextDedup(ctx: Ctx) extends Workload(ctx) {
  private val threshold = 0.7
  /** Share of the planted pairs every run must find (see NOTES.md). */
  private val recallFloor = 0.95
  private val k = 10
  /** Postings LRU budget, in terms: below the 24 distinct terms the
    * queries reach, so hits and misses both show. A miss is a Spark job
    * (~0.1 s here), so the budget is scaled down from the default 4096. */
  private val termLru = 20
  private val g = new Gen(ctx.seed, dim = 0, clusters = 1, vocab = 3000, words = 30)
  private val (rows0, src0, batch, srcB) = ctx.bench("gen") {
    val (r0, s0) = g.corpus(0, 2000, 0.1)
    // the arriving batch holds fresh docs and copies of corpus docs
    val b = (0 until 200).map { i =>
      val id = r0.size + i
      if (g.rnd.nextDouble() < 0.15) {
        val s = r0(g.rnd.nextInt(r0.size))
        (g.row(id, g.mutate(s.text.split(" "), g.rnd.nextInt(4))), Some(s.id))
      } else (g.row(id, g.doc()), None)
    }
    (r0, s0, b.map(_._1), b.collect { case (r, Some(s)) => r.id -> s }.toMap)
  }
  private val texts = ctx.bench("gen")((rows0 ++ batch).map(r => r.id -> Gen.shingles(r.text)).toMap)
  private var dir = ""
  def table: String = s"$dir/t"
  private def fts = s"$table/_indices/fts_text"
  private def store = s"$dir/minhash_store"
  private var found = 0
  private var truth = 0

  def setup(d: String): Unit = {
    dir = d
    spark.conf.set(Fts.ServeTermBudgetKey, termLru.toString)
    create(rows0, fragments = 8)
    ctx.op("index.btree.build", "setup")(ScalarIndex.buildBtree(spark, table, "cat", s"$table/_indices"))
    ctx.op("operators.fts.build", "setup")(Fts.buildForTable(spark, table, "id", "text"))
    ctx.op("operators.fts.warm", "setup")(Fts.serveWarm(spark, fts, (0 until 8).map(Gen.word)))
  }

  def teardown(): Unit = Fts.serveUnpersist(fts)

  /** The serve query stream: one seeded sequence, continued from burst to
    * burst. */
  private val queries = ctx.rnd(1)

  /** A burst of Zipf-term single queries, timed in latency class `cls`
    * ("": an untimed warm-up). FTS serves the index as built: deleted docs
    * stay answerable until the index is rebuilt, so answers are checked
    * against every doc written. */
  private def serve(budget: Double, cls: String, minIters: Int): Unit =
    ctx.loop(budget, minIters) { _ =>
      val terms = g.terms(queries)
      ctx.op("operators.fts.serve", cls)(Fts.serveLocal(spark, fts, terms, k))
        .foreach(res => ctx.rec.check("serve.k", res.size <= k && res.forall(x => texts.contains(x._1)), s"$res"))
    }

  private def matchRows(terms: Seq[String]): Seq[(Long, Double)] =
    Fts.matchQuery(spark, fts, terms, k).select(col("doc_id").cast("long"), col("_score"))
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq

  /** True pairs among `live` docs: members of one planted family (an
    * original and every copy made from it or from its copies) whose
    * Jaccard reaches the threshold. Unrelated generated docs share almost
    * no 3-grams. */
  private def truePairs(srcOf: Map[Long, Long], live: Long => Boolean): Set[(Long, Long)] = {
    def root(i: Long): Long = srcOf.get(i).map(root).getOrElse(i)
    val fams = (srcOf.keys ++ srcOf.values).toSeq.distinct.filter(live).groupBy(root).values
    fams.iterator.flatMap { ids =>
      for (a <- ids.iterator; b <- ids.iterator if a < b &&
             Gen.jaccard(texts(a), texts(b)) >= threshold) yield (a, b)
    }.toSet
  }

  private def score(name: String, pairs: Seq[(Long, Long)], want: Set[(Long, Long)]): Unit = {
    val got = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    found += (want intersect got).size
    truth += want.size
    ctx.rec.check(name, want.nonEmpty, "no planted pair reaches the threshold")
  }

  def run(): Outcome = {
    val s = ctx.seconds
    // untimed: the serve path's first calls compile and fill the postings LRU
    serve(0.1 * s, "", minIters = 30)
    val r = ctx.rnd(2)
    ctx.loop(0.4 * s, minIters = 16) { i =>
      if (i % 4 == 3) scan(r.nextInt(Gen.Cats - 2))
      else {
        val terms = g.terms(r)
        val batched = ctx.op("operators.fts.match", "search")(matchRows(terms))
        // open the top hits: fetch their rows by stable row id
        batched.foreach(b => take(b.take(2).map(_._1)))
        // parity sample: the driver-local answer must equal the Spark path's
        if (i % 4 == 0) for {
          b <- batched
          a <- ctx.op("operators.fts.serve")(Fts.serveLocal(spark, fts, terms, k))
        } ctx.rec.check("parity.fts", a == b, s"$terms: serve $a vs match $b")
      }
      // serving runs in bursts between the other calls, so its median
      // spans the run's seconds, not one short window of the host's speed
      serve(0.02 * s, "serve", minIters = 6)
    }

    val (pairs, comps) = dedup(threshold)
    ctx.bench("truth")(score("recall.batch", pairs, truePairs(src0, _ => true)))
    // keep one doc per component: the smallest id
    val drop = comps.collect { case (id, c) if id != c => id }.toSeq.sorted
    if (drop.nonEmpty) ctx.op("format.delete", "maintain") {
      GraftTable.delete(spark, table, s"id IN (${drop.mkString(",")})")
    }.foreach(_ => drop.foreach(model.rows.remove))

    val old = GraftTable.read(spark, table).select(col("id"),
      TextAnalysis.shingleSet(col("text"), 3).as("sh"))
    ctx.op("operators.dedup.index", "maintain")(Dedup.minhashIndexBuild(old, "id", "sh", store))
    // the pipeline above leaves garbage behind; collect it before timing
    // the small commits so they do not pay for it
    ctx.bench("gc")(System.gc())
    batch.grouped(10).foreach { rows => append(rows); serve(0.01 * s, "serve", minIters = 3) }
    val newDocs = df(batch).select(col("id"), TextAnalysis.shingleSet(col("text"), 3).as("sh"))
    ctx.op("operators.dedup.incremental", "maintain") {
      Dedup.minhashIncremental(newDocs, "id", "sh", old, store, threshold)
        .select("a_id", "b_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    }.foreach { inc =>
      ctx.bench("check") {
        checkPairs("dedup.incremental", inc, threshold)
        val fresh = batch.map(_.id).toSet
        score("recall.incremental", inc, truePairs(src0 ++ srcB, model.rows.contains)
          .filter { case (a, b) => fresh(a) || fresh(b) })
      }
    }

    ctx.op("operators.fts.optimize", "maintain")(Fts.optimizeForTable(spark, table, "id", "text"))
    ctx.op("format.compact", "maintain")(GraftTable.compact(spark, table))
    ctx.op("format.cleanup", "maintain")(GraftTable.cleanupOldVersions(spark, table, keepLast = 1))
    ctx.op("index.btree.optimize", "maintain")(ScalarIndex.optimizeBtree(spark, table, "cat", s"$table/_indices"))
    scan(0)
    ctx.rec.add("dedup_docs", rows0.size)
    val recall = found.toDouble / truth
    ctx.rec.check("recall", recall >= recallFloor, s"found $found of $truth planted pairs")
    Outcome(recall, model.liveBytes, heapMb())
  }
}
