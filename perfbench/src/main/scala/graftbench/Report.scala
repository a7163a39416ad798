package graftbench

import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import graft.format.GraftTable
import graft.operators.{Fts, IvfIndex, PqIndex}

/** Serve-cache hit/miss counters, read from the same public counters
  * `CALL g.system.cache_stats()` reports. */
object Counters {
  def serve(): Map[String, (Long, Long)] = Map(
    "pq" -> (PqIndex.serveHits.get, PqIndex.serveMisses.get),
    "ivf" -> (IvfIndex.serveHits.get, IvfIndex.serveMisses.get),
    "fts" -> (Fts.serveHits.get, Fts.serveMisses.get))
}

object Report {
  type Metrics = Seq[(String, (Double, String))]
  private implicit val formats: Formats = DefaultFormats

  /** One JSON line; pass ListMaps to keep the keys in order. */
  def json(v: AnyRef): String = Serialization.write(v)

  /** The result object: the contract's four keys, `metrics` as
    * `{name: {value, unit}}`. */
  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Metrics): String =
    json(ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*)))

  /** The end-to-end metrics, in BENCHMARK.json's order. */
  def endToEnd(rec: Recorder, setupS: Seq[Double], out: Outcome, written: Long,
               userBytes: Long, onDisk: Long): Metrics = Seq(
    "setup_s" -> (Stats.median(setupS), "s"),
    "serve_p50_ms" -> (Stats.pct(rec.ms("serve"), 50), "ms"),
    "search_p50_ms" -> (Stats.pct(rec.ms("search"), 50), "ms"),
    "append_p50_ms" -> (Stats.pct(rec.ms("append"), 50), "ms"),
    "take_p50_ms" -> (Stats.pct(rec.ms("take"), 50), "ms"),
    "recall" -> (out.recall, "ratio"),
    "write_amp" -> (written.toDouble / userBytes, "ratio"),
    "space_amp" -> (onDisk.toDouble / out.liveBytes, "ratio"),
    "heap_live_mb" -> (out.heapMb, "MiB"))

  /** Printed in the summary, not in the result: tails and totals whose
    * run-to-run spread on a shared 4-core host exceeds any admissible
    * bound, and metrics only one workload has (see NOTES.md). */
  def printedOnly(rec: Recorder): Metrics = {
    def p(cls: String, q: Double) = Stats.pct(rec.ms(cls), q)
    Seq(
      "serve_p99_ms" -> (Stats.pct(rec.ms("serve") ++ rec.ms("serve_cold"), 99), "ms"),
      "search_p90_ms" -> (p("search", 90), "ms"),
      "append_p90_ms" -> (p("append", 90), "ms"),
      "take_p90_ms" -> (p("take", 90), "ms"),
      "maintain_s" -> (rec.ms("maintain").sum / 1000, "s"),
      "failed_frac" -> (rec.failed.toDouble / math.max(1, rec.attempted), "ratio")) ++
      Some(rec.ms("serve_cold")).filter(_.nonEmpty).map(xs => "serve_cold_p50_ms" -> (Stats.median(xs), "ms")) ++
      rec.counters.get("dedup_docs").map(d => "dedup_docs_per_s" -> (d / (rec.ms("dedup").sum / 1000), "1/s"))
  }

  def summary(name: String, rec: Recorder, setupS: Seq[Double], e2e: Metrics): String = {
    val n = rec.samples.map { case (c, xs) => s"$c=${xs.size}" }.mkString(" ")
    val bad = rec.checks.filterNot(_._2)
    (Seq(s"workload $name: ${rec.attempted} calls, ${rec.failed} failed, " +
      s"${rec.checks.size} checks, ${bad.size} failed; samples: $n; " +
      s"setup reps ${setupS.map(s => f"$s%.2f").mkString("/")} s") ++
      (e2e ++ printedOnly(rec)).map { case (k, (v, u)) => f"  $k%-18s $v%14.4f $u" } ++
      bad.take(5).map { case (c, _, d) => s"  CHECK FAILED $c: $d" }).mkString("\n")
  }

  def context(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
              cpus: Int, loadStart: Double, loadEnd: Double, setupWallS: Double,
              runWallS: Double): ListMap[String, Any] = ListMap(
    "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
    "rev" -> sys.env.getOrElse("PERFBENCH_REV", "unknown"),
    "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> cpus,
    "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "spark" -> spark.version,
    "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap,
    "setup_wall_s" -> setupWallS, "run_wall_s" -> runWallS)

  def spanJson(s: SpanStats): ListMap[String, Any] = ListMap(
    "span" -> s.name, "calls" -> s.walls.size, "wall_p50_ms" -> Stats.median(s.walls.toSeq),
    "self_ms" -> s.wallMs, "driver_ms" -> s.driverMs, "jobs" -> s.jobs, "task_ms" -> s.taskMs,
    "gc_ms" -> s.gcMs, "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
    "max_task_ms" -> s.maxTaskMs)

  /** Tracing overhead: the same small `takeRows` call with the listener
    * detached and attached, alternating; median ratio minus one, in %. */
  def overhead(ctx: Ctx, wl: Workload): Double = {
    val sc = ctx.spark.sparkContext
    val l = ctx.rec.tracer.listener.get
    val rids = wl.model.ridOf.values.take(10).toSeq
    def once(): Double = {
      val t0 = System.nanoTime()
      GraftTable.takeRows(ctx.spark, wl.table, rids).collect()
      (System.nanoTime() - t0) / 1e6
    }
    val (off, on) = ctx.bench("calibrate") {
      (0 until 10).map { _ =>
        sc.removeSparkListener(l)
        val a = once()
        sc.addSparkListener(l)
        (a, once())
      }.unzip
    }
    (Stats.median(on) / Stats.median(off) - 1) * 100
  }

  /** The per-layer metrics, in BENCHMARK.json's order: module totals,
    * per-call cost of each latency class and of the spans every workload
    * runs, serve-cache and format counters, and the trace's own health. */
  def layers(spans: Seq[SpanStats], classes: Seq[SpanStats], rec: Recorder, wallS: Double,
             before: Map[String, (Long, Long)], after: Map[String, (Long, Long)],
             overheadPct: Double): Metrics = {
    val module = Seq("format", "index", "operators").flatMap { m =>
      val ss = spans.filter(_.module == m)
      Seq(s"$m.wall_ms" -> (ss.map(_.wallMs).sum, "ms"),
        s"$m.driver_ms" -> (ss.map(_.driverMs).sum, "ms"),
        s"$m.jobs" -> (ss.map(_.jobs).sum.toDouble, "count"),
        s"$m.task_ms" -> (ss.map(_.taskMs).sum, "ms"))
    }
    def perCall(prefix: String, s: Option[SpanStats], wall: Boolean): Metrics = {
      val st = s.getOrElse(new SpanStats(prefix))
      val n = math.max(1, st.walls.size).toDouble
      (if (wall) Seq(s"$prefix.wall_ms" -> (Stats.median(st.walls.toSeq), "ms")) else Nil) ++ Seq(
        s"$prefix.driver_ms" -> (st.driverMs / n, "ms"),
        s"$prefix.jobs" -> (st.jobs / n, "count"),
        s"$prefix.task_ms" -> (st.taskMs / n, "ms"))
    }
    val perClass = Seq("setup", "serve", "search", "append", "take", "maintain").flatMap(c =>
      perCall(s"class.$c", classes.find(_.name == c), wall = false))
    val common = Seq("format.write", "format.append", "format.take", "index.btree.build",
      "index.btree.optimize").flatMap(n => perCall(n, spans.find(_.name == n), wall = true))
    val (hits, misses) = after.keys.toSeq.map { k =>
      (after(k)._1 - before(k)._1, after(k)._2 - before(k)._2) }.unzip
    val c = rec.counters
    def ratio(a: String, b: String) = c.getOrElse(a, 0.0) / math.max(1.0, c.getOrElse(b, 0.0))
    module ++ perClass ++ common ++ Seq(
      "operators.serve.hit_rate" -> (hits.sum.toDouble / math.max(1, hits.sum + misses.sum), "ratio"),
      "operators.serve.cold_loads" -> (misses.sum.toDouble, "count"),
      "format.fragments_at_read" -> (ratio("fragments_at_read", "reads"), "count"),
      "format.files_per_commit" -> (ratio("files_written", "commits"), "count"),
      "format.bytes_written" -> (c.getOrElse("bytes_written", 0.0), "bytes"),
      "trace.coverage" -> (spans.map(_.wallMs).sum / (wallS * 1000), "ratio"),
      "trace.overhead_pct" -> (overheadPct, "%"))
  }
}
