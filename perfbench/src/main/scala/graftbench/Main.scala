package graftbench

import java.io.File
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <ann_serve|text_dedup> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir>
  * }}}
  *
  * Prints a `context` line, a human summary, and as its last stdout line
  * the result object `{"correct", "attempted", "failed", "metrics"}`:
  * the end-to-end metrics untraced, the per-layer metrics traced. */
object Main {
  val Workloads: Map[String, Ctx => Workload] = Map(
    "ann_serve" -> (new AnnServe(_)),
    "text_dedup" -> (new TextDedup(_)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt.getOrElse("workload", "")
    require(Workloads.contains(name), s"--workload must be one of ${Workloads.keys.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))

    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .withExtensions(new graft.format.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark.sparkContext, traced)
    val rec = new Recorder(tracer)
    val root = s"${work.getPath}/run-$name-$seed"
    deleteTree(new File(root))
    val ctx = new Ctx(spark, rec, root, seconds, seed)

    val t0 = System.nanoTime()
    val wl = Workloads(name)(ctx)
    val setupS = (1 to wl.setupReps).map { rep =>
      val before = rec.ms("setup").size
      wl.setup(s"$root/rep$rep")
      val s = rec.ms("setup").drop(before).sum / 1000
      if (rep < wl.setupReps) rec.bench("teardown") {
        wl.teardown(); deleteTree(new File(s"$root/rep$rep"))
      }
      s
    }
    val serveBefore = Counters.serve()
    val t1 = System.nanoTime()
    wl.startLedger(new File(s"$root/rep${wl.setupReps}"))
    val out = wl.run()
    rec.bench("ledger")(wl.ledger.scan())
    val wall = (System.nanoTime() - t1) / 1e9
    val serveAfter = Counters.serve()
    val onDisk = wl.ledger.onDisk
    rec.add("bytes_written", wl.ledger.written.toDouble)
    rec.add("files_written", (wl.ledger.filesWritten - wl.setupFiles).toDouble)

    val e2e = Report.endToEnd(rec, setupS, out, wl.ledger.written, wl.model.userBytes, onDisk)
    val ctxLine = Report.context(spark, name, seed, seconds, traced, cpus, loadStart,
      os.getSystemLoadAverage, (t1 - t0) / 1e9, wall)
    // a metric with no samples is a broken run, not a number
    e2e.foreach { case (k, (v, _)) => rec.check(s"metric.$k", !v.isNaN && !v.isInfinite, s"$v") }
    println("context " + Report.json(ctxLine))
    println(Report.summary(name, rec, setupS, e2e))

    val metrics =
      if (!traced) e2e
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val timed = (System.nanoTime() - t0) / 1e9
        val spans = tracer.attribute()
        val classes = tracer.attribute(_.cls)
        val overhead = Report.overhead(ctx, wl)
        val layers = Report.layers(spans, classes, rec, timed, serveBefore, serveAfter, overhead)
        println("spans " + Report.json(spans.map(Report.spanJson)))
        println("counters " + Report.json(ListMap(rec.counters.toSeq: _*)))
        val coverage = layers.toMap.apply("trace.coverage")._1
        rec.check("trace.coverage", math.abs(1 - coverage) <= 0.1, s"spans cover $coverage of the timed wall")
        layers
      }
    val checksOk = rec.checks.nonEmpty && rec.checks.forall(_._2)
    val result = Report.result(checksOk, rec.attempted, rec.failed, metrics)
    spark.stop()
    deleteTree(new File(root))
    println(result)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
