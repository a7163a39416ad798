package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a benchmark call into the program (`<module>.<op>`), or a
  * block of the benchmark's own work (`bench.<what>`). `cls` is the
  * end-to-end latency class the call feeds (empty for none). Spans never
  * nest, so a span's self time is its wall time. */
final case class Call(span: String, cls: String, startMs: Long, endMs: Long, wallNs: Long)

/** Spark job interval and per-task metrics, as the listener bus reports them. */
final case class JobRec(startMs: Long, endMs: Long)
final case class TaskRec(launchMs: Long, runMs: Long, gcMs: Long, shuffleBytes: Long,
                         spillBytes: Long, durationMs: Long)

/** Benchmark-side listener: records every job's interval and every task's
  * metrics. Attribution to spans happens after the run, by time: a job or
  * task belongs to the span whose interval holds its start. */
final class JobListener extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = starts.remove(e.jobId)
    if (s != null) jobs.add(JobRec(s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, e.taskInfo.duration))
  }
}

/** Per-span totals after attribution. */
final class SpanStats(val name: String) {
  val walls = ArrayBuffer.empty[Double]
  var driverMs, taskMs, gcMs, maxTaskMs = 0.0
  var jobs, shuffleBytes, spillBytes = 0L
  def wallMs: Double = walls.sum
  def module: String = name.takeWhile(_ != '.')
}

/** Records spans always (they cost two clock reads); attaches the job
  * listener only when `traced`, so untraced runs carry no listener. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val calls = ArrayBuffer.empty[Call]
  val listener: Option[JobListener] = if (traced) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String, cls: String = "")(body: => T): T = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally calls += Call(name, cls, s, System.currentTimeMillis(), System.nanoTime() - t0)
  }

  /** Attribute the recorded jobs and tasks to the spans, grouped by
    * `key` (the span name, or its latency class). Call after the workload,
    * when the listener bus has drained. */
  def attribute(key: Call => String = _.span): Seq[SpanStats] = {
    val sorted = calls.sortBy(_.startMs).toArray
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, SpanStats]
    sorted.foreach(c => stats.getOrElseUpdate(key(c), new SpanStats(key(c))).walls += c.wallNs / 1e6)
    // index of the span holding time t (spans are sequential, so the last
    // span starting at or before t is the only candidate)
    def owner(t: Long): Int = {
      var lo = 0; var hi = sorted.length - 1; var at = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid).startMs <= t) { at = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (at >= 0 && t <= sorted(at).endMs) at else -1
    }
    val l = listener.getOrElse(return stats.values.toSeq)
    // per call: the union of its jobs' intervals (clipped to the call)
    val covered = Array.fill(sorted.length)(ArrayBuffer.empty[(Long, Long)])
    l.jobs.forEach { j =>
      val i = owner(j.startMs)
      if (i >= 0) {
        stats(key(sorted(i))).jobs += 1
        covered(i) += ((j.startMs, math.min(j.endMs, sorted(i).endMs)))
      }
    }
    sorted.indices.foreach { i =>
      val c = sorted(i)
      var busy = 0L; var end = Long.MinValue
      covered(i).sortBy(_._1).foreach { case (s, e) =>
        val s2 = math.max(s, end)
        if (e > s2) { busy += e - s2; end = e } else end = math.max(end, e)
      }
      stats(key(c)).driverMs += math.max(0.0, c.wallNs / 1e6 - busy)
    }
    l.tasks.forEach { t =>
      val i = owner(t.launchMs)
      if (i >= 0) {
        val s = stats(key(sorted(i)))
        s.taskMs += t.runMs; s.gcMs += t.gcMs; s.shuffleBytes += t.shuffleBytes
        s.spillBytes += t.spillBytes; s.maxTaskMs = math.max(s.maxTaskMs, t.durationMs.toDouble)
      }
    }
    stats.values.toSeq
  }
}
