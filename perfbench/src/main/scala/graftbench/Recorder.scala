package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Everything one run measures: latency samples per operation class, the
  * attempted/failed counts, output checks, and the bytes the program wrote.
  * Every call into the program goes through [[op]]. */
final class Recorder(val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Fragments in the table's current version (kept by the workload). */
  var fragments = 0
  /** Runs after each successful writing call (class append or maintain). */
  var onWrite: () => Unit = () => ()

  /** Time one call into the program under span `span`; `cls` names the
    * latency class it is reported in (empty: not a reported latency, e.g.
    * the Spark-path half of a parity check). A failed or refused call is
    * counted and its result is None; it is never retried. */
  def op[T](span: String, cls: String = "")(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(span, cls)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (cls.nonEmpty) samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
      if (cls == "take" || cls == "search") { add("reads", 1); add("fragments_at_read", fragments) }
      if (cls == "append" || cls == "maintain") onWrite()
      Some(out)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $span failed: $e")
        None
    }
  }

  /** The benchmark's own work (generation, ground truth, checks). */
  def bench[T](what: String)(body: => T): T = tracer.span(s"bench.$what")(body)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    checks += ((name, ok, if (ok) "" else detail))
  }

  def add(counter: String, v: Double): Unit =
    counters(counter) = counters.getOrElse(counter, 0.0) + v

  def ms(cls: String): Seq[Double] = samples.get(cls).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Bytes written under the workload's directories, found by listing them
  * after each writing call: a file path not seen before (or rewritten with
  * another size or mtime) counts its size once. Files created and deleted
  * between two listings (Spark's staging files) are not seen. */
final class Ledger(roots: Seq[java.io.File]) {
  private val seen = mutable.HashMap.empty[String, (Long, Long)]
  var written = 0L
  var filesWritten = 0L

  private def listAll(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(listAll)
    else if (f.isFile) Iterator.single(f) else Iterator.empty

  def scan(): Unit = roots.iterator.flatMap(listAll).foreach { f =>
    val key = (f.length(), f.lastModified())
    if (!seen.get(f.getPath).contains(key)) { seen(f.getPath) = key; written += key._1; filesWritten += 1 }
  }

  def onDisk: Long = roots.iterator.flatMap(listAll).map(_.length()).sum
}
