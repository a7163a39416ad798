package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-resident per-partition LRU shared by every driver-local serve
  * path: (indexPath, pid) → one partition's resident payload `V` — float
  * rows ([[IvfIndex]]), quantized codes ([[IvfQuantized]],
  * [[BinaryIvfIndex]]) or per-generation graphs ([[HnswIndex]]). One
  * contract for all of them: an access-order LRU whose capacity (resident
  * partitions) is read from the conf key `budgetKey`, immediate eviction
  * when that budget shrinks (ADVICE r14), hit/miss counters for
  * `cache_stats`, and per-index purge for the epoch staleness guard
  * ([[ServeFreshness]]). */
private[operators] final class ServeCache[V <: AnyRef](val budgetKey: String,
                                                       defaultCapacity: Int) {
  @volatile private var capacity = defaultCapacity
  def currentCapacity: Int = capacity
  val hits = new java.util.concurrent.atomic.AtomicLong(0)
  val misses = new java.util.concurrent.atomic.AtomicLong(0)
  private val rows =
    new java.util.LinkedHashMap[(String, Int), V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, Int), V]): Boolean =
        this.size() > capacity
    }

  def size: Int = rows.synchronized(rows.size())

  /** Re-read the budget conf; shrinking evicts LRU-first immediately. */
  def refresh(spark: SparkSession): Int = {
    val cap = math.max(1, scala.util.Try(
      spark.conf.get(budgetKey, defaultCapacity.toString).toInt)
      .getOrElse(defaultCapacity))
    if (cap < capacity) rows.synchronized {
      capacity = cap
      val it = rows.entrySet().iterator() // access-order: LRU first
      while (rows.size() > cap && it.hasNext) { it.next(); it.remove() }
    } else capacity = cap
    cap
  }

  /** Refuse a warm of `partitions` partitions the budget cannot hold: it
    * would evict most of what it just loaded, report an inflated resident
    * count, and leave every later query paying cold reads anyway. */
  def requireFits(spark: SparkSession, partitions: Int, what: String): Unit = {
    val cap = refresh(spark)
    require(partitions <= cap,
      s"serveWarm($partitions partitions) exceeds the $what budget " +
        s"$cap — raise $budgetKey or warm a pid subset")
  }

  /** Drop one index's resident partitions. */
  def purge(indexPath: String): Unit = rows.synchronized {
    val it = rows.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == indexPath) it.remove()
  }

  /** Resident payload for (indexPath, pid), loading with `load` on a miss.
    * The cold load runs OUTSIDE the lock (a racing duplicate load is
    * benign, a blocked warm query is not). */
  def getOrLoad(spark: SparkSession, indexPath: String, pid: Int)(load: => V): V = {
    refresh(spark)
    rows.synchronized {
      val hit = rows.get((indexPath, pid))
      if (hit != null) { hits.incrementAndGet(); return hit }
    }
    misses.incrementAndGet()
    val loaded = load
    rows.synchronized { rows.put((indexPath, pid), loaded) }
    loaded
  }
}
