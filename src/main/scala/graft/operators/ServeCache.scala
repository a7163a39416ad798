package graft.operators

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** Driver-resident LRU shared by every driver-local serve path:
  * (indexPath, key) → one partition's or term's resident payload `V` —
  * float rows ([[IvfIndex]]), quantized codes ([[IvfQuantized]],
  * [[BinaryIvfIndex]]), per-generation graphs ([[HnswIndex]]) keyed by
  * pid, or postings ([[Fts]]) keyed by token. One contract for all of
  * them: an access-order LRU whose capacity (resident entries) is read from
  * the conf key `budgetKey`, immediate eviction when that budget shrinks
  * (ADVICE r14), per-entry hit/miss counters for `cache_stats` (pass shared
  * counters to count several caches as one), per-index purge for the epoch
  * staleness guard ([[ServeFreshness]]), and ONE batched load per call for
  * every key that missed ([[getOrLoadAll]]). */
private[operators] final class ServeCache[K, V <: AnyRef](
    val budgetKey: String, defaultCapacity: Int,
    val hits: AtomicLong = new AtomicLong(0),
    val misses: AtomicLong = new AtomicLong(0)) {
  @volatile private var capacity = defaultCapacity
  def currentCapacity: Int = capacity
  private val rows =
    new java.util.LinkedHashMap[(String, K), V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, K), V]): Boolean =
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

  /** Refuse a warm of `entries` partitions or terms the budget cannot hold:
    * it would evict most of what it just loaded, report an inflated
    * resident count, and leave every later query paying cold reads anyway. */
  def requireFits(spark: SparkSession, entries: Int, what: String,
                  unit: String = "partitions"): Unit = {
    val cap = refresh(spark)
    require(entries <= cap,
      s"serveWarm($entries $unit) exceeds the $what budget " +
        s"$cap — raise $budgetKey or warm a subset")
  }

  /** Drop one index's resident entries. */
  def purge(indexPath: String): Unit = rows.synchronized {
    val it = rows.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == indexPath) it.remove()
  }

  /** Resident payloads of `keys` of one index, in request order. Hits come
    * from the cache; every distinct key that missed is loaded by ONE call
    * of `loadMissing` (missed keys in request order → one payload each, in
    * that order), outside the lock — a racing duplicate load is benign, a
    * blocked warm query is not. Counting is per key, as if the keys were
    * fetched one by one: each distinct missed key is one miss, every other
    * access one hit. Entries are touched and inserted in request order, so
    * the LRU order is the one a key-by-key load leaves. */
  def getOrLoadAll(spark: SparkSession, indexPath: String, keys: Seq[K])
                  (loadMissing: Seq[K] => Seq[V]): Seq[V] = {
    refresh(spark)
    val found = new java.util.HashMap[K, V]()
    val missed = scala.collection.mutable.LinkedHashSet.empty[K]
    rows.synchronized {
      keys.foreach { k =>
        if (!found.containsKey(k) && !missed.contains(k)) {
          val hit = rows.get((indexPath, k))
          if (hit != null) found.put(k, hit) else missed += k
        }
      }
    }
    hits.addAndGet(keys.size - missed.size)
    if (missed.nonEmpty) {
      misses.addAndGet(missed.size)
      val want = missed.toSeq
      val loaded = loadMissing(want)
      require(loaded.size == want.size,
        s"serve load returned ${loaded.size} payloads for ${want.size} keys")
      want.iterator.zip(loaded.iterator).foreach { case (k, v) => found.put(k, v) }
      rows.synchronized {
        keys.foreach { k =>
          if (missed.remove(k)) rows.put((indexPath, k), found.get(k))
          else rows.get((indexPath, k)) // touch: keep key-by-key recency
        }
      }
    }
    keys.map(found.get)
  }
}

private[operators] object ServeCache {
  /** Split one batched scan's `rows` by key into one group per requested
    * key, in request order; each group keeps the scan's row order, and a
    * key with no rows gets an empty group. */
  def splitBy[K, R: scala.reflect.ClassTag](keys: Seq[K], rows: Array[R])
                                           (keyOf: R => K): Seq[Array[R]] = {
    val groups = rows.groupBy(keyOf)
    keys.map(k => groups.getOrElse(k, Array.empty[R]))
  }
}
