package graft.operators

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** The per-JVM index cache: every cache an index keeps in this JVM is one
  * of these (reference `session.index_cache`, `dataset.py:3039`) — the
  * driver-local serve payloads keyed by pid or token (float rows, quantized
  * codes, per-generation graphs, postings), each serve family's per-index
  * state, the IVF centroid models, HNSW's persisted graph frames, FTS's
  * stats memos and the scalar-index rule's coverage, marker-uuid and bloom
  * caches (whose identity is the rule's cache epoch). One contract for all
  * of them:
  *
  *  - an access-order LRU over `(indexPath, key)` whose capacity (resident
  *    entries) is read from the conf key `budgetKey` on every access, or
  *    fixed at `defaultCapacity` when there is none; a shrunk budget evicts
  *    LRU-first at once (ADVICE r14);
  *  - per-key hit/miss counters for `cache_stats` (pass shared counters to
  *    count several caches as one);
  *  - freshness: every access passes the [[IndexIdentity]] its caller read
  *    ([[IndexIdentity.of]] on serve paths, [[IndexIdentity.read]] on Spark
  *    paths). The cache remembers the identity each index's entries were
  *    loaded under and drops all of them when a caller passes another, so
  *    no caller is ever answered from an entry of a different identity, and
  *    a load that finishes after the identity moved is handed to its caller
  *    but not kept;
  *  - `release` runs once for every entry that leaves: evicted, purged,
  *    replaced by a racing load, or loaded too late to be kept (HNSW
  *    unpersists its graph frames through it);
  *  - ONE batched load per access for every key that missed
  *    ([[getOrLoadAll]]). */
private[graft] final class ServeCache[K, V <: AnyRef](
    budgetKey: Option[String], defaultCapacity: Int,
    val hits: AtomicLong = new AtomicLong(0),
    val misses: AtomicLong = new AtomicLong(0),
    release: V => Unit = (_: V) => ()) {
  @volatile private var capacity = defaultCapacity
  def currentCapacity: Int = capacity
  private val rows =
    new java.util.LinkedHashMap[(String, K), V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, K), V]): Boolean = {
        val evict = this.size() > capacity
        if (evict) release(e.getValue)
        evict
      }
    }
  /** indexPath → the identity its resident entries were loaded under. */
  private val loadedUnder = new java.util.HashMap[String, String]()

  def size: Int = rows.synchronized(rows.size())

  /** Re-read the budget conf; shrinking evicts LRU-first immediately. */
  def refresh(spark: SparkSession): Int = {
    val cap = budgetKey.fold(defaultCapacity)(key => math.max(1, scala.util.Try(
      spark.conf.get(key, defaultCapacity.toString).toInt).getOrElse(defaultCapacity)))
    if (cap < capacity) rows.synchronized {
      capacity = cap
      val it = rows.entrySet().iterator() // access-order: LRU first
      while (rows.size() > cap && it.hasNext) { release(it.next().getValue); it.remove() }
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
        s"$cap — raise ${budgetKey.mkString} or warm a subset")
  }

  /** Drop one index's entries and the identity they were loaded under. */
  def purge(indexPath: String): Unit = rows.synchronized {
    loadedUnder.remove(indexPath)
    dropEntries(indexPath)
  }

  /** Drop every entry. */
  def clear(): Unit = rows.synchronized {
    rows.values().forEach(v => release(v))
    rows.clear()
    loadedUnder.clear()
  }

  /** Indexes with a resident entry, least-recently-used first. */
  def indexPaths: Seq[String] = rows.synchronized {
    import scala.jdk.CollectionConverters._
    rows.keySet().asScala.iterator.map(_._1).toSeq.distinct
  }

  /** The resident entry, whatever identity it was loaded under. */
  def resident(indexPath: String, key: K): Option[V] =
    rows.synchronized(Option(rows.get((indexPath, key))))

  private def dropEntries(indexPath: String): Unit = {
    val it = rows.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == indexPath) { release(e.getValue); it.remove() }
    }
  }

  // under the lock: a caller's identity that differs from the one the
  // index's entries were loaded under drops them all. Identities of indexes
  // with no entry left are forgotten once they outnumber the budget.
  private def admit(indexPath: String, identity: String): Unit = {
    val prev = loadedUnder.put(indexPath, identity)
    if (prev == null) {
      if (loadedUnder.size() > 2 * capacity + 16) {
        val live = new java.util.HashSet[String]()
        rows.keySet().forEach(k => live.add(k._1))
        live.add(indexPath)
        loadedUnder.keySet().retainAll(live)
      }
    } else if (prev != identity) dropEntries(indexPath)
  }

  /** Resident payloads of `keys` of one index, under `identity`, in request
    * order. Hits come from the cache; every distinct key that missed is
    * loaded by ONE call of `loadMissing` (missed keys in request order → one
    * payload each, in that order), outside the lock — a racing duplicate
    * load is benign, a blocked warm query is not. Counting is per key, as
    * if the keys were fetched one by one: each distinct missed key is one
    * miss, every other access one hit. Entries are touched and inserted in
    * request order, so the LRU order is the one a key-by-key load leaves. */
  def getOrLoadAll(spark: SparkSession, indexPath: String, identity: String, keys: Seq[K])
                  (loadMissing: Seq[K] => Seq[V]): Seq[V] = {
    refresh(spark)
    val found = new java.util.HashMap[K, V]()
    val missed = scala.collection.mutable.LinkedHashSet.empty[K]
    rows.synchronized {
      admit(indexPath, identity)
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
        val current = loadedUnder.get(indexPath)
        if (current == null || current == identity) {
          loadedUnder.put(indexPath, identity)
          keys.foreach { k =>
            if (missed.remove(k)) {
              val v = found.get(k)
              val old = rows.put((indexPath, k), v)
              if (old != null && (old ne v)) release(old)
            } else rows.get((indexPath, k)) // touch: keep key-by-key recency
          }
        } else want.foreach(k => release(found.get(k)))
      }
    }
    keys.map(found.get)
  }

  /** [[getOrLoadAll]] of one key. */
  def getOrLoad(spark: SparkSession, indexPath: String, identity: String, key: K)
               (load: => V): V =
    getOrLoadAll(spark, indexPath, identity, key :: Nil)(_ => load :: Nil).head

  /** A serve call's entry `key` of an index, and the identity it read for
    * it — once per call, through [[IndexIdentity.of]] — to pass to every
    * other cache the call reads. */
  def serve(spark: SparkSession, indexPath: String, key: K)(load: String => V): (String, V) = {
    val ident = IndexIdentity.of(spark, indexPath)
    (ident, getOrLoad(spark, indexPath, ident, key)(load(ident)))
  }
}

private[graft] object ServeCache {
  /** Fixed capacity, in indexes, of a family's per-index serve state. */
  val IndexStates = 64

  /** Split one batched scan's `rows` by key into one group per requested
    * key, in request order; each group keeps the scan's row order, and a
    * key with no rows gets an empty group. */
  def splitBy[K, R: scala.reflect.ClassTag](keys: Seq[K], rows: Array[R])
                                           (keyOf: R => K): Seq[Array[R]] = {
    val groups = rows.groupBy(keyOf)
    keys.map(k => groups.getOrElse(k, Array.empty[R]))
  }
}
