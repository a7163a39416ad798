package graft.operators

import org.apache.spark.sql.SparkSession

/** The published identity of an index directory: a fresh UUID in
  * `<indexPath>/_GRAFT_INDEX_ID`, written by every build and optimize after
  * its last data write (the reference names index dirs by UUID for the
  * same reason). Every per-JVM index cache — the serve LRUs, the IVF
  * centroid cache, FTS's stats memos, HNSW's persisted graph — remembers
  * the identity it loaded under and reloads when it changes, so a rebuild
  * at the same path, by this process or another one, is never answered
  * from the dead index. The leading `_` keeps the file out of Spark's
  * readers and out of every generation listing.
  *
  * Two reads: [[of]] (serve paths) answers from a JVM-local memo within
  * [[TtlKey]], so a warm query makes no filesystem call; [[read]]
  * (Spark-path caches) opens the file every call. [[publish]] records the
  * new identity in the memo at once, so this JVM sees its own rebuild
  * whatever the TTL; another process's rebuild is seen at most one TTL
  * later. An absent file (an index written before identities existed)
  * reads as [[Legacy]].
  */
private[graft] object IndexIdentity {
  val FileName = "_GRAFT_INDEX_ID"
  val Legacy = "legacy"

  /** How long [[of]] trusts its memo (ms); 0 reads the file every call. */
  val TtlKey = "spark.graft.serve.epoch.ttl.ms"
  val DefaultTtlMs = 1000L

  /** indexPath → (nanoTime the identity was known current, identity). */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Give the index dir a fresh identity; returns it. */
  def publish(spark: SparkSession, indexPath: String): String = {
    val id = java.util.UUID.randomUUID().toString
    graft.index.ScalarIndex.atomicWrite(spark, s"$indexPath/$FileName", id)
    remember(indexPath, System.nanoTime(), id)
    id
  }

  /** The identity, from the memo while it is younger than the TTL. */
  def of(spark: SparkSession, indexPath: String): String = {
    val ttlMs = scala.util.Try(
      spark.conf.get(TtlKey, DefaultTtlMs.toString).toLong).getOrElse(DefaultTtlMs)
    val hit = memo.get(indexPath)
    if (hit != null && ttlMs > 0 && System.nanoTime() - hit._1 < ttlMs * 1000000L)
      hit._2
    else read(spark, indexPath)
  }

  /** The identity on disk: one open and read. */
  def read(spark: SparkSession, indexPath: String): String = {
    val start = System.nanoTime()
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$FileName")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val id =
      try {
        val in = fs.open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => Legacy }
    remember(indexPath, start, id)
    id
  }

  /** Drop the memo so the next [[of]] reads the file. */
  def forget(indexPath: String): Unit = memo.remove(indexPath)

  // a read that started before a concurrent publish finished must not
  // overwrite the published identity with the one it read
  private def remember(indexPath: String, at: Long, id: String): Unit =
    memo.compute(indexPath, (_, prev) => if (prev != null && prev._1 > at) prev else (at, id))
}

/** Freshness guard for a family's driver-local serve caches, shared by
  * every serve family (IVF/HNSW/PQ/SQ/RQ/hamming/FTS): remembers the
  * [[IndexIdentity]] each index's resident state was loaded under and
  * purges that state (the `purge` hook) when the identity moves. */
private[operators] final class ServeFreshness(purge: String => Unit) {
  private val seen =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Purge the family's resident state for `indexPath` if the index's
    * identity moved since the last check. */
  def ensure(spark: SparkSession, indexPath: String): Unit = {
    val id = IndexIdentity.of(spark, indexPath)
    val prev = seen.put(indexPath, id)
    if (prev != null && prev != id) purge(indexPath)
  }

  /** Forget an index entirely (serveUnpersist): the next check rereads. */
  def forget(indexPath: String): Unit = {
    seen.remove(indexPath)
    IndexIdentity.forget(indexPath)
  }
}
