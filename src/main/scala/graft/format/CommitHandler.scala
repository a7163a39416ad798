package graft.format

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Pluggable commit atomicity — the reference's commit-handler layer
  * (`rust/lance-table/src/io/commit.rs:48-58` handler selection;
  * `commit/external_manifest.rs` two-phase external-store protocol;
  * `commit/dynamodb.rs` the production CAS store; the warn-once unsafe
  * handler for stores with neither).
  *
  * The table format has exactly two durable CAS points, both "create this
  * object iff nothing exists at its path":
  *
  *   1. the manifest `v{N}.json` create ([[GraftTable]] commit loop) — the
  *      ACID linearization point of every mutation;
  *   2. the WAL generation marker create ([[WalIngest]] `gen-<g>.s0.json`)
  *      — the single-writer ownership fence of a WAL region.
  *
  * On HDFS / local / ABFS / GCS, `create(overwrite = false)` (or
  * rename-without-replace) IS that primitive and [[FsCommitHandler]] is
  * correct and free. On S3 *without* conditional writes there is no such
  * primitive — a plain PUT is last-writer-wins, and two committers of
  * v{N} both "succeed", silently losing one transaction. The reference
  * solves this with an external key-value store whose conditional put
  * supplies the atomicity the object store lacks;
  * [[ExternalKvCommitHandler]] is that protocol:
  *
  *   1. write the payload to a unique STAGING object (plain PUT — unique
  *      name, never contended);
  *   2. claim the destination in the KV with put-if-absent
  *      (key = destination path, value = staging path). The KV decides
  *      the winner; losers delete their staging and report conflict;
  *   3. the winner PUTs the payload at the destination (uncontended — it
  *      owns the key) and marks the KV entry FINAL.
  *
  * A crash between 2 and 3 leaves the version claimed but the object
  * missing; [[ExternalKvCommitHandler.recover]] (called by every listing)
  * finishes the copy from staging — the reference's
  * `external_manifest.rs` reader-side "finalize" path. Staging is written
  * BEFORE the claim, so a claim always has recoverable bytes.
  *
  * Selection: session conf `spark.graft.commit.handler` =
  *  - `fs` (default)        — [[FsCommitHandler]]: atomic-create stores;
  *  - `kv:<dir>`            — [[ExternalKvCommitHandler]] over a
  *                            file-backed KV rooted at `<dir>` (the
  *                            in-sandbox stand-in for DynamoDB; single
  *                            process — see [[FileKv]]);
  *  - `kvmem:<name>`        — external handler over a named in-process
  *                            KV (tests / single-driver deployments);
  *  - `put`                 — [[PutCommitHandler]]: UNSAFE last-writer-
  *                            wins plain PUT, the reference's warn-once
  *                            unsafe handler for single-writer use on
  *                            stores with no CAS. Exists so the hazard is
  *                            demonstrable and the single-writer escape
  *                            hatch is explicit, never the default.
  *
  * At 100 TB the handler cost is one KV round-trip + one extra tiny PUT
  * per COMMIT (not per file) — commits are O(metadata) already, so the
  * handler adds latency only where the store made it mandatory.
  */
trait CommitHandler {
  /** Publish `payload` at `dest`; true iff THIS call won the exclusive
    * right to create `dest` (false = someone else committed it). */
  def commit(fs: FileSystem, dest: Path, payload: Array[Byte]): Boolean

  /** Make every won-but-unfinished commit under `dir` visible (crash
    * between claim and object write). No-op for handlers whose wins are
    * immediately durable. Called by version/marker listings. */
  def recover(fs: FileSystem, dir: Path): Unit = ()

  /** Forget a destination that was garbage-collected (manifest cleanup),
    * so external claim state does not grow forever. */
  def forget(dest: Path): Unit = ()
}

/** Atomic-create stores (HDFS, local, ABFS, GCS): write a temp object,
  * rename into place; rename-without-replace is the CAS. The per-JVM lock
  * serializes same-process racers because the LOCAL filesystem's
  * `create(overwrite = false)` is check-then-act (tests, local mode). */
object FsCommitHandler extends CommitHandler {
  private val locks = new ConcurrentHashMap[String, Object]()

  override def commit(fs: FileSystem, dest: Path, payload: Array[Byte]): Boolean = {
    val lock = locks.computeIfAbsent(dest.getParent.toString, _ => new Object)
    lock.synchronized {
      if (fs.exists(dest)) return false
      val tmp = new Path(dest.getParent,
        s".tmp-${dest.getName}-${UUID.randomUUID().toString.take(8)}")
      try {
        val out = fs.create(tmp, /*overwrite=*/ true)
        try out.write(payload) finally out.close()
        if (fs.rename(tmp, dest)) true
        else { fs.delete(tmp, false); false }
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if fs.exists(dest) => false
      }
    }
  }
}

/** UNSAFE: plain overwrite PUT, always "wins" — models an object store
  * with no conditional writes (the reference's warn-once unsafe handler).
  * Two concurrent committers of the same version BOTH return true and one
  * transaction is silently lost; only ever correct under an external
  * guarantee of a single writer. [[ExternalKvCommitHandler]] composes
  * this same blind PUT with a KV claim to make it safe. */
object PutCommitHandler extends CommitHandler {
  @volatile private var warned = false
  override def commit(fs: FileSystem, dest: Path, payload: Array[Byte]): Boolean = {
    if (!warned) {
      warned = true
      System.err.println("[graft] UNSAFE commit handler 'put': concurrent " +
        "writers WILL lose commits; use kv:<dir> on stores without atomic create")
    }
    CommitHandler.atomicPut(fs, dest, payload)
    true
  }
}

/** Minimal conditional-write store interface — what DynamoDB supplies in
  * the reference (`commit/dynamodb.rs`): put-if-absent is the only
  * operation whose atomicity the protocol rests on. */
trait CommitKv {
  /** Atomically create `key -> value` iff absent; true iff created. */
  def putIfAbsent(key: String, value: String): Boolean
  /** Atomically replace `key`'s value iff it currently equals `expect`. */
  def replaceIf(key: String, expect: String, value: String): Boolean
  def put(key: String, value: String): Unit
  def get(key: String): Option[String]
  def delete(key: String): Unit
  /** All entries whose key starts with `prefix`. */
  def scan(prefix: String): Seq[(String, String)]
}

/** In-process named KV (ConcurrentHashMap) — deterministic for specs and
  * valid for single-driver deployments (the driver IS the KV). */
object MemKv {
  private val stores = new ConcurrentHashMap[String, MemKv]()
  def apply(name: String): MemKv =
    stores.computeIfAbsent(name, _ => new MemKv)
}
final class MemKv private () extends CommitKv {
  private val m = new ConcurrentHashMap[String, String]()
  override def putIfAbsent(key: String, value: String): Boolean =
    m.putIfAbsent(key, value) == null
  override def replaceIf(key: String, expect: String, value: String): Boolean =
    m.replace(key, expect, value)
  override def put(key: String, value: String): Unit = m.put(key, value)
  override def get(key: String): Option[String] = Option(m.get(key))
  override def delete(key: String): Unit = m.remove(key)
  override def scan(prefix: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    m.asScala.filter(_._1.startsWith(prefix)).toSeq
  }
}

/** File-backed KV: one file per key under `root`, claim atomicity from
  * java.nio `CREATE_NEW` (O_CREAT|O_EXCL — a real syscall-level CAS on
  * POSIX, NOT the Hadoop local-FS check-then-act), value updates via
  * atomic move. The in-sandbox stand-in for DynamoDB: keys survive
  * process restarts; single-host (an NFS-shared root would need the real
  * thing). `replaceIf` is JVM-lock + read-compare-move — sufficient for
  * the mock's single-process scope, documented as such. */
object FileKv {
  private val cached = new ConcurrentHashMap[String, FileKv]()
  def apply(root: String): FileKv =
    cached.computeIfAbsent(new java.io.File(root).getAbsolutePath,
      r => new FileKv(java.nio.file.Paths.get(r)))
}
final class FileKv private (root: java.nio.file.Path) extends CommitKv {
  import java.nio.file.{Files, StandardCopyOption}
  import java.nio.charset.StandardCharsets.UTF_8
  Files.createDirectories(root)
  private val lock = new Object

  private def keyFile(key: String): java.nio.file.Path =
    root.resolve(java.net.URLEncoder.encode(key, "UTF-8"))

  override def putIfAbsent(key: String, value: String): Boolean =
    try {
      Files.write(keyFile(key), value.getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  override def replaceIf(key: String, expect: String, value: String): Boolean =
    lock.synchronized {
      if (!get(key).contains(expect)) false
      else { put(key, value); true }
    }

  override def put(key: String, value: String): Unit = {
    val tmp = root.resolve(s".tmp-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, value.getBytes(UTF_8))
    Files.move(tmp, keyFile(key), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def get(key: String): Option[String] =
    try Some(new String(Files.readAllBytes(keyFile(key)), UTF_8))
    catch { case _: java.io.IOException => None }

  override def delete(key: String): Unit = Files.deleteIfExists(keyFile(key))

  override def scan(prefix: String): Seq[(String, String)] = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => !p.getFileName.toString.startsWith(".tmp-"))
        .map(p => java.net.URLDecoder.decode(p.getFileName.toString, "UTF-8"))
        .filter(_.startsWith(prefix))
        .flatMap(k => get(k).map(k -> _))
        .toSeq
    } finally s.close()
  }
}

/** Two-phase external-store commit (reference `external_manifest.rs`):
  * object writes are ALWAYS plain overwrite PUTs — no FS atomicity is
  * used anywhere — and exclusivity comes from the KV claim. See the
  * protocol walk-through on [[CommitHandler]]. */
final class ExternalKvCommitHandler(kv: CommitKv) extends CommitHandler {
  private val Final = "FINAL"

  private def putObject(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit =
    CommitHandler.atomicPut(fs, p, bytes)

  override def commit(fs: FileSystem, dest: Path, payload: Array[Byte]): Boolean = {
    val key = dest.toString
    // Lost-KV guard (r14 adversarial review): an object that exists BEFORE
    // we claim was committed by someone whose claim the KV must still hold
    // — if instead the claim is GONE (a kvmem store after a JVM restart, a
    // wiped kv: dir, a table migrated from the fs handler), winning the
    // absent claim would let this commit OVERWRITE the committed object.
    // Refuse and heal the claim to FINAL. Checking before the claim makes
    // this race-free: once we win putIfAbsent below, no prior claim
    // existed, so any later appearance of dest can only be a concurrent
    // recover() publishing OUR OWN staging (byte-identical).
    if (fs.exists(dest)) {
      if (kv.get(key).isEmpty) kv.putIfAbsent(key, Final)
      return false
    }
    val staging = new Path(dest.getParent,
      s".stage-${dest.getName}-${UUID.randomUUID().toString.take(8)}")
    putObject(fs, staging, payload) // durable BEFORE the claim — recover relies on it
    val won = kv.putIfAbsent(key, staging.toString) || {
      kv.get(key) match {
        // FINAL claim but no object and no staging to recover from: the
        // destination was garbage-collected or the table wiped — reclaim
        // with a conditional replace so two re-creators cannot both win.
        case Some(Final) if !fs.exists(dest) =>
          kv.replaceIf(key, Final, staging.toString)
        // ORPHANED claim (r14 adversarial review): non-FINAL, but both the
        // destination and the claimed staging object are gone — the
        // claimant crashed AND its staging was later swept (cleanup's
        // aged-unverified pass). recover() deliberately leaves such
        // entries; without reclaim here, every future committer of this
        // version loses the CAS against a claim that can never finalize,
        // and the table wedges at this version number forever. The
        // conditional replace on the exact stale value keeps two healers
        // from both winning. A LIVE claimant always has staging on disk
        // (written before the claim), so this can never steal an
        // in-flight commit.
        case Some(v0) if v0 != Final && !fs.exists(dest) &&
            !fs.exists(new Path(v0)) =>
          kv.replaceIf(key, v0, staging.toString)
        case _ => false
      }
    }
    if (!won) { fs.delete(staging, false); return false }
    putObject(fs, dest, payload)
    kv.put(key, Final)
    fs.delete(staging, false)
    true
  }

  override def recover(fs: FileSystem, dir: Path): Unit = {
    val prefix = dir.toString + "/"
    kv.scan(prefix).foreach { case (key, v) =>
      if (v != Final) {
        val dest = new Path(key)
        val staging = new Path(v)
        // no existence probe: the claimant deletes its staging right after
        // it writes dest and marks the claim FINAL, so staging can vanish
        // between a probe and the open. Gone means that finalize (or a
        // sweep of a crashed claimant's staging) happened: leave the entry
        // for the next recover rather than guessing
        val staged =
          try {
            val in = fs.open(staging)
            try Some(org.apache.commons.io.IOUtils.toByteArray(in)) finally in.close()
          } catch { case _: java.io.FileNotFoundException => None }
        staged.foreach { bytes =>
          putObject(fs, dest, bytes)
          // finalize conditionally: the winner may be racing this same
          // finalize; either order leaves dest written and entry FINAL
          kv.replaceIf(key, v, Final)
          fs.delete(staging, false)
        }
      }
    }
  }

  override def forget(dest: Path): Unit = kv.delete(dest.toString)
}

object CommitHandler {
  /** Session conf selecting the handler — see the trait scaladoc. */
  val ConfKey = "spark.graft.commit.handler"

  /** Overwrite PUT with S3's visibility semantics: the object appears
    * complete or not at all, never partially written. On Hadoop FSes that
    * means write-temp + rename-with-clobber — note this uses NO
    * exclusivity (a clobbering rename is last-writer-wins, exactly a
    * PUT), only write atomicity, which every object store's PUT already
    * has natively. A rename refused because the destination exists can
    * only be the winner/recover race writing byte-identical content —
    * the destination is already correct. */
  private[format] def atomicPut(fs: FileSystem, dest: Path,
                                payload: Array[Byte]): Unit = {
    val tmp = new Path(dest.getParent,
      s".put-${dest.getName}-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, /*overwrite=*/ true)
    try out.write(payload) finally out.close()
    if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
  }

  private val cached = new ConcurrentHashMap[String, CommitHandler]()

  def resolve(spec: String): CommitHandler = spec.trim match {
    case "" | "fs" => FsCommitHandler
    case "put" => PutCommitHandler
    case s if s.startsWith("kv:") =>
      cached.computeIfAbsent(s, _ => new ExternalKvCommitHandler(FileKv(s.drop(3))))
    case s if s.startsWith("kvmem:") =>
      cached.computeIfAbsent(s, _ => new ExternalKvCommitHandler(MemKv(s.drop(6))))
    case other => throw new IllegalArgumentException(
      s"$ConfKey must be fs | put | kv:<dir> | kvmem:<name>, got '$other'")
  }

  def forSession(spark: SparkSession): CommitHandler =
    resolve(try spark.conf.get(ConfKey, "fs")
    catch { case scala.util.control.NonFatal(_) => "fs" })
}
