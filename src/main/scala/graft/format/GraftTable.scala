package graft.format

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.StructType

/** The graft table format: versioned, fragment-based, ACID-committed columnar
  * tables on any Hadoop-compatible filesystem.
  *
  * Capability mirror of the reference's dataset layer
  * (`rust/lance/src/dataset.rs`): append/overwrite/delete/update/merge-insert
  * mutations, deletion vectors, time travel, compaction, schema evolution —
  * re-expressed Spark-first:
  *
  *  - fragments = parquet files named `frag-<id>.parquet`; the scan derives
  *    the stable row address `_rowaddr = fragId << 32 | row_index` from
  *    Spark's `_metadata` columns — no per-row storage cost (reference
  *    address scheme: `rust/lance-table/src/rowids.rs:55`).
  *  - reads go through [[GraftFileIndex]] + Spark's parquet FileFormat, so
  *    predicate pushdown / column pruning / row-group skipping are inherited.
  *  - deletion vectors are parquet sidecars of deleted addresses, applied as
  *    a (broadcast) left-anti join — Delta-style DVs, fully distributed
  *    (reference `fragment.rs:185-208`, `write/delete.rs:254`).
  *  - commits are optimistic CAS: manifest `v{N}.json` created with
  *    overwrite=false; losers re-read, re-apply, retry (reference commit
  *    conflict loop, `rust/lance/src/dataset/transaction.rs`).
  *  - executors write fragment data; ONLY metadata operations happen on the
  *    driver (footer reads at commit, manifest IO) — the 100 TB shape.
  */
object GraftTable {
  val RowAddrCol = "_rowaddr"
  /** Stable row id (reference `rust/lance-table/src/rowids.rs:55`): assigned
    * once at ingest from the manifest's `nextRowId` high-water mark, and —
    * unlike `_rowaddr` — preserved through compaction rewrites (see
    * [[Manifest]] `FragmentMeta.rowIdStart`/`rowIdStored`). */
  val RowIdCol = "_rowid"
  /** Pre-rewrite row address, persisted as a physical column by
    * content-preserving rewrites (compaction / clustering) so retired
    * index coverage keeps serving until `optimize_index` remaps: the
    * column is read only to map post-rewrite deletion vectors BACKWARD
    * into the index's old address space — see [[Manifest]]
    * `FragmentMeta.srcFragIds`/`srcDvFiles` and
    * [[graft.operators.IvfIndex.searchCombined]]. Never part of the
    * logical schema; read only via `withOldAddr`. */
  val OldAddrCol = "__old_addr"

  /** Graft-internal column names user data may never take (any case —
    * Spark resolution is case-insensitive): returns the offending names. */
  private[format] def requireNotReserved(names: Seq[String]): Seq[String] = {
    val reserved = Set(RowIdCol, RowAddrCol, OldAddrCol)
    names.filter(n => reserved.contains(n.toLowerCase(java.util.Locale.ROOT)))
  }

  /** Table-config key selecting the parquet codec for new fragment files
    * ("zstd", "snappy", "gzip", ...). Absent = Spark's session default. */
  val CompressionKey = "graft.write.compression"

  /** Auto-cleanup policy (reference `cleanup.rs:554` `auto_cleanup_hook`,
    * config keys `lance.auto_cleanup.*`): when set, every commit whose
    * version is a multiple of the interval prunes manifests beyond
    * `keep_last` (default 20) — tagged versions always survive
    * ([[cleanupOldVersions]] keeps them). */
  val AutoCleanupIntervalKey = "graft.auto_cleanup.interval"
  val AutoCleanupKeepKey = "graft.auto_cleanup.keep_last"

  /** Default write-to-base for appends/overwrites that don't pass `base`
    * explicitly — the SQL surface's route to multi-base writes
    * (`ALTER TABLE ... SET TBLPROPERTIES('graft.write.base'='cold')`). */
  val WriteBaseKey = "graft.write.base"

  /** Parquet row-group size in bytes for fragment writes (reference
    * `max_rows_per_group` compaction/write option): row groups are the
    * zonemap/pushdown pruning granule INSIDE a fragment — at 100 TB a
    * selective point query skips row groups, not just fragments, so the
    * group size is a real tuning lever. Honored by every mutation path
    * (write/update/compact/cluster/merge) like the codec config. */
  val RowGroupBytesKey = "graft.write.rowgroup.bytes"

  /** Max rows per fragment FILE on any write path (reference
    * `write_dataset(max_rows_per_file = 1 << 20)`): an oversized input
    * partition splits into several staged files, each its own fragment —
    * without the cap one skewed partition becomes one multi-GB fragment,
    * the unit no take/compaction/index-build granularity can subdivide.
    * Plumbs through Spark's own `maxRecordsPerFile` writer option, so the
    * split happens inside the writing task with zero extra shuffle. */
  val MaxRowsPerFragmentKey = "graft.write.rows.per.fragment"

  /** Bucketed-layout config (see [[write]]'s `bucketBy`): co-located joins
    * and aggregations on the bucket columns need NO shuffle — Spark's scan
    * reports hash partitioning when the relation carries a BucketSpec and
    * every fragment file name parses a bucket id. Columns are stored by
    * PHYSICAL name (physical names never change across renames). */
  /** Table config routing SQL INSERT INTO through the commit-free WAL
    * ([[WalIngest]]); flush with `CALL g.system.wal_flush`, or set
    * `graft.wal.autoflush.batches = N` to fold every N INSERTs into one
    * commit automatically. */
  val WalRegionKey = "graft.wal.region"
  val WalOwnerKey = "graft.wal.owner"
  val WalAutoFlushKey = "graft.wal.autoflush.batches"
  val BucketNumKey = "graft.bucket.numBuckets"
  val BucketColsKey = "graft.bucket.columns"
  val RowOffsetCol = "_rowoffset"
  val RowCreatedCol = "_row_created_at_version"
  val RowLastUpdatedCol = "_row_last_updated_at_version"
  private[format] val FragRe = "frag-(\\d+)(?:_\\d+)?\\.parquet$"

  // ---------------------------------------------------------------- metadata

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** Manifest lineage dir for a ref: main = `_manifests`, branch `b` =
    * `_branches/b/_manifests`. Branches share the table's data/DV files
    * (fragment paths are table-root-relative); only metadata diverges —
    * reference branches, Python `dataset.py:539-645`. */
  private def manifestDir(t: Path, branch: Option[String] = None): Path = branch match {
    case None => new Path(t, "_manifests")
    case Some(b) => new Path(t, s"_branches/$b/_manifests")
  }
  private def manifestPath(t: Path, v: Long, branch: Option[String] = None) =
    new Path(manifestDir(t, branch), f"$v%020d.json")

  /** Detached-version bit (reference `DETACHED_VERSION_MASK`,
    * `rust/lance-table/src/format/manifest.rs:107` — the reference sets the
    * u64 high bit; this engine's versions are signed Longs, so bit 62 keeps
    * them positive): a manifest committed OUTSIDE the lineage, invisible to
    * HEAD / `versions` / history / fences, checkout-able only by its exact
    * version handle. */
  val DetachedVersionMask: Long = 0x4000000000000000L

  def isDetachedVersion(v: Long): Boolean = (v & DetachedVersionMask) != 0L

  def versions(spark: SparkSession, tablePath: String,
               branch: Option[String] = None): Seq[Long] = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    // an external commit handler may hold won-but-unwritten versions
    // (crash between KV claim and object write) — surface them first;
    // no-op under the default FS handler
    CommitHandler.forSession(spark).recover(f, manifestDir(t, branch))
    if (!f.exists(manifestDir(t, branch))) Seq.empty
    else f.listStatus(manifestDir(t, branch)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .filterNot(isDetachedVersion) // lineage only — never a detached head
      .sorted
  }

  /** Detached manifests at the table (main lineage dir) — the caller-held
    * handles; nothing else ever lists or serves them. */
  def detachedVersions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    if (!f.exists(manifestDir(t))) Seq.empty
    else f.listStatus(manifestDir(t)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .filter(isDetachedVersion).sorted
  }

  /** Per-JVM latest-version hint keyed on the qualified manifest dir (so
    * branches get their own entries). Correctness never rests on the hint:
    * every probe re-verifies against the filesystem — the hint only
    * replaces the O(versions) directory listing `versions()` pays with
    * O(1) existence stats on the hot path (every table op resolves
    * `latestVersion` at least once, and gate tables accrete dozens of
    * versions, so the listing cost was quadratic across a table's life).
    * Stale-hint cases and their handling:
    *  - newer versions exist (another writer, or an in-JVM commit that
    *    bypassed [[tryCommit]]): the forward probe walks to them — each
    *    commit is exactly hint+1, so the walk is one stat in steady state;
    *  - the hinted version vanished (drop/recreate, full cleanup): the
    *    hinted-manifest stat misses and we fall back to the full listing.
    * Only FS-backed commit handlers take the fast path: the external KV
    * handler can hold won-but-unwritten versions that only its
    * `recover()` surfaces, which a bare existence probe cannot see. */
  private val latestHint =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def hintKey(f: FileSystem, dir: Path): String =
    f.makeQualified(dir).toString

  private[format] def noteCommittedVersion(spark: SparkSession, tablePath: String,
                                           v: Long, branch: Option[String]): Unit = {
    if (isDetachedVersion(v)) return // never a lineage head
    val t = new Path(tablePath)
    val f = fs(spark, t)
    val key = hintKey(f, manifestDir(t, branch))
    latestHint.merge(key, java.lang.Long.valueOf(v),
      (a, b) => if (a.longValue() >= b.longValue()) a else b)
  }

  /** Gap sentinel: an empty `_GRAFT_GAP` file in the manifest dir, created
    * by [[cleanupOldVersions]] BEFORE it deletes any version that sits
    * BELOW a surviving one (tag- or WAL-pinned survivors leave holes in
    * the lineage numbering). While present, the forward probe above is
    * unsound — a walk could stop at a hole instead of HEAD — so
    * [[latestVersion]] reverts to the full listing for that lineage
    * forever. The probe checks it before AND after its walk: a cleanup
    * that starts mid-walk writes the sentinel before its first delete, so
    * any hole the walk could have stopped at is announced by the second
    * check. Existence-only (no content), so concurrent cleanups cannot
    * race its meaning; prefix-only cleanups never write it. */
  private val GapSentinel = "_GRAFT_GAP"

  private def gapSentinelPath(t: Path, branch: Option[String]): Path =
    new Path(manifestDir(t, branch), GapSentinel)

  def latestVersion(spark: SparkSession, tablePath: String,
                    branch: Option[String] = None): Option[Long] = {
    val handler = CommitHandler.forSession(spark)
    if ((handler ne FsCommitHandler) && (handler ne PutCommitHandler))
      return versions(spark, tablePath, branch).lastOption
    val t = new Path(tablePath)
    val f = fs(spark, t)
    val key = hintKey(f, manifestDir(t, branch))
    val hinted = latestHint.get(key)
    if (hinted != null && f.exists(manifestPath(t, hinted.longValue(), branch)) &&
        !f.exists(gapSentinelPath(t, branch))) {
      DmlTestHooks.beforeProbeWalk(tablePath)
      var v = hinted.longValue()
      while (f.exists(manifestPath(t, v + 1, branch))) v += 1
      if (!f.exists(gapSentinelPath(t, branch))) {
        latestHint.put(key, java.lang.Long.valueOf(v))
        return Some(v)
      }
    }
    if (hinted != null) latestHint.remove(key, hinted)
    val vs = versions(spark, tablePath, branch)
    vs.lastOption.foreach(v => latestHint.put(key, java.lang.Long.valueOf(v)))
    vs.lastOption
  }

  /** Latest version whose commit time ≤ `tsMillis` — the `TIMESTAMP AS OF`
    * resolution (reference `checkout_version` by timestamp). Commit times
    * come from the `commitTsMillis` field stamped INTO each manifest at
    * CAS-commit (mtimes change on copy/rsync/migration and skew across
    * writer clocks — ADVICE r4); legacy manifests without the field fall
    * back to file mtime. One dir listing + O(log n) manifest loads via
    * binary search (commit times are monotone per lineage — versions commit
    * in order under the table's commit lock). */
  def versionAsOfTimestamp(spark: SparkSession, tablePath: String,
                           tsMillis: Long): Option[Long] = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    val dir = manifestDir(t)
    if (!f.exists(dir)) return None
    val entries = f.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .map(s => (s.getPath.getName.stripSuffix(".json").toLong, s.getModificationTime))
      .filterNot(e => isDetachedVersion(e._1)) // lineage-only resolution
      .sortBy(_._1)
    if (entries.isEmpty) return None
    val tsCache = scala.collection.mutable.Map.empty[Int, (Long, Boolean)]
    // (effective ts, stamped?) — stamped = manifest carries a real commitTs
    def probe(i: Int): (Long, Boolean) = tsCache.getOrElseUpdate(i, {
      val (v, mtime) = entries(i)
      val m = scala.util.Try(loadManifest(spark, tablePath, Some(v))).toOption
      m.map(_.commitTsMillis).filter(_ > 0L) match {
        case Some(ts) => (ts, true)
        case None     => (mtime, false)
      }
    })
    def tsOf(i: Int): Long = probe(i)._1
    def linearScan: Option[Long] =
      entries.indices.filter(i => tsOf(i) <= tsMillis).map(i => entries(i)._1)
        .sorted.lastOption
    // Commits since r6 stamp max(now, parentTs + 1), so stamped lineages
    // are monotone in version BY CONSTRUCTION — and once a lineage starts
    // stamping every descendant is stamped, so "oldest entry stamped" ⇒
    // the whole remaining history is stamped and binary search is sound.
    // Any legacy manifest in range (mtime fallback — mtimes change on
    // copy/rsync and skewed writer clocks reorder them) means a
    // non-monotone pair can hide BETWEEN binary-search probes, where the
    // old probed-pair check could not see it: take the O(n) linear
    // max-scan directly instead of trusting the probe result.
    if (!probe(0)._2) return linearScan
    var lo = 0
    var hi = entries.size - 1
    var ans: Option[Long] = None
    var sawLegacy = false
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      val (ts, stamped) = probe(mid)
      if (!stamped) sawLegacy = true
      if (ts <= tsMillis) { ans = Some(entries(mid)._1); lo = mid + 1 }
      else hi = mid - 1
    }
    if (sawLegacy) linearScan else ans
  }

  /** Bounded per-JVM manifest cache. A committed manifest file is
    * IMMUTABLE (commits only ever create the next version), so caching
    * the parsed object is sound — guarded by (length, mtime) from ONE
    * `getFileStatus` against the wipe-and-recreate-same-path edge, which
    * still beats open+read+parse on every metadata touch. At 100 TB a
    * manifest is tens of MB of fragment metadata and `loadManifest` is
    * on every query/commit/fence path — this is the difference between
    * O(1) stat and re-parsing the fragment list per call. */
  private val ManifestCacheCapacity = 32
  private val manifestCache =
    new java.util.LinkedHashMap[String, (Long, Long, GraftManifest)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, GraftManifest)]): Boolean =
        size() > ManifestCacheCapacity
    }

  def loadManifest(spark: SparkSession, tablePath: String, version: Option[Long] = None,
                   branch: Option[String] = None): GraftManifest = {
    val t = new Path(tablePath)
    val v = version.orElse(latestVersion(spark, tablePath, branch))
      .getOrElse(throw new IllegalArgumentException(
        s"no graft ${branch.map(b => s"branch $b").getOrElse("table")} at $tablePath"))
    val f = fs(spark, t)
    val p = manifestPath(t, v, branch)
    val st = f.getFileStatus(p)
    val key = p.toString
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null && hit._1 == st.getLen && hit._2 == st.getModificationTime)
        return hit._3
    }
    val in = f.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val m = GraftManifest.fromJson(new String(bytes, "UTF-8"))
    manifestCache.synchronized {
      manifestCache.put(key, (st.getLen, st.getModificationTime, m))
    }
    m
  }

  /** Create-if-absent commit through the session's [[CommitHandler]]
    * (default: FS atomic rename; `spark.graft.commit.handler = kv:...`
    * for object stores without one). Returns false on version conflict. */
  private def tryCommit(spark: SparkSession, tablePath: String, m: GraftManifest,
                        branch: Option[String] = None): Boolean = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    f.mkdirs(manifestDir(t, branch))
    val p = manifestPath(t, m.version, branch)
    if (f.exists(p)) return false // fast path; the handler re-checks atomically
    // Commit timestamps must be MONOTONE in version — versionAsOfTimestamp
    // binary-searches on them. Writer clocks can skew (and legacy manifests
    // fall back to mtime), so stamp max(now, parentTs + 1) rather than
    // trusting the local clock alone (ADVICE r5).
    val parentTs = scala.util.Try(
      loadManifest(spark, tablePath, Some(m.version - 1), branch).commitTsMillis)
      .getOrElse(0L)
    val stamped = m.copy(commitTsMillis = math.max(System.currentTimeMillis(), parentTs + 1))
    val payload = GraftManifest.toJson(stamped).getBytes("UTF-8")
    if (CommitHandler.forSession(spark).commit(f, p, payload)) {
      // every successful commit may change blob-root config (overwrite,
      // re-clone, drop/recreate at the same path) — drop the per-JVM
      // cached root chain so the next point read re-resolves
      BlobStore.invalidateRoots(tablePath)
      // seed the latest-version hint so the next metadata touch probes
      // from HERE instead of re-listing the manifest dir
      noteCommittedVersion(spark, tablePath, m.version, branch)
      true
    } else false
  }

  /** Commit loop: re-reads the latest manifest and re-applies `op` until the
    * CAS succeeds (reference's conflict-retry commit). */
  private def commitLoop(spark: SparkSession, tablePath: String,
                         op: Option[GraftManifest] => GraftManifest,
                         maxRetries: Int = 20,
                         branch: Option[String] = None): GraftManifest = {
    var attempt = 0
    while (attempt < maxRetries) {
      // opStats / txnProperties describe ONE commit — cleared here so an op
      // that does not stamp its own can never inherit the parent commit's
      val base = latestVersion(spark, tablePath, branch)
        .map(v => loadManifest(spark, tablePath, Some(v), branch))
        .map(_.copy(opStats = Map.empty, txnProperties = Map.empty))
      val next = op(base)
      DmlTestHooks.beforeCas(tablePath)
      if (tryCommit(spark, tablePath, next, branch)) {
        if (branch.isEmpty) autoCleanupHook(spark, tablePath, next)
        return next
      }
      attempt += 1
      // jittered exponential backoff: without it, N contending writers
      // re-read and re-CAS in lockstep and one of them can lose every
      // round (livelock-shaped starvation at high commit contention —
      // observed at 8 writers × 64 sequential appends); capped so a
      // single lost race never waits long
      if (attempt < maxRetries) {
        val cap = math.min(200L, 2L << math.min(attempt, 6))
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(cap + 1))
      }
    }
    throw new IllegalStateException(s"commit conflict after $maxRetries retries at $tablePath")
  }

  /** Post-commit auto-cleanup (reference `auto_cleanup_hook`,
    * `rust/lance/src/dataset/cleanup.rs:554` — commit path calls it unless
    * `skip_auto_cleanup`, `io/commit.rs:900`): active only when the table
    * config carries [[AutoCleanupIntervalKey]]; fires on versions divisible
    * by the interval; failures are logged, never fail the commit (matching
    * the reference's log-and-continue). Main branch only — branch heads
    * share the data dir and are already protected by the cleanup's
    * every-branch reference sweep. */
  private def autoCleanupHook(spark: SparkSession, tablePath: String,
                              m: GraftManifest): Unit =
    m.config.get(AutoCleanupIntervalKey).foreach { iv =>
      try {
        val interval = iv.toLong
        require(interval > 0, s"$AutoCleanupIntervalKey must be positive: $iv")
        if (m.version % interval == 0) {
          val keep = m.config.get(AutoCleanupKeepKey).map(_.toInt).getOrElse(20)
          // log-and-continue semantics: a tag protecting old versions must
          // not start failing every interval-divisible commit
          cleanupOldVersions(spark, tablePath, keep,
            errorIfTaggedOldVersions = false)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] auto-cleanup at $tablePath failed: ${e.getMessage}")
      }
    }

  // ------------------------------------------------------------- data files

  private def parquetRowCount(conf: Configuration, status: org.apache.hadoop.fs.FileStatus): Long =
    FragmentStats.rowCount(FragmentStats.footer(conf, status))

  /** Footer read → (rows, per-column zone stats). One driver IO per fragment
    * at commit time; stats ride in the manifest and fund plan-time pruning. */
  private def parquetFooterInfo(conf: Configuration,
                                status: org.apache.hadoop.fs.FileStatus): (Long, Map[String, ColumnStat]) = {
    val f = FragmentStats.footer(conf, status)
    (FragmentStats.rowCount(f), FragmentStats.fromFooter(f))
  }

  /** ONE footer open returning rows + stats + a CANONICAL schema
    * fingerprint: column paths, primitive types, and logical annotations —
    * repetition (required vs optional) and writer-stamped field ids are
    * excluded because they don't affect read compatibility, and
    * heterogeneously-produced parquet (pandas vs Spark writers) differs in
    * exactly those. */
  private def parquetFooterAll(conf: Configuration,
                               status: org.apache.hadoop.fs.FileStatus):
      (Long, Map[String, ColumnStat], String) = {
    import scala.jdk.CollectionConverters._
    val f = FragmentStats.footer(conf, status)
    val canon = f.getFileMetaData.getSchema.getColumns.asScala
      .map { cd =>
        val pt = cd.getPrimitiveType
        cd.getPath.mkString(".") + ":" + pt.getPrimitiveTypeName + ":" +
          String.valueOf(pt.getLogicalTypeAnnotation)
      }.sorted.mkString(";")
    (FragmentStats.rowCount(f), FragmentStats.fromFooter(f), canon)
  }

  /** Write `df`'s rows as new fragment files under a unique txn directory and
    * return their metadata. Executors write data; the driver only reads
    * footers. Fragment ids are assigned by `assignIds` at commit time.
    */
  /** Fragment writes force TIMESTAMP_MICROS (not Spark's INT96 default):
    * INT96 columns carry no footer statistics, which would silently no-op
    * zonemap pruning on every timestamp column. The parquet writer only
    * honors the SESSION conf for this (no per-write option exists), so the
    * write runs through a cloned session carrying the override — the
    * caller's session conf is never mutated, and concurrent graft writes on
    * one session cannot interleave a set/restore (ADVICE r2). Cloning
    * shares the SparkContext and cached data; only session state is copied. */
  private def writeMicros(spark: SparkSession, df: DataFrame, dest: String,
                          codec: Option[String] = None,
                          rowGroupBytes: Option[Long] = None,
                          maxRowsPerFile: Option[Long] = None): Unit = {
    val writer = ColumnBridge.cloneSession(spark)
    writer.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // staging a bucketed table's rewrite reads bucketed fragments under a
    // `repartition(n, bucketCols)`: EnsureRequirements elides that shuffle
    // because the BUCKETED scan's claimed partitioning already satisfies
    // it, but DisableUnnecessaryBucketedScan can then UNDO the bucketed
    // scan (it only protects joins/aggregates, not elided user shuffles) —
    // leaving no shuffle at all and letting file-packing mix buckets in
    // one task. Pinning autoBucketedScan off in this write-only session
    // keeps the claimed partitioning the executed one.
    writer.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    codec.foreach(c => writer.conf.set("spark.sql.parquet.compression.codec", c))
    val w = ColumnBridge.ofRows(writer, df.queryExecution.logical)
      .write.mode(SaveMode.Overwrite)
    // parquet honors block size per-write through the writer options
    rowGroupBytes.foreach(b => w.option("parquet.block.size", b.toString))
    maxRowsPerFile.foreach(n => w.option("maxRecordsPerFile", n.toString))
    w.parquet(dest)
  }

  /** Rename a logical-named DataFrame to the manifest's PHYSICAL column
    * names before staging fragment files — new fragments must match what the
    * table's other files store (renames are metadata-only; see
    * [[GraftManifest.physicalName]]). One atomic projection (swap-safe). */
  private[format] def toPhysical(df: DataFrame, m: GraftManifest): DataFrame = {
    if (!m.hasIndirection) return df
    val byLogical = m.schema.fields.map(f => f.name -> f).toMap
    df.select(df.columns.toSeq.map { c =>
      byLogical.get(c) match {
        case Some(f) if SchemaPaths.hasNestedIndirection(f.dataType) =>
          // nested renames: rebuild BY NAME (a positional cast would bind
          // a reordered-but-correctly-named input struct to the wrong
          // physical columns), null-safe, recursing through arrays
          SchemaPaths.toPhysicalExpr(col(c), f.dataType, f.nullable)
            .as(m.physicalName(f))
        case Some(f) => col(c).as(m.physicalName(f))
        case None    => col(c) // graft-internal columns (_rowid, _rowaddr)
      }
    }: _*)
  }

  /** Strip graft-internal field metadata (rename mapping) from a schema about
    * to be committed for files written under their logical names. */
  private def cleanSchema(s: StructType): StructType =
    SchemaPaths.cleanType(s).asInstanceOf[StructType]

  private def stageFragments(spark: SparkSession, tablePath: String, df: DataFrame,
                             stagingRoot: Option[Path] = None,
                             maxRowsPerFile: Option[Long] = None): Seq[Path] = {
    val txn = s"data/txn-${UUID.randomUUID().toString.take(8)}"
    val stagingDir = new Path(stagingRoot.getOrElse(new Path(tablePath)), txn)
    // table-level write codec (`graft.write.compression` config, e.g.
    // "zstd"): at archival scale zstd roughly halves cold storage over the
    // snappy default for modest CPU — a per-table choice every mutation
    // path (write/update/compact/merge) honors uniformly
    val cfg = latestVersion(spark, tablePath)
      .map(v => loadManifest(spark, tablePath, Some(v)))
      .map(_.config).getOrElse(Map.empty)
    writeMicros(spark, df, stagingDir.toString, cfg.get(CompressionKey),
      cfg.get(RowGroupBytesKey).map(_.toLong),
      maxRowsPerFile.orElse(cfg.get(MaxRowsPerFragmentKey).map(_.toLong)))
    val f = fs(spark, stagingDir)
    f.listStatus(stagingDir).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(_.getPath)
  }

  /** Rename staged part files to `frag-<id>.parquet` and build metadata.
    * Returns the renamed paths so a commit-conflict retry can re-rename with
    * fresh ids (ids may collide with a concurrently committed append).
    *
    * Row-id assignment: `rowIdBase >= 0` hands each fragment a contiguous id
    * range starting at the running total (derived `_rowid`, no storage);
    * `storedRowIds` marks fragments whose files carry a physical `_rowid`
    * column (compaction rewrites). */
  /** The table's BucketSpec, iff the configured spec still DESCRIBES the
    * layout: every live fragment must carry the parseable bucket suffix.
    * A rewriting mutation (compact/update/merge/cluster) emits unsuffixed
    * files, so the spec silently degrades to None — an ordinary scan,
    * never a bucketed-read error on invalid file names. Metadata-only
    * (fragment NAME check over the manifest). */
  private[format] def bucketSpecOf(m: GraftManifest)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    val suffixed = "frag-\\d+_\\d+\\.parquet$".r
    for {
      n <- m.config.get(BucketNumKey).map(_.toInt)
      cs <- m.config.get(BucketColsKey)
        .map(_.split(",").toSeq.filter(_.nonEmpty))
      if cs.nonEmpty
      if m.fragments.forall(f =>
        suffixed.findFirstIn(f.path.split('/').last).isDefined)
    } yield org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cs, Nil)
  }

  private def assignIds(spark: SparkSession, staged: Seq[Path], firstId: Long,
                        version: Long, rowIdBase: Long = -1L,
                        storedRowIds: Boolean = false,
                        absolutePaths: Boolean = false,
                        bucketIds: Option[Seq[Int]] = None): (Seq[FragmentMeta], Seq[Path]) = {
    val conf = spark.sessionState.newHadoopConf()
    var nextRid = rowIdBase
    // bucketed layouts suffix the Spark bucket id in the exact shape
    // BucketingUtils.getBucketId parses (`..._NNNNN.parquet`)
    def destName(i: Int): String = bucketIds match {
      case Some(bs) => f"frag-${firstId + i}_${bs(i)}%05d.parquet"
      case None => s"frag-${firstId + i}.parquet"
    }
    // a commit-conflict retry SHIFTS the id range, so a file's new target
    // name can collide with a SIBLING's current name (frag-61 -> frag-62
    // while frag-62 is still staged); detour through unique temp names
    // first when any such overlap exists
    val currentNames = staged.map(_.getName).toSet
    val needTwoPhase = staged.zipWithIndex.exists { case (p, i) =>
      val d = destName(i)
      d != p.getName && currentNames.contains(d)
    }
    val work =
      if (!needTwoPhase) staged
      else staged.map { p =>
        val f = p.getFileSystem(conf)
        val tmp = new Path(p.getParent,
          s"stage-${UUID.randomUUID().toString.take(8)}.parquet")
        if (!f.rename(p, tmp))
          throw new IllegalStateException(s"rename $p -> $tmp failed")
        tmp
      }
    // rename + footer read per staged file, in PARALLEL on a bounded pool:
    // files are independent (renames target distinct names — the two-phase
    // detour above already broke any collision), and the footer reads are
    // the driver's per-commit IO — a sequential loop serializes a
    // many-fragment commit on exactly the node that should do no data work
    // (guide §5). Results keep input order; the row-id prefix sum below
    // stays sequential so id ranges are unchanged.
    val read: Seq[(Path, Long, Long, Map[String, ColumnStat])] = {
      def one(p: Path, i: Int): (Path, Long, Long, Map[String, ColumnStat]) = {
        val f = p.getFileSystem(conf)
        val dest = new Path(p.getParent, destName(i))
        if (p.getName != dest.getName && !f.rename(p, dest)) {
          throw new IllegalStateException(s"rename $p -> $dest failed")
        }
        val st = f.getFileStatus(dest)
        val (rows, stats) = parquetFooterInfo(conf, st)
        (dest, rows, st.getLen, stats)
      }
      if (work.size <= 1) work.zipWithIndex.map { case (p, i) => one(p, i) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(work.size, 16))
        try {
          import scala.jdk.CollectionConverters._
          val jobs: java.util.List[java.util.concurrent.Callable[
            (Path, Long, Long, Map[String, ColumnStat])]] =
            work.zipWithIndex.map { case (p, i) =>
              new java.util.concurrent.Callable[
                (Path, Long, Long, Map[String, ColumnStat])] {
                override def call() = one(p, i)
              }
            }.asJava
          pool.invokeAll(jobs).asScala.toSeq.map(_.get())
        } finally pool.shutdown()
      }
    }
    val out = read.zipWithIndex.map { case ((dest, rows, len, stats), i) =>
      val id = firstId + i
      val start = if (rowIdBase >= 0) { val s = nextRid; nextRid += rows; s } else -1L
      // fragments written to a registered BASE record absolute paths (same
      // resolution rule shallow clones use: an absolute child wins in
      // `new Path(tableRoot, path)`)
      val rel = if (absolutePaths) dest.getFileSystem(conf).makeQualified(dest).toString
                else relativize(dest)
      (FragmentMeta(id, rel, rows, len, version, stats,
        rowIdStart = start, rowIdStored = storedRowIds), dest)
    }
    (out.map(_._1), out.map(_._2))
  }

  /** Table-relative path of a fragment file. Every fragment lives at
    * `<table>/data/<txn>/<file>` ([[stageFragments]]), so the path relative
    * to the table root is its last three components — never a cut at the
    * first `/data/` of the absolute path, which may belong to a directory
    * ABOVE the table. */
  private def relativize(p: Path): String = {
    val txn = p.getParent
    s"${txn.getParent.getName}/${txn.getName}/${p.getName}"
  }

  // ------------------------------------------------------------------ write

  /** Create / append / overwrite (reference `WriteMode`, `write.rs:115-122`).
    * `base`: write the new fragments under a registered multi-base storage
    * location instead of the table root (reference named base paths,
    * Python `add_bases` / write-to-base; see [[addBases]]). */
  /** `bucketBy = Some((n, cols))` (create/overwrite only) lays fragments
    * out as Spark hash buckets: rows route by `pmod(murmur3(cols), n)` —
    * the SAME function Spark's bucketed scan assumes — and fragment files
    * carry the `_NNNNN` bucket suffix `BucketingUtils` parses, so reads
    * report hash partitioning and joins/aggregations on the bucket
    * columns need NO shuffle (PlanAuditSpec proves a bucketed-bucketed
    * join plans zero exchanges). Appends inherit the table's spec
    * automatically (SQL INSERTs stay bucketed); rewriting mutations
    * (compact/update/merge) produce unsuffixed files and the read side
    * degrades to an ordinary scan — never an error (see
    * [[bucketSpecOf]]). */
  def write(df: DataFrame, tablePath: String, mode: String = "append",
            configUpdates: Map[String, String] = Map.empty,
            base: Option[String] = None,
            commitMessage: Option[String] = None,
            txnProperties: Map[String, String] = Map.empty,
            bucketBy: Option[(Int, Seq[String])] = None,
            unbucket: Boolean = false): GraftManifest = {
    val txnProps = txnProperties ++ commitMessage.map("message" -> _)
    val spark = df.sparkSession
    // graft-internal column names (system scan columns + the rewrite
    // provenance column) can't be user data: a later internal read that
    // projects them through the scan schema would collide with the stored
    // column and serve the wrong values silently. Case-INSENSITIVE —
    // Spark resolution is, so `_ROWADDR` collides just the same.
    val reservedHit = requireNotReserved(df.columns)
    require(reservedHit.isEmpty,
      s"reserved graft column names: ${reservedHit.mkString(", ")}")
    // appends must write the table's PHYSICAL column names (rename mapping of
    // the latest manifest, at every nesting depth); create/overwrite define a
    // fresh logical schema
    val latestM = latestVersion(spark, tablePath)
      .map(v => loadManifest(spark, tablePath, Some(v)))
    val stagedM = latestM.filter(_ => mode.equalsIgnoreCase("append"))
    val stagedIndirection = stagedM.map(_.indirectionPairs).getOrElse(Nil)
    // explicit base param wins; else the graft.write.base table config (the
    // SQL-surface route: ALTER TABLE ... SET TBLPROPERTIES sends INSERTs to
    // a base without API access)
    val effBase = base.orElse(latestM.flatMap(_.config.get(WriteBaseKey)))
    val baseRoot = effBase.map { name =>
      val bs = latestM.map(_.bases).getOrElse(Map.empty)
      new Path(bs.getOrElse(name, throw new IllegalArgumentException(
        s"unknown base '$name' (registered: ${bs.keys.toSeq.sorted.mkString(", ")})")))
    }
    val cleanJson = cleanSchema(df.schema).json
    val physDf = stagedM.map(m => toPhysical(df, m)).getOrElse(df)
    // bucket spec in PHYSICAL column names: explicit at create/overwrite
    // (appends must match the configured spec); appends inherit the
    // table's spec so every ingestion path stays bucketed
    val cfgSpec: Option[(Int, Seq[String])] = latestM.flatMap(m =>
      for {
        n <- m.config.get(BucketNumKey)
        cs <- m.config.get(BucketColsKey)
      } yield (n.toInt, cs.split(",").toSeq.filter(_.nonEmpty)))
    val isAppend = mode.equalsIgnoreCase("append") && latestM.isDefined
    val explicitSpec = bucketBy.map { case (n, cols) =>
      require(n > 0, s"bucketBy needs a positive bucket count, got $n")
      require(cols.nonEmpty, "bucketBy needs at least one column")
      cols.foreach(c => require(df.columns.contains(c),
        s"bucketBy column $c not in ${df.columns.mkString(", ")}"))
      (n, stagedM.map(m => cols.map(c => m.physicalName(m.schema(c))))
        .getOrElse(cols))
    }
    if (isAppend) explicitSpec.foreach { s =>
      require(cfgSpec.contains(s),
        s"append bucketBy $s does not match the table's bucket spec " +
          s"${cfgSpec.getOrElse("(none — bucket at create/overwrite)")}")
    }
    require(!unbucket || mode.equalsIgnoreCase("overwrite"),
      "unbucket is only meaningful on overwrite")
    require(!(unbucket && bucketBy.isDefined),
      "unbucket and bucketBy are mutually exclusive")
    // overwrite INHERITS the DDL-declared bucket layout (like INSERT
    // OVERWRITE on a Hive bucketed table): a plain overwrite must not
    // silently drop the zero-shuffle-join property. Config cols are stored
    // in the OLD manifest's physical names; the overwrite defines a fresh
    // logical schema, so translate to logical. If a bucket column no longer
    // exists in the new data the layout can't hold — fall back to unbucketed
    // (and strip the config keys below). `unbucket = true` opts out.
    val inheritedSpec: Option[(Int, Seq[String])] =
      if (unbucket || !mode.equalsIgnoreCase("overwrite")) None
      else cfgSpec.flatMap { case (n, physCols) =>
        val logical = latestM.map(m => physCols.map(m.logicalName)).getOrElse(physCols)
        if (logical.forall(df.columns.contains)) Some((n, logical)) else None
      }
    val effSpec = explicitSpec.orElse(if (isAppend) cfgSpec else inheritedSpec)
    var (staged, bucketIds): (Seq[Path], Option[Seq[Int]]) = effSpec match {
      case Some((n, cols)) =>
        val (paths, ids) = stageBucketed(spark, tablePath, n, cols,
          physDf, baseRoot)
        (paths, Some(ids))
      case None => (stageFragments(spark, tablePath, physDf, baseRoot), None)
    }
    val bucketCfg = effSpec match {
      case Some((n, cols)) if !isAppend =>
        Map(BucketNumKey -> n.toString, BucketColsKey -> cols.mkString(","))
      case _ => Map.empty[String, String]
    }
    def assign(firstId: Long, version: Long, rowIdBase: Long): Seq[FragmentMeta] = {
      val (frags, paths) = assignIds(spark, staged, firstId, version, rowIdBase,
        absolutePaths = baseRoot.isDefined, bucketIds = bucketIds)
      staged = paths
      frags
    }
    commitLoop(spark, tablePath, {
      case None =>
        val frags = assign(0L, 1L, 0L)
        GraftManifest(1L, "create", cleanJson, frags, Nil, 0L,
          configUpdates ++ bucketCfg, 0L,
          nextRowId = frags.map(_.rows).sum, txnProperties = txnProps)
      case Some(base) => mode.toLowerCase match {
        case "append" =>
          if (base.indirectionPairs != stagedIndirection) throw new IllegalStateException(
            "append conflict: columns were renamed concurrently — retry the write")
          val frags = assign(base.maxFragmentId + 1, base.version + 1, base.nextRowId)
          base.copy(version = base.version + 1, operation = "append",
            fragments = base.fragments ++ frags,
            config = base.config ++ configUpdates, parent = base.version,
            nextRowId = base.nextRowId + frags.map(_.rows).sum,
            opStats = Map("num_inserted_rows" -> frags.map(_.rows).sum),
            txnProperties = txnProps)
        case "overwrite" =>
          // ids keep growing across overwrites (the high-water mark is never
          // reset) so a row id can never be observed for two different rows
          val frags = assign(base.maxFragmentId + 1, base.version + 1, base.nextRowId)
          // an unbucketed overwrite replaces every fragment — stale bucket
          // keys must not survive to mis-describe the new layout
          val cfg0 = if (effSpec.isEmpty)
            base.config -- Seq(BucketNumKey, BucketColsKey) else base.config
          GraftManifest(base.version + 1, "overwrite", cleanJson,
            frags, Nil, 0L, cfg0 ++ configUpdates ++ bucketCfg, base.version,
            nextRowId = base.nextRowId + frags.map(_.rows).sum,
            bases = base.bases, txnProperties = txnProps)
        case "errorifexists" | "error" =>
          throw new IllegalStateException(s"graft table already exists at $tablePath")
        case m => throw new IllegalArgumentException(s"unknown write mode: $m")
      }
    })
  }

  /** Detached append (reference `commit(detached=True)` /
    * `commit_detached_transaction`, `rust/lance/src/io/commit.rs:606-626`,
    * Python `dataset.py:3066`): stage + commit the rows as a manifest at a
    * RANDOM version with [[DetachedVersionMask]] set — outside the lineage.
    * HEAD, `versions`, history, time travel and WAL fences never see it;
    * only the returned handle reaches it (`read(version = Some(v))`, SQL
    * `VERSION AS OF v`). The experiment/staging surface: snapshot
    * base-plus-candidate-rows without publishing, compare, then publish (a
    * normal append) or walk away — nothing to roll back. Never contends
    * with lineage commits (no CAS loop: the 62-bit random version IS the
    * exclusivity). Caveat, documented: the detached snapshot assigns stable
    * row ids from the SAME high-water a later lineage append will use —
    * detached versions are snapshots, not mergeable branches.
    * `cleanupOldVersions` keeps their files referenced; `dropDetached`
    * releases the handle. */
  def writeDetached(df: DataFrame, tablePath: String,
                    txnProperties: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val reservedHit = requireNotReserved(df.columns)
    require(reservedHit.isEmpty,
      s"reserved graft column names: ${reservedHit.mkString(", ")}")
    val base = loadManifest(spark, tablePath)
    val physDf = toPhysical(df, base)
    var staged = stageFragments(spark, tablePath, physDf)
    val v = (java.util.concurrent.ThreadLocalRandom.current().nextLong()
      & 0x3FFFFFFFFFFFFFFFL) | DetachedVersionMask
    val (frags, paths) = assignIds(spark, staged, base.maxFragmentId + 1, v,
      base.nextRowId)
    staged = paths
    val m = base.copy(version = v, operation = "append",
      fragments = base.fragments ++ frags, parent = base.version,
      nextRowId = base.nextRowId + frags.map(_.rows).sum,
      opStats = Map("num_inserted_rows" -> frags.map(_.rows).sum),
      txnProperties = txnProperties + ("detached" -> "true"))
    // collision of two 62-bit random versions is not a real event; surface
    // it loudly rather than renaming the staged fragments for a retry
    if (!tryCommit(spark, tablePath, m))
      throw new IllegalStateException(
        s"detached version collision at $tablePath v$v — retry the write")
    v
  }

  /** Delete a detached manifest (the handle is the only route to it, so
    * dropping it releases the snapshot; the next cleanup sweep reclaims any
    * fragments only it referenced). */
  def dropDetached(spark: SparkSession, tablePath: String, version: Long): Unit = {
    require(isDetachedVersion(version), s"v$version is not a detached version")
    val t = new Path(tablePath)
    val f = fs(spark, t)
    f.delete(manifestPath(t, version), false)
    CommitHandler.forSession(spark).forget(manifestPath(t, version))
  }

  /** Create an EMPTY table from a schema — one metadata-only commit, no data
    * files (the DDL path: `CREATE TABLE ... USING graft`). Appends then fill
    * it; reads of version 1 return zero rows of the declared schema. */
  def createEmpty(spark: SparkSession, tablePath: String, schema: StructType,
                  config: Map[String, String] = Map.empty): GraftManifest = {
    val m = GraftManifest(1L, "create", cleanSchema(schema).json, Nil, Nil, 0L,
      config, 0L, nextRowId = 0L)
    if (!tryCommit(spark, tablePath, m))
      throw new IllegalStateException(s"graft table already exists at $tablePath")
    m
  }

  /** Zero-copy registration of EXISTING parquet files as fragments
    * (reference distributed/external-write pattern: workers produce data
    * files via `Fragment.create` / `create_from_file` — Python
    * `fragment.py:279,304` — and a coordinator registers them with
    * `LanceDataset.commit(uri, LanceOperation.Append(fragments))`,
    * `dataset.py` `commit`): the files are NOT copied, moved, or rewritten —
    * their footers are read once (executor-parallel shape like
    * [[validate]]) for row counts + zonemap stats, and the manifest commit
    * references them by absolute qualified path (the shallow-clone /
    * multi-base resolution rule). At 100 TB this is the difference between
    * re-ingesting externally produced parquet and a metadata-only import.
    *
    * Files must carry the table's PHYSICAL schema (names; types must be
    * compatible) — verified before commit. `mode` ∈ append | overwrite.
    * Caveat, documented: imported files keep living at their original
    * location; `cleanupOldVersions` never deletes files outside the table
    * root and its registered bases. */
  def commitFiles(spark: SparkSession, tablePath: String, files: Seq[String],
                  mode: String = "append"): GraftManifest = {
    require(files.nonEmpty, "commitFiles: empty file list")
    // a repeated path would rename the file on its first occurrence and
    // then fail (source gone) halfway through the second — reject up front
    require(files.distinct.size == files.size,
      s"commitFiles: duplicate paths in the file list: " +
        files.groupBy(identity).collect { case (p, g) if g.size > 1 => p }.mkString(","))
    val conf = spark.sessionState.newHadoopConf()
    val m0 = loadManifest(spark, tablePath)
    // one schema resolution over the file set (names + types, nullability
    // ignored); parquet files store PHYSICAL column names
    val got = spark.read.parquet(files: _*).schema
    val want = m0.physicalSchema
    val gotMap = got.fields.map(f => f.name -> f.dataType).toMap
    // compare modulo nullability and field metadata (parquet reads surface
    // everything nullable; the manifest may carry comments etc.)
    def norm(dt: org.apache.spark.sql.types.DataType) =
      SchemaPaths.physicalType(SchemaPaths.nullableAll(dt))
    want.fields.foreach { f =>
      val dt = gotMap.getOrElse(f.name, throw new IllegalArgumentException(
        s"commitFiles: files lack column ${f.name} (have: ${got.fieldNames.mkString(",")})"))
      require(norm(dt) == norm(f.dataType),
        s"commitFiles: column ${f.name} is ${dt.simpleString}, table stores ${f.dataType.simpleString}")
    }
    val extra = got.fieldNames.toSet -- want.fieldNames.toSet
    require(extra.isEmpty, s"commitFiles: files carry unknown columns ${extra.mkString(",")}")
    // footer pass: rows + stats per file, ON THE EXECUTORS (one task per
    // path slice, same shape as [[validate]] / [[dataStats]]) — a driver
    // loop over footers would serialize a 100k-file import. Results are
    // constant across the in-place renames below.
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val byFile: Map[String, (Long, Long, Map[String, ColumnStat], String)] =
      spark.sparkContext.parallelize(files, math.max(1, math.min(files.size, 64)))
        .map { fstr =>
          val c = sconf.value
          val p = new Path(fstr)
          val fs = p.getFileSystem(c)
          val st = fs.getFileStatus(p)
          // per-file CANONICAL schema fingerprint in the same footer open:
          // spark.read's schema above comes from ONE sampled footer, so a
          // per-file check is the only thing standing between a
          // mixed-schema file set and a committed table that fails (or
          // silently nulls) at read time
          val (rows, stats, schemaStr) = parquetFooterAll(c, st)
          fstr -> (rows, st.getLen, stats, schemaStr)
        }.collect().toMap
    val schemas = byFile.values.map(_._4).toSet
    require(schemas.size == 1,
      s"commitFiles: files carry ${schemas.size} different parquet schemas — " +
        "all imported files must share one read schema (names, types, " +
        "annotations; nullability and field ids are ignored)")
    var current: Seq[(Path, Long, Long, Map[String, ColumnStat])] = files.map { fstr =>
      val p = new Path(fstr)
      val (rows, len, stats, _) = byFile(fstr)
      (p.getFileSystem(conf).makeQualified(p), rows, len, stats)
    }
    commitLoop(spark, tablePath, {
      case Some(base) =>
        // the files were validated against m0's physical schema; a
        // concurrent schema change (alter/rename) would commit fragments
        // whose columns no longer match — abort for retry, like every
        // other staged mutation (guardStagedBase's schema leg)
        if (base.schemaJson != m0.schemaJson || base.renames != m0.renames)
          throw new IllegalStateException(
            s"commitFiles conflict: schema changed concurrently " +
              s"(v${m0.version} -> v${base.version}) — retry")
        val v = base.version + 1
        var rid = base.nextRowId
        var fid = base.maxFragmentId + 1
        // rename IN PLACE to the `frag-<id>` pattern the scan derives
        // `_rowaddr` from (same-directory rename: no data movement; redone
        // with fresh ids on a commit-conflict retry, like assignIds).
        // Documented side effect: the rename precedes the commit, so a
        // commitFiles that ultimately FAILS leaves the source files
        // frag-renamed (still valid parquet, same directory) — inherent to
        // naming before the manifest content is known.
        // one collision subdir per SOURCE DIRECTORY per attempt — a
        // multi-directory (or multi-filesystem) import must never rename a
        // file out of its own directory tree
        val attemptSubs = scala.collection.mutable.Map[String, Path]()
        val frags = current.map { case (p, rows, len, stats) =>
          val f = p.getFileSystem(conf)
          val dest0 = new Path(p.getParent, s"frag-$fid.parquet")
          val dest =
            if (p.getName == dest0.getName) p
            else if (!f.exists(dest0)) {
              if (!f.rename(p, dest0)) throw new IllegalStateException(
                s"commitFiles: rename $p -> $dest0 failed")
              dest0
            } else {
              // target name taken in the source dir (e.g. a prior import's
              // frag file): rename into a fresh subdir OF THAT SAME dir —
              // still a metadata move, never a data copy
              val sub = attemptSubs.getOrElseUpdate(p.getParent.toString, {
                val s0 = new Path(p.getParent,
                  s"import-${UUID.randomUUID().toString.take(8)}")
                f.mkdirs(s0); s0
              })
              val d = new Path(sub, s"frag-$fid.parquet")
              if (!f.rename(p, d)) throw new IllegalStateException(
                s"commitFiles: rename $p -> $d failed")
              d
            }
          val fm = FragmentMeta(fid, f.makeQualified(dest).toString, rows, len, v,
            stats, rowIdStart = rid)
          fid += 1; rid += rows
          (fm, (dest, rows, len, stats))
        }
        current = frags.map(_._2)
        val fms = frags.map(_._1)
        mode.toLowerCase match {
          case "append" =>
            base.copy(version = v, operation = "import_files",
              fragments = base.fragments ++ fms, parent = base.version,
              nextRowId = rid,
              opStats = Map("num_inserted_rows" -> fms.map(_.rows).sum))
          case "overwrite" =>
            // keep the schema AS COMMITTED (incl. rename indirection):
            // imported files store physical names, exactly what it maps
            GraftManifest(v, "import_files", base.schemaJson,
              fms, Nil, 0L, base.config, base.version,
              nextRowId = rid, bases = base.bases,
              opStats = Map("num_inserted_rows" -> fms.map(_.rows).sum))
          case other => throw new IllegalArgumentException(
            s"commitFiles: unknown mode $other")
        }
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  /** Metadata-only config merge as its own commit (reference `UpdateConfig`
    * operation, `transaction.rs`; `remove` mirrors `delete_config_keys`,
    * Python `dataset.py`). */
  def updateConfig(spark: SparkSession, tablePath: String,
                   updates: Map[String, String],
                   remove: Seq[String] = Nil): GraftManifest =
    commitLoop(spark, tablePath, {
      case Some(base) => base.copy(version = base.version + 1, operation = "update_config",
        config = (base.config -- remove) ++ updates, parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })

  /** Schema-level key-value metadata (reference `dataset/metadata.rs`
    * `replace_schema_metadata` + UpdateMap merge semantics): `replace=false`
    * merges `set` over the existing map after dropping `remove` keys;
    * `replace=true` swaps the whole map for `set`. Metadata-only commit. */
  def updateSchemaMetadata(spark: SparkSession, tablePath: String,
                           set: Map[String, String],
                           remove: Seq[String] = Nil,
                           replace: Boolean = false): GraftManifest =
    commitLoop(spark, tablePath, {
      case Some(base) =>
        val next =
          (if (replace) Map.empty[String, String] else base.schemaMetadata -- remove) ++ set
        base.copy(version = base.version + 1, operation = "update_metadata",
          schemaMetadata = next, parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })

  /** Field-level metadata (reference `metadata.rs` field_metadata_updates):
    * merged into the column's `StructField.metadata` in the committed
    * schema, so every subsequent [[read]] exposes it on the DataFrame
    * schema. Metadata-only commit, no data IO. The `graft.physical` key is
    * reserved (it carries rename indirection) and cannot be set or
    * removed here. */
  def updateFieldMetadata(spark: SparkSession, tablePath: String, column: String,
                          set: Map[String, String],
                          remove: Seq[String] = Nil,
                          replace: Boolean = false): GraftManifest = {
    require(!set.contains(GraftManifest.PhysicalKey) &&
      !remove.contains(GraftManifest.PhysicalKey),
      s"${GraftManifest.PhysicalKey} is reserved (rename indirection)")
    commitLoop(spark, tablePath, {
      case Some(base) =>
        val sch = base.schema
        require(sch.fieldNames.contains(column),
          s"no column '$column' (have: ${sch.fieldNames.mkString(", ")})")
        val fields = sch.fields.map { f =>
          if (f.name != column) f
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
            if (!replace) mb.withMetadata(f.metadata)
            else if (f.metadata.contains(GraftManifest.PhysicalKey))
              mb.putString(GraftManifest.PhysicalKey,
                f.metadata.getString(GraftManifest.PhysicalKey))
            remove.foreach(mb.remove)
            set.foreach { case (k, v) => mb.putString(k, v) }
            f.copy(metadata = mb.build())
          }
        }
        base.copy(version = base.version + 1, operation = "update_metadata",
          schemaJson = StructType(fields).json, parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  // ------------------------------------------------------------------- read

  /** Snapshot read. Inherits parquet pushdown/pruning via GraftFileIndex;
    * `_rowaddr` is derived from metadata columns; deletion vectors are
    * subtracted with a left-anti join (broadcast when small — Spark sees the
    * DV parquet size).
    */
  def read(spark: SparkSession, tablePath: String, version: Option[Long] = None,
           withRowAddr: Boolean = false, withRowId: Boolean = false,
           withRowVersions: Boolean = false,
           includeDeleted: Boolean = false): DataFrame =
    readManifest(spark, tablePath, loadManifest(spark, tablePath, version),
      withRowAddr, withRowId, withRowVersions, includeDeleted)

  /** Read-path option bundle (r16, VERDICT r15 #7 — the reference's
    * `default_scan_options` + `ScannerBuilder.apply_defaults`,
    * `python/lance/dataset.py:415,4211`): every [[read]] knob in one
    * value, constructible from session confs so a deployment pins its
    * defaults once and every [[readWithDefaults]] call picks them up. */
  case class ReadOptions(version: Option[Long] = None,
                         withRowAddr: Boolean = false,
                         withRowId: Boolean = false,
                         withRowVersions: Boolean = false,
                         includeDeleted: Boolean = false)

  /** Conf prefix for [[defaultReadOptions]]: `spark.graft.read.<option>`. */
  val ReadOptionsConfPrefix = "spark.graft.read."

  /** The session's default read-option bundle. Unknown keys under the
    * prefix are REFUSED, like the reference's `apply_defaults` raising on
    * an unknown option — a typo'd conf must not silently configure
    * nothing. */
  def defaultReadOptions(spark: SparkSession): ReadOptions = {
    val known = Set("version", "withRowAddr", "withRowId",
      "withRowVersions", "includeDeleted")
    val set = spark.conf.getAll.collect {
      case (k, v) if k.startsWith(ReadOptionsConfPrefix) =>
        k.stripPrefix(ReadOptionsConfPrefix) -> v
    }
    val unknown = set.keySet.diff(known)
    require(unknown.isEmpty,
      s"unknown read option(s) ${unknown.mkString(", ")} under " +
        s"$ReadOptionsConfPrefix — known: ${known.toSeq.sorted.mkString(", ")}")
    def b(k: String) = set.get(k).exists(_.toBoolean)
    ReadOptions(
      version = set.get("version").map(_.toLong),
      withRowAddr = b("withRowAddr"), withRowId = b("withRowId"),
      withRowVersions = b("withRowVersions"),
      includeDeleted = b("includeDeleted"))
  }

  /** [[read]] through an explicit option bundle. */
  def read(spark: SparkSession, tablePath: String, opts: ReadOptions): DataFrame =
    read(spark, tablePath, opts.version, opts.withRowAddr, opts.withRowId,
      opts.withRowVersions, opts.includeDeleted)

  /** [[read]] under the session's conf-pinned defaults
    * ([[defaultReadOptions]]) — the reference's "dataset constructed with
    * default_scan_options" mode, opt-in per call site so existing
    * explicit reads never change behavior underneath a conf. */
  def readWithDefaults(spark: SparkSession, tablePath: String): DataFrame =
    read(spark, tablePath, defaultReadOptions(spark))

  /** Shard read for distributed training loaders (reference
    * `ShardedFragmentSampler`, `python/python/lance/sampler.py:330` — each
    * rank processes `fragments[rank::world_size]`): fragment-granular
    * striping, so every worker's IO is disjoint and no shuffle or
    * coordination is needed — the property a 1000-worker training job
    * needs at 100 TB. `randomize` applies a seeded permutation of the
    * fragment list first (same seed on every rank keeps the cover exact
    * and disjoint). DV-deletes and rename indirection apply as in any
    * snapshot read.
    *
    * Multi-process jobs MUST pin `version` explicitly (resolve
    * `latestVersion` once, hand it to every rank): with `version=None`
    * each rank resolves "latest" independently, and a commit landing
    * between two ranks' opens would shard DIFFERENT fragment lists —
    * silently duplicating and dropping rows across the epoch. */
  def readShard(spark: SparkSession, tablePath: String, rank: Int, worldSize: Int,
                randomize: Boolean = false, seed: Long = 0L,
                version: Option[Long] = None): DataFrame = {
    require(worldSize > 0, s"worldSize must be positive: $worldSize")
    require(rank >= 0 && rank < worldSize, s"rank $rank outside [0, $worldSize)")
    val m = loadManifest(spark, tablePath, version)
    val ordered =
      if (!randomize) m.fragments
      else new scala.util.Random(seed).shuffle(m.fragments.toList)
    val mine = ordered.zipWithIndex.collect {
      case (f, i) if i % worldSize == rank => f
    }
    readManifest(spark, tablePath, m.copy(fragments = mine), withRowAddr = false)
  }

  /** Read a fragment subset of a snapshot (CDC / take-style access).
    * `withOldAddr` exposes the physical [[OldAddrCol]] of rewrite outputs
    * (null on fragments that don't store it). */
  def readFragments(spark: SparkSession, tablePath: String, m: GraftManifest,
                    frags: Seq[FragmentMeta], withRowAddr: Boolean = false,
                    withRowId: Boolean = false,
                    withOldAddr: Boolean = false,
                    includeDeleted: Boolean = false): DataFrame =
    readManifest(spark, tablePath, m.copy(fragments = frags),
      withRowAddr = withRowAddr, withRowId = withRowId,
      withOldAddr = withOldAddr, includeDeleted = includeDeleted)

  private def readManifest(spark: SparkSession, tablePath: String, m: GraftManifest,
                           withRowAddr: Boolean, withRowId: Boolean = false,
                           withRowVersions: Boolean = false,
                           includeDeleted: Boolean = false,
                           withOldAddr: Boolean = false): DataFrame = {
    val t = new Path(tablePath)
    // row-version columns derive creation from stable row ids when the
    // table has them; the internal id is dropped again below unless the
    // caller asked for it
    val needRowId = withRowId || (withRowVersions && m.hasRowIds)
    if (needRowId) require(m.hasRowIds,
      s"table at $tablePath predates stable row ids (rewrite to assign them)")
    // fragments that persist `_rowid` physically (compaction rewrites) expose
    // it through the scan schema; parquet yields null for fragments without
    // the column, and those derive it from their contiguous range instead
    val hasStored = needRowId && m.fragments.exists(_.rowIdStored)
    val hasOldAddr = withOldAddr && m.fragments.exists(_.oldAddrStored)
    // fragment parquet carries PHYSICAL column names (renames are
    // metadata-only, like the reference's field-id indirection); the scan
    // reads physical and a projection below restores logical names
    val physSchema = m.physicalSchema
    val extraCols =
      (if (hasStored) Seq(RowIdCol) else Nil) ++
        (if (hasOldAddr) Seq(OldAddrCol) else Nil)
    val dataSchema =
      if (extraCols.isEmpty) physSchema
      else StructType(physSchema.fields ++ extraCols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType, nullable = true)))
    // dvApplied: this path applies DVs itself — the extension rule must not
    // wrap a second (idempotent but wasteful) anti-join around it
    val index = new GraftFileIndex(spark, t, m, dvApplied = true)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = bucketSpecOf(m),
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    val base = ColumnBridge.ofRows(spark, LogicalRelation(relation, isStreaming = false))

    // metadata-derived columns must be materialized ON the scan relation —
    // `_metadata` does not resolve across a join boundary
    val needAddr = withRowAddr || withRowVersions || m.dvFiles.nonEmpty || m.columnFiles.nonEmpty
    val base1 = if (needAddr || needRowId) base.withColumn(RowAddrCol,
      rowAddrOf(col("_metadata.file_name"), col("_metadata.row_index"))) else base
    val withAddr = if (!needRowId) base1 else {
      val ranged = m.fragments.filter(f => !f.rowIdStored && f.rowIdStart >= 0)
      if (ranged.isEmpty) base1.withColumn(RowIdCol, rowIdOf(hasStored, None))
      else {
        // fragment-id → range-start lookup via a broadcast of manifest
        // metadata (fragment-count-sized, never row-sized); fragment id and
        // row index recover from the already-materialized address
        val meta = spark.createDataFrame(ranged.map(f => (f.id, f.rowIdStart)))
          .toDF("__rid_frag", "__rid_start")
        base1.join(broadcast(meta),
            shiftrightunsigned(col(RowAddrCol), 32) === col("__rid_frag"), "left_outer")
          .withColumn(RowIdCol, rowIdOf(hasStored, Some(col("__rid_start"))))
          .drop("__rid_frag", "__rid_start")
      }
    }
    val renamed = restoreLogicalNames(m, withAddr)
    val live =
      if (m.dvFiles.isEmpty) renamed
      else {
        val dv = spark.read.parquet(m.dvFiles.map(p => new Path(t, p).toString): _*)
          .select(col("addr").as(RowAddrCol)).distinct()
        if (!includeDeleted) renamed.join(dv, Seq(RowAddrCol), "left_anti")
        else {
          // reference `include_deleted_rows` (dataset.py:790-794): deleted
          // rows come back with on-disk values and `_rowid` nulled — the
          // marker that the row is dead
          val j = renamed.join(dv.withColumn("__dv_hit", lit(true)),
            Seq(RowAddrCol), "left_outer")
          val masked =
            if (needRowId) j.withColumn(RowIdCol,
              when(col("__dv_hit"), lit(null).cast("long")).otherwise(col(RowIdCol)))
            else j
          masked.drop("__dv_hit")
        }
      }
    val merged = mergeColumnFiles(spark, t, m, live)
    val versioned = if (!withRowVersions) merged else addRowVersionColumns(spark, tablePath, m, merged)
    val out0 = if (withRowAddr) versioned else versioned.drop(RowAddrCol)
    val out1 = if (withRowId || !needRowId) out0 else out0.drop(RowIdCol)
    // withOldAddr contract: the column is always present (all-null when no
    // fragment stores it) so callers need no schema branch
    val out = if (withOldAddr && !hasOldAddr)
      out1.withColumn(OldAddrCol, lit(null).cast("long")) else out1
    withFieldMetadata(m, out)
  }

  /** `_rowaddr` = fragment id (parsed from the data file's name) << 32 |
    * the row's index in that file. */
  private[format] def rowAddrOf(fileName: Column, rowIndex: Column): Column =
    shiftleft(regexp_extract(fileName, FragRe, 1).cast("long"), 32).plus(rowIndex)

  /** `_rowid`: the physically stored id (compaction outputs), else the
    * fragment's id-range start (`rangeStart`, null off-range) plus the row
    * index carried in the row's address. */
  private[format] def rowIdOf(hasStored: Boolean, rangeStart: Option[Column],
                              addr: Column = col(RowAddrCol)): Column = {
    val stored = if (hasStored) col(RowIdCol) else lit(null).cast("long")
    rangeStart.fold(stored)(s => coalesce(stored, s + addr.bitwiseAND(lit(0xFFFFFFFFL))))
  }

  /** Restore logical names in ONE projection (atomic — swap-renames can't
    * collide); pushdown substitutes back through the aliases, so filters on
    * renamed top-level columns still reach the parquet scan + zonemaps.
    * NESTED renames restore via a struct→struct cast (positional field
    * rename, null-safe) — see [[SchemaPaths]] for the pushdown trade-off. */
  private[format] def restoreLogicalNames(m: GraftManifest, df: DataFrame): DataFrame =
    if (!m.hasIndirection) df
    else {
      val byPhys = m.schema.fields.map(f => m.physicalName(f) -> f).toMap
      df.select(df.columns.toSeq.map { c =>
        byPhys.get(c) match {
          case Some(f) if SchemaPaths.hasNestedIndirection(f.dataType) =>
            col(c).cast(SchemaPaths.nullableAll(SchemaPaths.cleanType(f.dataType)))
              .as(f.name)
          case Some(f) => col(c).as(f.name)
          case None    => col(c) // _rowaddr / _rowid / stored-row-id helper
        }
      }: _*)
    }

  /** Expose committed field metadata (updateFieldMetadata) on the result
    * schema; the rename-indirection key stays internal. */
  private[format] def withFieldMetadata(m: GraftManifest, df: DataFrame): DataFrame = {
    val fieldMeta: Map[String, org.apache.spark.sql.types.Metadata] =
      m.schema.fields.toSeq.flatMap { f =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        mb.remove(GraftManifest.PhysicalKey)
        val cleaned = mb.build()
        if (cleaned == org.apache.spark.sql.types.Metadata.empty) None
        else Some(f.name -> cleaned)
      }.toMap
    if (fieldMeta.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      fieldMeta.get(c).map(md => col(c).as(c, md)).getOrElse(col(c))): _*)
  }

  /** System columns `_rowoffset`, `_row_created_at_version`,
    * `_row_last_updated_at_version` (reference `lance-core/src/lib.rs:19-27`,
    * `AddRowOffsetExec` `io/exec/rowids.rs:346`) — all derived from manifest
    * METADATA broadcast against the scan, zero extra data IO:
    *
    *  - `_rowoffset` = the row's position in the snapshot's physical scan
    *    order (fragment-order cumulative start + row index).
    *  - `_row_last_updated_at_version` = the fragment's addedVersion: this
    *    format rewrites updated rows into new fragments, so the fragment's
    *    commit IS the row's last write (a compaction rewrite also counts as
    *    a touch, as in the reference's fragment-level metadata).
    *  - `_row_created_at_version` = the version whose commit first assigned
    *    the row's stable id: row ids are allocated monotonically
    *    (`nextRowId` high-water), so creation resolves from the manifest
    *    chain's id boundaries — and SURVIVES compaction, which preserves
    *    ids while resetting addedVersion. Tables without row ids fall back
    *    to the fragment's addedVersion.
    *
    * Caveats (documented approximations): after `cleanupOldVersions` prunes
    * old manifests, creation resolves to the OLDEST SURVIVING version whose
    * high-water covers the id (later than truth for cleaned history); on a
    * BRANCH manifest, boundaries come from the main lineage, so ids
    * assigned after the fork carry main-lineage versions. */
  private def addRowVersionColumns(spark: SparkSession, tablePath: String,
                                   m: GraftManifest, scan: DataFrame): DataFrame = {
    val ordered = m.fragments
    val starts = ordered.scanLeft(0L)((acc, f) => acc + f.rows).init
    val fmeta = spark.createDataFrame(
        ordered.zip(starts).map { case (f, s) => (f.id, s, f.addedVersion) })
      .toDF("__fv_frag", "__fv_start", "__fv_added")
    val withF = scan
      .join(broadcast(fmeta),
        shiftrightunsigned(col(RowAddrCol), 32) === col("__fv_frag"), "left_outer")
      .withColumn(RowOffsetCol,
        col("__fv_start") + col(RowAddrCol).bitwiseAND(lit(0xFFFFFFFFL)))
      .withColumn(RowLastUpdatedCol, col("__fv_added"))
    val created =
      if (!m.hasRowIds) withF.withColumn(RowCreatedCol, col("__fv_added"))
      else {
        // (id-range → creating version) intervals from the manifest chain:
        // version-count-sized driver metadata, broadcast for a range lookup
        val boundaries = versions(spark, tablePath).filter(_ <= m.version).sorted
          .map(v => scala.util.Try(loadManifest(spark, tablePath, Some(v))).toOption)
          .collect { case Some(mf) => (mf.version, mf.nextRowId) }
        val intervals = boundaries.foldLeft((0L, List.empty[(Long, Long, Long)])) {
          case ((lo, acc), (v, hi)) =>
            if (hi > lo) (hi, (lo, hi, v) :: acc) else (lo, acc)
        }._2.reverse
        if (intervals.isEmpty) withF.withColumn(RowCreatedCol, col("__fv_added"))
        else {
          val bDf = spark.createDataFrame(intervals).toDF("__cb_lo", "__cb_hi", "__cb_v")
          withF.join(broadcast(bDf),
              col(RowIdCol) >= col("__cb_lo") && col(RowIdCol) < col("__cb_hi"),
              "left_outer")
            .withColumn(RowCreatedCol, coalesce(col("__cb_v"), col("__fv_added")))
            .drop("__cb_lo", "__cb_hi", "__cb_v")
        }
      }
    created.drop("__fv_frag", "__fv_start", "__fv_added")
  }

  // ------------------------------------------------------- version deltas
  //
  // Changes between two versions (reference `rust/lance/src/dataset/delta.rs`
  // `DatasetDelta`: `get_inserted_rows` :206, `get_updated_rows` :253,
  // `list_transactions` :145). Both row APIs read the END-version snapshot
  // with the row-version system columns and filter on them — but the scan is
  // first pruned to fragments with `addedVersion > begin`, which is a sound
  // superset of both change sets: a row created after `begin` lives in a
  // fragment committed after `begin` (appends stamp the commit's version;
  // compaction rewrites stamp a LATER one), and an updated row was by
  // definition rewritten into such a fragment. At 100 TB the delta scan
  // therefore reads only the fragments the version range touched — O(delta),
  // never O(corpus) — and inherits parquet pushdown on top.

  private def deltaScan(spark: SparkSession, tablePath: String,
                        beginVersion: Long, endVersion: Long): DataFrame = {
    require(beginVersion < endVersion,
      s"beginVersion $beginVersion must be < endVersion $endVersion")
    val m = loadManifest(spark, tablePath, Some(endVersion))
    val pruned = m.copy(fragments = m.fragments.filter(_.addedVersion > beginVersion))
    // `_rowoffset` from a pruned fragment list would be wrong (offsets are
    // positions in the FULL snapshot order) — dropped below; creation/update
    // versions resolve from the manifest chain and are prune-independent
    readManifest(spark, tablePath, pruned,
      withRowAddr = false, withRowId = m.hasRowIds, withRowVersions = true)
      .drop(RowOffsetCol)
  }

  /** Rows created in `(beginVersion, endVersion]` — reference
    * `DatasetDelta::get_inserted_rows` (`delta.rs:206-227`). Carries all data
    * columns plus `_rowid` (when the table has stable ids),
    * `_row_created_at_version`, `_row_last_updated_at_version`. Rows both
    * inserted AND deleted inside the range do not appear (the end snapshot's
    * deletion vectors apply, as in the reference's end-version scan). */
  def deltaInserted(spark: SparkSession, tablePath: String,
                    beginVersion: Long, endVersion: Long): DataFrame =
    deltaScan(spark, tablePath, beginVersion, endVersion)
      .filter(col(RowCreatedCol) > beginVersion && col(RowCreatedCol) <= endVersion)

  /** Rows UPDATED (not inserted) in `(beginVersion, endVersion]` — reference
    * `DatasetDelta::get_updated_rows` (`delta.rs:253-272`): created at or
    * before `begin`, last written inside the range. Last-write granularity is
    * the fragment's commit (this format rewrites updated rows into new
    * fragments), so a compaction rewrite counts as a touch — same
    * fragment-level semantics as [[read]]'s `withRowVersions`. */
  def deltaUpdated(spark: SparkSession, tablePath: String,
                   beginVersion: Long, endVersion: Long): DataFrame =
    deltaScan(spark, tablePath, beginVersion, endVersion)
      .filter(col(RowCreatedCol) <= beginVersion &&
        col(RowLastUpdatedCol) > beginVersion && col(RowLastUpdatedCol) <= endVersion)

  /** Rows live at `beginVersion` but gone by `endVersion` (an extension — the
    * reference's DatasetDelta stops at inserted/updated; deletes surface
    * there via its CDC path). Identity is the stable `_rowid` (compaction
    * preserves ids, so a rewrite is not a delete). The begin side is pruned
    * to fragments that did NOT survive unchanged into the end snapshot —
    * only their rows can have disappeared, plus rows newly masked by the end
    * snapshot's deletion vectors; the end side reads `_rowid` alone, a
    * metadata-derived column (manifest broadcast + row index — zero data
    * columns off disk). The anti-join shuffles (rowid)-pairs of the CHANGED
    * begin fragments against the id column only. */
  def deltaDeleted(spark: SparkSession, tablePath: String,
                   beginVersion: Long, endVersion: Long): DataFrame = {
    require(beginVersion < endVersion,
      s"beginVersion $beginVersion must be < endVersion $endVersion")
    val mBegin = loadManifest(spark, tablePath, Some(beginVersion))
    val mEnd = loadManifest(spark, tablePath, Some(endVersion))
    require(mBegin.hasRowIds,
      s"deltaDeleted needs stable row ids; table at $tablePath predates them")
    val endById = mEnd.fragments.map(f => f.id -> f).toMap
    // a begin fragment is UNCHANGED when the same (id, path) survives to the
    // end snapshot AND no deletion vectors were added in the range (DV files
    // are cumulative, so an identical dvFiles list means no new masks)
    val dvStable = mBegin.dvFiles == mEnd.dvFiles
    val changed = mBegin.fragments.filter { f =>
      !dvStable || !endById.get(f.id).exists(_.path == f.path)
    }
    if (changed.isEmpty) {
      val empty = readManifest(spark, tablePath, mBegin.copy(fragments = Nil),
        withRowAddr = false, withRowId = true)
      return empty
    }
    val beginRows = readManifest(spark, tablePath,
      mBegin.copy(fragments = changed), withRowAddr = false, withRowId = true)
    val endIds = readManifest(spark, tablePath, mEnd,
      withRowAddr = false, withRowId = true).select(col(RowIdCol))
    beginRows.join(endIds, Seq(RowIdCol), "left_anti")
  }

  /** Commit metadata for the transactions in `(beginVersion, endVersion]` —
    * reference `DatasetDelta::list_transactions` (`delta.rs:145-173`). One
    * row per version from the manifest chain (version-count-sized driver
    * metadata, same source as the `history` procedure). */
  def deltaTransactions(spark: SparkSession, tablePath: String,
                        beginVersion: Long, endVersion: Long): DataFrame = {
    require(beginVersion < endVersion,
      s"beginVersion $beginVersion must be < endVersion $endVersion")
    val rows = ((beginVersion + 1) to endVersion).flatMap { v =>
      scala.util.Try(loadManifest(spark, tablePath, Some(v))).toOption.map(mf =>
        (mf.version, mf.operation, mf.fragments.length.toLong, mf.liveRows,
          mf.numDeleted, mf.commitTsMillis))
    }
    spark.createDataFrame(rows).toDF(
      "version", "operation", "n_fragments", "live_rows", "n_deleted", "commit_ts_millis")
  }

  /** Merge supplemental column datasets (no-rewrite add_columns) into a scan
    * that already carries `_rowaddr`. Old fragments read the added columns as
    * nulls from parquet (absent in their files) and take the supplemental
    * value; fragments written after the add_columns commit carry real values
    * and their addrs never appear in the supplemental dataset (fragment ids
    * only grow), so `coalesce(base, supplemental)` is exact. Equi-join on
    * addr: broadcast when the column file is small, shuffled sort-merge
    * otherwise — either way IO is the supplemental columns only. */
  private[format] def mergeColumnFiles(spark: SparkSession, t: Path, m: GraftManifest,
                                       scan: DataFrame): DataFrame =
    m.columnFiles.foldLeft(scan) { case (d, cf) =>
      // cf.columns are the names INSIDE the supplemental file (= physical);
      // the merge target is whatever logical name they map to today
      val supp = spark.read.parquet(new Path(t, cf.path).toString)
        .select(col("addr").as("__cf_addr") +:
          cf.columns.map(c => col(c).as(s"__cf_$c")): _*)
      coalesceColumnFile(m, cf,
        d.join(supp, d(RowAddrCol) === supp("__cf_addr"), "left_outer"))
    }

  /** Fold a supplemental file's `__cf_<column>` values (null where the file
    * has no row for the address) into the logical columns they back, then
    * drop the helpers. */
  private[format] def coalesceColumnFile(m: GraftManifest, cf: ColumnFileMeta,
                                         d: DataFrame): DataFrame =
    cf.columns.foldLeft(d) { (dd, c) =>
      val lc = m.logicalName(c)
      dd.withColumn(lc, coalesce(dd(lc), dd(s"__cf_$c")))
    }.drop("__cf_addr" +: cf.columns.map(c => s"__cf_$c"): _*)

  /** Integrity check (reference `Dataset::validate`,
    * `rust/lance/src/dataset.rs` validate — manifest/fragment invariant
    * verification). Returns the problems found; empty = valid.
    *
    * Manifest invariants (duplicate ids, row-id high-water mark, schema
    * name collisions, index-dir markers) check driver-side from metadata
    * already in memory. Per-file checks — existence, size, footer row
    * count — run ON THE EXECUTORS, one task per slice of the fragment
    * list, reading footers only: a 100 TB table validates with no data-page
    * IO and no driver loop over files. The DV cross-check is one Spark
    * aggregation over the deletion sidecars (bounded by deleted-row count,
    * not table size). */
  def validate(spark: SparkSession, tablePath: String): Seq[String] = {
    import spark.implicits._
    val m = loadManifest(spark, tablePath)
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]

    val ids = m.fragments.map(_.id)
    val dupIds = ids.groupBy(identity).filter(_._2.length > 1).keys
    if (dupIds.nonEmpty) issues += s"duplicate fragment ids: ${dupIds.mkString(",")}"
    val phys = m.physicalSchema.fieldNames
    val dupPhys = phys.groupBy(identity).filter(_._2.length > 1).keys
    if (dupPhys.nonEmpty) issues += s"duplicate physical column names: ${dupPhys.mkString(",")}"
    val assignedTop = m.fragments.filter(_.rowIdStart >= 0L).map(f => f.rowIdStart + f.rows)
    if (assignedTop.nonEmpty && assignedTop.max > m.nextRowId)
      issues += s"nextRowId ${m.nextRowId} below assigned row-id top ${assignedTop.max}"
    if (m.numDeleted < 0L || m.numDeleted > m.fragments.map(_.rows).sum)
      issues += s"numDeleted ${m.numDeleted} out of range"

    // committed index entries: the directory and its marker must match the
    // entry's build uuid (a rebuilt/missing dir would otherwise veto lazily
    // at query time; validate surfaces it eagerly)
    m.indices.foreach { e =>
      val dir = s"$tablePath/_indices/${e.name}"
      graft.index.ScalarIndex.readMarkerUuid(spark, dir) match {
        case None => issues += s"index ${e.name}: directory or marker missing at $dir"
        case Some(u) if u != e.uuid =>
          issues += s"index ${e.name}: marker uuid $u != committed ${e.uuid}"
        case _ =>
      }
    }

    // supplemental datasets exist (driver-side: these are per-commit, few)
    val rootConf = spark.sessionState.newHadoopConf()
    (m.dvFiles.map(("dv", _)) ++ m.columnFiles.map(cf => ("column file", cf.path)))
      .foreach { case (kind, rel) =>
        val p = new Path(new Path(tablePath), rel)
        if (!p.getFileSystem(rootConf).exists(p)) issues += s"missing $kind $rel"
      }

    // fragment files: executor-parallel existence + size + footer row count
    val sconf = new org.apache.spark.util.SerializableConfiguration(rootConf)
    val tp = tablePath
    issues ++= m.fragments.map(f => (f.path, f.rows, f.sizeBytes)).toDS()
      .repartition(math.max(1, math.min(m.fragments.length, 64)))
      .mapPartitions { it =>
        val c = sconf.value
        it.flatMap { case (rel, rows, size) =>
          val p = new Path(new Path(tp), rel)
          val fs = p.getFileSystem(c)
          if (!fs.exists(p)) Iterator(s"missing fragment file $rel")
          else {
            val st = fs.getFileStatus(p)
            if (st.getLen != size)
              Iterator(s"fragment $rel: size ${st.getLen} != manifest $size")
            else {
              val (actual, _) = parquetFooterInfo(c, st)
              if (actual != rows)
                Iterator(s"fragment $rel: footer rows $actual != manifest $rows")
              else Iterator.empty
            }
          }
        }
      }.collect()

    // DV cross-check: addresses pointing at live fragments must account for
    // exactly numDeleted rows (liveRows' correctness rests on this)
    if (m.dvFiles.nonEmpty && !issues.exists(_.startsWith("missing dv"))) {
      val dvPaths = m.dvFiles.map(r => new Path(new Path(tablePath), r).toString)
      val liveIds = ids.toSet
      val liveDeletes = spark.read.parquet(dvPaths: _*)
        .select(shiftrightunsigned(col("addr"), 32).as("frag"))
        .filter(col("frag").isInCollection(liveIds))
        .count()
      if (liveDeletes != m.numDeleted)
        issues += s"deletion vectors cover $liveDeletes live rows != manifest numDeleted ${m.numDeleted}"
    }
    issues.toSeq
  }

  /** Per-column storage statistics (reference
    * `rust/lance/src/dataset/statistics.rs` `calculate_data_stats` —
    * `FieldStatistics.bytes_on_disk`): compressed column-chunk bytes summed
    * across every fragment and supplemental column file. One
    * executor-parallel footer pass (same shape as [[validate]]'s fragment
    * check — footers only, no data IO); the result is column-count-sized.
    * Physical on-file names map back to logical names, so renamed columns
    * report under the name the user sees. System storage is reported
    * honestly under its own name: fragments rewritten by compaction carry a
    * physical `_rowid` column, and supplemental column files carry their
    * `addr` key. */
  def dataStats(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val m = loadManifest(spark, tablePath)
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val tp = tablePath
    val paths = m.fragments.map(_.path) ++ m.columnFiles.map(_.path)
    if (paths.isEmpty)
      return spark.emptyDataset[(String, Long)].toDF("column", "bytes_on_disk")
    val physToLogical = m.renames.map(_.swap).toMap
    val chunks = paths.toDS()
      .repartition(math.max(1, math.min(paths.length, 64)))
      .mapPartitions { it =>
        val c = sconf.value
        it.flatMap { rel =>
          val p = new Path(new Path(tp), rel)
          val fs = p.getFileSystem(c)
          val files =
            if (fs.getFileStatus(p).isDirectory)
              fs.listStatus(p).toSeq
                .filter(_.getPath.getName.endsWith(".parquet"))
            else Seq(fs.getFileStatus(p))
          files.flatMap { st =>
            import scala.jdk.CollectionConverters._
            FragmentStats.footer(c, st).getBlocks.asScala.flatMap(b =>
              b.getColumns.asScala.map(cc =>
                (cc.getPath.toDotString, cc.getTotalSize))).toSeq
          }
        }
      }
      .toDF("column", "bytes")
      .groupBy(col("column"))
      .agg(sum(col("bytes")).as("bytes_on_disk"))
    // map physical file names (incl. nested `a.b` leaves — logical lookup is
    // on the root) back to logical; the addr key of column files is storage
    // overhead attributed to itself
    val toLogical = udf((c: String) => {
      val root = c.takeWhile(_ != '.')
      val mapped = physToLogical.getOrElse(root, root)
      mapped + c.drop(root.length)
    })
    chunks.withColumn("column", toLogical(col("column")))
      .groupBy(col("column")).agg(sum(col("bytes_on_disk")).as("bytes_on_disk"))
      .orderBy(col("column"))
  }

  /** COUNT(*) metadata fast path — no data IO (reference
    * `count_rows`, `scanner.rs:1496-1554`). */
  def countRows(spark: SparkSession, tablePath: String, version: Option[Long] = None): Long =
    loadManifest(spark, tablePath, version).liveRows

  /** Random access by row address (reference `Dataset::take`,
    * `rust/lance/src/dataset/take.rs:103`): the read touches ONLY the
    * fragments named by the addresses (manifest-level pruning — at 100 TB a
    * 100-row take reads ≤100 fragments no matter the table size), then
    * row-index filtering inside them. Output carries `_rowaddr`; join order
    * back on it if request order matters.
    *
    * When the pruned fragments sum to at most [[LocalTake.MaxBytes]]
    * (32 MiB) of `sizeBytes`, the take is read on the driver, only the row
    * groups holding a wanted row, and returned as a local relation: a
    * following `select(...).collect()` runs no Spark job. Larger takes
    * return the lazy Spark scan. Either way the rows (and schema) are the
    * same, and they are those of the manifest snapshot pinned at call time;
    * the driver-local answer is also READ at call time, so files removed
    * later (cleanup) no longer matter to it. */
  def take(spark: SparkSession, tablePath: String, addrs: Seq[Long],
           version: Option[Long] = None): DataFrame = {
    val m = loadManifest(spark, tablePath, version)
    val want = addrs.map(a => a >>> 32).toSet
    val pruned = m.copy(fragments = m.fragments.filter(f => want.contains(f.id)))
    // full snapshot semantics (DV subtraction + supplemental columns) over
    // only the addressed fragments
    if (LocalTake.admit(pruned.fragments))
      LocalTake.read(spark, tablePath, pruned, LocalTake.Addrs(addrs.toSet))
    else readManifest(spark, tablePath, pruned, withRowAddr = true)
      .filter(col(RowAddrCol).isin(addrs: _*))
  }

  /** Random access by STABLE row id (reference id-to-address resolution,
    * `rust/lance-table/src/rowids.rs`): fragment pruning uses the manifest's
    * contiguous ranges for freshly written fragments and the `_rowid` footer
    * min/max for compaction-rewritten ones — like [[take]], a k-row lookup
    * reads O(k) fragments no matter the table size. Unlike addresses, the
    * ids keep resolving after compaction moves the rows. Output carries
    * `_rowid`.
    *
    * Under the same byte bound as [[take]] ([[LocalTake.MaxBytes]], summed
    * over the pruned fragments) the rows are read on the driver at call
    * time from the snapshot pinned at call time, inside each fragment only
    * the row groups whose row-index range or stored `_rowid` min/max can
    * hold a wanted id, and returned as a local relation (no Spark job to
    * collect). Over the bound the lazy Spark scan answers, with the same
    * rows and schema. */
  def takeRows(spark: SparkSession, tablePath: String, rowIds: Seq[Long],
               version: Option[Long] = None): DataFrame = {
    val m = loadManifest(spark, tablePath, version)
    require(m.hasRowIds, s"table at $tablePath predates stable row ids")
    val pruned = m.copy(fragments = m.fragments.filter { f =>
      if (!f.rowIdStored)
        rowIds.exists(id => id >= f.rowIdStart && id < f.rowIdStart + f.rows)
      else f.stats.get(RowIdCol) match {
        case Some(st) if st.kind == "long" && st.min != null && st.max != null =>
          val mn = st.min.toLong; val mx = st.max.toLong
          rowIds.exists(id => id >= mn && id <= mx)
        case _ => true // no stats: cannot prune this fragment
      }
    })
    if (LocalTake.admit(pruned.fragments))
      LocalTake.read(spark, tablePath, pruned, LocalTake.RowIds(rowIds.toSet))
    else readManifest(spark, tablePath, pruned, withRowAddr = false, withRowId = true)
      .filter(col(RowIdCol).isin(rowIds: _*))
  }

  /** Late-materialized read (reference `MaterializationStyle`,
    * `scanner.rs:176-220`; SURVEY "hard part #1"): evaluate the predicate
    * over ONLY the narrow columns (phase 1 — column-pruned scan), then fetch
    * full rows for the matches with a scan restricted to the fragments the
    * matches live in (phase 2 — manifest-level pruning, like `take`).
    *
    * At 100 TB with wide multimodal columns this is the difference between
    * scanning terabytes of blobs and scanning only the narrow predicate
    * columns plus the blobs of matching fragments. With clustered matches
    * (the common case after range-partitioned writes), phase 2 touches a
    * handful of fragments.
    */
  def readLate(spark: SparkSession, tablePath: String, predicate: String,
               predicateCols: Seq[String], version: Option[Long] = None): DataFrame = {
    val m = loadManifest(spark, tablePath, version)
    // phase 1: narrow scan -> matching addresses. localCheckpoint, not
    // persist: the result below is returned lazily, so a persist could never
    // be paired with an unpersist — the eager checkpoint materializes the
    // (small) address list once and is auto-reclaimed with the plan.
    val matches = readManifest(spark, tablePath, m, withRowAddr = true)
      .select((predicateCols.map(col) :+ col(RowAddrCol)): _*)
      .filter(expr(predicate))
      .select(col(RowAddrCol))
      .localCheckpoint()
    // fragments containing matches (small driver-side set, <= fragment count)
    val fragIds = matches.select(shiftrightunsigned(col(RowAddrCol), 32).as("f"))
      .distinct().collect().map(_.getLong(0)).toSet
    val pruned = m.copy(fragments = m.fragments.filter(f => fragIds.contains(f.id)))
    // phase 2: full-width scan of ONLY the touched fragments, addr semi-join
    readManifest(spark, tablePath, pruned, withRowAddr = true)
      .join(matches, Seq(RowAddrCol), "left_semi")
      .drop(RowAddrCol)
  }

  /** Deterministic hash sample of live rows (reference samplers,
    * `python/python/lance/sampler.py`): stable under partitioning because it
    * keys on `_rowaddr`, not on row position. */
  def sampleHash(spark: SparkSession, tablePath: String, fraction: Double,
                 version: Option[Long] = None): DataFrame = {
    require(fraction > 0 && fraction <= 1.0)
    val buckets = 1000000L
    read(spark, tablePath, version, withRowAddr = true)
      .filter(pmod(xxhash64(col(RowAddrCol)), lit(buckets)) < lit((fraction * buckets).toLong))
  }

  /** Table/column statistics from manifest metadata only — no data IO
    * (reference dataset statistics, `rust/lance/src/dataset/statistics.rs`).
    * One row per column: global min/max/nullCount folded across fragments.
    */
  def describe(spark: SparkSession, tablePath: String,
               version: Option[Long] = None): DataFrame = {
    val m = loadManifest(spark, tablePath, version)
    val cols = m.schema.fieldNames.toSeq
    val rows = cols.map { c =>
      val phys = m.physicalName(m.schema(c))
      val stats = m.fragments.flatMap(_.stats.get(phys))
      val (mn, mx) = if (stats.isEmpty) (null, null) else {
        val kind = stats.head.kind
        def pick(vals: Seq[String], takeMax: Boolean): String = kind match {
          case "long" => val l = vals.map(_.toLong); (if (takeMax) l.max else l.min).toString
          case "double" => val d = vals.map(_.toDouble); (if (takeMax) d.max else d.min).toString
          case _ => if (takeMax) vals.max else vals.min
        }
        (pick(stats.map(_.min), takeMax = false), pick(stats.map(_.max), takeMax = true))
      }
      (c, m.schema(c).dataType.simpleString, m.fragments.map(_.rows).sum,
        if (stats.isEmpty) null else java.lang.Long.valueOf(stats.map(_.nullCount).sum),
        mn, mx)
    }
    spark.createDataFrame(rows)
      .toDF("column", "type", "rows", "null_count", "min", "max")
  }

  /** Blob access for INLINE binary columns (reference `take_blobs`,
    * `blob.rs:42-168`): fetch ONLY the blob column (plus id) for the
    * addressed rows — take's fragment pruning plus column pruning bounds
    * payload IO by the request, not the table. Under [[take]]'s byte bound
    * the take is read on the driver at call time (every column of the row
    * groups that hold the addresses — the bound caps that read) and the
    * result is a local relation; over it the lazy Spark scan reads only the
    * blob column. Each addressed payload still materializes whole; for
    * multi-GB payloads store the column
    * through [[BlobStore.packBlobs]] and use [[BlobStore.takeBlobRefs]] +
    * [[BlobStore.readRange]] — lazy descriptors with seek/read semantics
    * (the reference's `BlobFile`). */
  def takeBlobs(spark: SparkSession, tablePath: String, addrs: Seq[Long],
                blobCol: String): DataFrame =
    take(spark, tablePath, addrs).select(col(RowAddrCol), col(blobCol))

  // -------------------------------------------------------------- mutations

  /** Stage a deletion-vector file from a DataFrame of `_rowaddr`s; returns
    * (relative path, row count), or None when nothing matched. */
  /** Is a rewrite group's output deferred-servable by SOME committed
    * index? Translatability needs every source fragment covered, so an
    * output is only worth the `__old_addr` column (8 bytes/row, forever)
    * when at least one index covers the WHOLE group. Compaction bins
    * groups by coverage signature, making this a per-group constant;
    * never-indexed appends compact at plain write volume. */
  private def deferUseful(m: GraftManifest, g: Seq[FragmentMeta]): Boolean =
    g.nonEmpty && m.indices.exists(ix => g.forall(f =>
      ix.fragmentIds.contains(f.id) ||
        // a source that is itself a rewrite output still counts when the
        // index covers its sources or roots — id-keyed (FTS) serving
        // survives rewrite GENERATIONS, so the provenance stays worth it
        (f.srcFragIds.nonEmpty &&
          f.srcFragIds.forall(ix.fragmentIds.contains)) ||
        (f.rootFragIds.nonEmpty &&
          f.rootFragIds.forall(ix.fragmentIds.contains))))

  /** Group-private old-address DV sidecar for deferred serving
    * ([[FragmentMeta]] `srcDvFiles`): exactly the addresses this group's
    * rewrite materialized, staged as its own file set — the table's
    * shared DV files are never pinned by rewrite outputs. */
  private def stageSrcDv(spark: SparkSession, tablePath: String,
                         m: GraftManifest, g: Seq[FragmentMeta],
                         hasDeletions: Boolean): Option[String] =
    if (!deferUseful(m, g) || m.dvFiles.isEmpty || !hasDeletions) None
    else stageDv(spark, tablePath,
      spark.read.parquet(m.dvFiles.map(p =>
          new Path(new Path(tablePath), p).toString): _*)
        .filter(shiftrightunsigned(col("addr"), 32).isin(g.map(_.id): _*))
        .select(col("addr").as(RowAddrCol))).map(_._1)

  /** Stamp rewrite provenance on a group's outputs when defer-servable:
    * immediate sources (single-hop address translation), root sources
    * (id-keyed serving across generations), and the lossy-lineage flag. */
  private def stampProvenance(m: GraftManifest, g: Seq[FragmentMeta],
                              frags: Seq[FragmentMeta],
                              sdv: Option[String]): Seq[FragmentMeta] =
    if (!deferUseful(m, g)) frags
    else {
      val roots = g.flatMap(f =>
        if (f.rootFragIds.nonEmpty) f.rootFragIds
        else if (f.srcFragIds.nonEmpty) f.srcFragIds
        else Seq(f.id)).distinct.sorted
      val lossy = sdv.nonEmpty || g.exists(_.lossyLineage)
      frags.map(_.copy(srcFragIds = g.map(_.id).sorted,
        oldAddrStored = true, srcDvFiles = sdv.toSeq,
        rootFragIds = roots, lossyLineage = lossy))
    }

  /** Read a rewrite group's live rows, carrying the pre-rewrite address
    * as [[OldAddrCol]] iff the group is defer-servable. */
  private def readForRewrite(spark: SparkSession, tablePath: String,
                             m: GraftManifest, g: Seq[FragmentMeta],
                             carryIds: Boolean): DataFrame = {
    val keep = deferUseful(m, g)
    val live = readManifest(spark, tablePath, m.copy(fragments = g),
      withRowAddr = keep, withRowId = carryIds)
    if (keep) live.withColumnRenamed(RowAddrCol, OldAddrCol) else live
  }

  private def stageDv(spark: SparkSession, tablePath: String, addrs: DataFrame): Option[(String, Long)] = {
    val txn = s"deletes/dv-${UUID.randomUUID().toString.take(8)}"
    val dir = new Path(new Path(tablePath), txn)
    addrs.select(col(RowAddrCol).as("addr")).write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val conf = spark.sessionState.newHadoopConf()
    val f = fs(spark, dir)
    val n = f.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => parquetRowCount(conf, s)).sum
    if (n == 0) { f.delete(dir, true); None } else Some((txn, n))
  }

  /** Test-only seam: invoked between DV staging and the commit loop by
    * delete/update/merge_insert, so specs can deterministically interleave
    * concurrent DML (stage under snapshot A, let B commit, then commit). */
  private[graft] object DmlTestHooks {
    @volatile var beforeCommit: String => Unit = _ => ()
    /** Fires between a commit attempt's manifest construction (which may
      * rename staged files) and its CAS — the window where a concurrent
      * commit forces a retry against work already renamed. */
    @volatile var beforeCas: String => Unit = _ => ()
    /** Fires in [[latestVersion]]'s fast path between its gap-sentinel
      * check and its forward walk — where a concurrent cleanup can punch a
      * hole the walk would stop at. */
    @volatile var beforeProbeWalk: String => Unit = _ => ()
  }

  /** DV-level conflict resolution for a mutation whose deletion vector was
    * staged against snapshot `m0` but is committing over a newer `base`
    * (reference `transaction.rs` conflict semantics: operations compose
    * when their consumed state is disjoint, conflict when contested).
    *
    *  - Rows contested by a concurrent UPDATE/MERGE (their DVs intersect
    *    ours) → ABORT: they rewrote the row into a new fragment our
    *    snapshot never saw; composing would delete-the-old + keep-the-new
    *    (for a delete) or resurrect a newer value (for an update).
    *  - Rows contested by a concurrent DELETE: a delete composes (deleting
    *    a dead row is a no-op) — the staged DV is REWRITTEN to the
    *    remainder not already covered by the concurrent delete's DVs, so
    *    committed DV files stay address-disjoint (validate, compaction's
    *    delByFrag/dvCarry and `countRows` all count DV rows without
    *    `distinct` and rely on that invariant). An update/merge aborts
    *    here too: its staged fragments hold live rewritten copies of rows
    *    the concurrent delete removed.
    *
    * Returns the number of addresses the staged DV still masks (== the
    * rows this op newly deletes); `stagedN` passes through untouched on
    * the no-conflict path. Zero cost when `base.dvFiles == m0`'s;
    * otherwise one O(concurrent-delta) addr join — never corpus-sized. */
  private def resolveDvConflicts(spark: SparkSession, tablePath: String, op: String,
                                 m0: GraftManifest, base: GraftManifest,
                                 stagedDv: Option[String], stagedN: Long,
                                 composeDeletes: Boolean): Long = {
    if (base.version == m0.version || stagedDv.isEmpty) return stagedN
    var prev = m0
    val delDvs = Seq.newBuilder[String]
    val rewDvs = Seq.newBuilder[String]
    for (v <- (m0.version + 1) to base.version) {
      val m = loadManifest(spark, tablePath, Some(v))
      val added = m.dvFiles.filterNot(prev.dvFiles.toSet)
      if (m.operation == "delete") delDvs ++= added else rewDvs ++= added
      prev = m
    }
    // only DVs STILL PRESENT in base mask rows: a concurrent restore may
    // have rolled an intermediate delete back — composing against its
    // removed DV would rewrite our staged DV to skip rows that are live
    // again (a silently lost delete)
    val baseDvs = base.dvFiles.toSet
    val del = delDvs.result().filter(baseDvs)
    val rew = rewDvs.result().filter(baseDvs)
    if (del.isEmpty && rew.isEmpty) return stagedN
    // re-read per attempt: an earlier commit-race retry may have already
    // rewritten the staged file to a remainder smaller than stagedN
    def staged: DataFrame =
      spark.read.parquet(s"$tablePath/${stagedDv.get}").select(col("addr"))
    def overlapWith(paths: Seq[String]): DataFrame =
      staged.join(
        spark.read.parquet(paths.map(p => s"$tablePath/$p"): _*).select(col("addr")),
        Seq("addr"), "left_semi")
    if (rew.nonEmpty && overlapWith(rew).limit(1).count() > 0)
      throw new IllegalStateException(
        s"$op conflict: rows contested by a concurrent update/merge " +
          s"(v${m0.version} -> v${base.version}) — retry")
    if (del.isEmpty) stagedN
    else if (composeDeletes) {
      val cur = staged.count()
      val over = overlapWith(del).count()
      if (over > 0) {
        val dir = new Path(new Path(tablePath), stagedDv.get)
        val tmp = new Path(dir.getParent, dir.getName + ".rewrite")
        staged.join(
          spark.read.parquet(del.map(p => s"$tablePath/$p"): _*).select(col("addr")),
          Seq("addr"), "left_anti")
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val f = fs(spark, dir)
        f.delete(dir, true)
        if (!f.rename(tmp, dir))
          throw new IllegalStateException(s"$op: failed to swap rewritten DV at $dir")
      }
      cur - over
    }
    else if (overlapWith(del).limit(1).count() > 0)
      throw new IllegalStateException(
        s"$op conflict: rows deleted concurrently " +
          s"(v${m0.version} -> v${base.version}) — retry")
    else stagedN
  }

  /** Conflict guard for mutations whose staged fragments/DVs were derived
    * from manifest `m0` (ADVICE r4): commit-loop retries may see a newer
    * base. A concurrent APPEND is safe (our DVs/fragments don't touch it),
    * but a concurrent schema change (staged files carry m0's physical
    * column names) or fragment rewrite (staged DVs address m0's fragment
    * ids) would commit undead/duplicate rows — abort instead, like
    * write-append's renames check and compact's version check. */
  private def guardStagedBase(op: String, m0: GraftManifest, base: GraftManifest): Unit = {
    if (base.schemaJson != m0.schemaJson || base.renames != m0.renames)
      throw new IllegalStateException(
        s"$op conflict: schema changed concurrently (v${m0.version} -> v${base.version}) — retry")
    val baseIds = base.fragments.map(_.id).toSet
    if (!m0.fragments.forall(f => baseIds.contains(f.id)))
      throw new IllegalStateException(
        s"$op conflict: fragments rewritten concurrently (v${m0.version} -> v${base.version}) — retry")
  }

  /** Delete by SQL predicate → deletion vectors, no data rewrite. The
    * `true` predicate drops all fragments (reference `delete.rs:254`). */
  def delete(spark: SparkSession, tablePath: String, predicate: String): GraftManifest = {
    if (predicate.trim.equalsIgnoreCase("true")) {
      return commitLoop(spark, tablePath, {
        case Some(base) => base.copy(version = base.version + 1, operation = "delete",
          fragments = Nil, dvFiles = Nil, numDeleted = 0L, parent = base.version,
          opStats = Map("num_deleted_rows" -> base.liveRows))
        case None => throw new IllegalArgumentException(s"no table at $tablePath")
      })
    }
    val m0 = loadManifest(spark, tablePath)
    val matches = read(spark, tablePath, Some(m0.version), withRowAddr = true)
      .filter(expr(predicate)).select(RowAddrCol)
    stageDv(spark, tablePath, matches) match {
      case None => // no-op delete: report 0 affected, commit nothing
        m0.copy(opStats = Map("num_deleted_rows" -> 0L))
      case Some((dvPath, n)) =>
        DmlTestHooks.beforeCommit("delete")
        commitLoop(spark, tablePath, {
          case Some(base) =>
            guardStagedBase("delete", m0, base)
            // deleting a row a concurrent delete already removed is a no-op
            // but must not re-count or re-mask: the staged DV is rewritten
            // to the disjoint remainder; contested update/merge rows abort
            val kept = resolveDvConflicts(spark, tablePath, "delete", m0, base,
              Some(dvPath), n, composeDeletes = true)
            base.copy(version = base.version + 1, operation = "delete",
              dvFiles = if (kept == 0) base.dvFiles else base.dvFiles :+ dvPath,
              numDeleted = base.numDeleted + kept,
              parent = base.version,
              opStats = Map("num_deleted_rows" -> kept))
          case None => throw new IllegalArgumentException(s"no table at $tablePath")
        })
    }
  }

  /** UPDATE set-exprs on rows matching `where`: rewrites matching rows into
    * new fragments + DVs the old copies, in ONE commit (reference
    * `write/update.rs:58-140`).
    *
    * Rewritten rows KEEP their stable `_rowid` (reference move-stable row
    * ids: an update moves a row's address, never its identity —
    * `delta.rs:430-520` asserts `_row_created_at_version` survives an
    * update while `_row_last_updated_at_version` moves). The new fragments
    * persist `_rowid` physically, like compaction rewrites; the id
    * high-water mark does not advance. Legacy tables without row ids keep
    * the old new-row-version behavior. */
  def update(spark: SparkSession, tablePath: String, set: Map[String, String],
             where: Option[String] = None): GraftManifest = {
    val m0 = loadManifest(spark, tablePath)
    val carry = m0.hasRowIds && m0.fragments.nonEmpty
    val cols = m0.schema.fieldNames.toSeq
    val snap = read(spark, tablePath, Some(m0.version), withRowAddr = true,
      withRowId = carry)
    val matches = where.map(w => snap.filter(expr(w))).getOrElse(snap)
      .persist()
    try {
      val outCols = cols.map(col) ++ (if (carry) Seq(col(RowIdCol)) else Nil)
      val updated = set.foldLeft(matches) { case (d, (c, e)) =>
        d.withColumn(c, expr(e).cast(m0.schema(c).dataType))
      }.select(outCols: _*)
      var (staged, bids) = stageBucketAware(spark, tablePath, m0,
        toPhysical(updated, m0))
      val dvOpt = stageDv(spark, tablePath, matches.select(RowAddrCol))
      DmlTestHooks.beforeCommit("update")
      commitLoop(spark, tablePath, {
        case Some(base) =>
          guardStagedBase("update", m0, base)
          // our staged fragments hold live rewritten copies — any row a
          // concurrent DML also touched is contested, abort (never compose)
          resolveDvConflicts(spark, tablePath, "update", m0, base,
            dvOpt.map(_._1), dvOpt.map(_._2).getOrElse(0L), composeDeletes = false)
          val (frags0, paths) = assignIds(spark, staged, base.maxFragmentId + 1,
            base.version + 1,
            rowIdBase = if (carry) -1L else base.nextRowId,
            storedRowIds = carry, bucketIds = bids)
          // rewritten existing rows: their ids may sit in index postings
          // whose content no longer matches — id-keyed deferred serving
          // must mask (see ftsServableMask / FragmentMeta.lossyLineage)
          val frags = frags0.map(_.copy(lossyLineage = true))
          staged = paths
          base.copy(version = base.version + 1, operation = "update",
            fragments = base.fragments ++ frags,
            dvFiles = base.dvFiles ++ dvOpt.map(_._1),
            numDeleted = base.numDeleted + dvOpt.map(_._2).getOrElse(0L),
            parent = base.version,
            nextRowId =
              if (carry) base.nextRowId
              else base.nextRowId + frags.map(_.rows).sum,
            opStats = Map("num_updated_rows" -> frags.map(_.rows).sum))
        case None => throw new IllegalArgumentException(s"no table at $tablePath")
      })
    } finally matches.unpersist()
  }

  /** Merge conditions may qualify columns with `source.` / `target.`
    * (reference `when_matched_update_all(condition)` docs — e.g.
    * `source.last_update > target.last_update`): in the classified join,
    * source columns carry the `__s_` prefix and target columns are plain.
    * The rewrite happens on the PARSED expression's attribute qualifiers
    * (case-insensitive, backtick-safe, string literals untouched — a
    * textual replace would corrupt a literal containing "target.").
    * Unqualified names resolve to the TARGET side (it owns plain names).
    *
    * A table column literally NAMED `source` or `target` wins over the
    * qualifier interpretation: `target.v` on a table with a struct column
    * `target` is that struct's field, not a qualified `v`. This keeps the
    * SQL route sound — [[GraftExtensions]] serializes its already-resolved
    * conditions with qualifiers stripped and source attrs pre-prefixed, so
    * any dotted path it emits whose head is `source`/`target` IS a struct
    * access on such a column and must not be re-qualified here. (The
    * source relation's columns of those names are unreachable under the
    * collision — qualify nothing else that way.) */
  private def mergeCondColumn(spark: SparkSession, cond: String,
                              targetCols: Seq[String]): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def isColumn(name: String) = targetCols.exists(_.equalsIgnoreCase(name))
    val rewritten = spark.sessionState.sqlParser.parseExpression(cond).transform {
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 &&
          ua.nameParts.head.equalsIgnoreCase("source") &&
          !isColumn(ua.nameParts.head) =>
        UnresolvedAttribute(s"__s_${ua.nameParts(1)}" +: ua.nameParts.drop(2))
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 &&
          ua.nameParts.head.equalsIgnoreCase("target") &&
          !isColumn(ua.nameParts.head) =>
        UnresolvedAttribute(ua.nameParts.tail)
    }
    ColumnBridge.column(rewritten)
  }

  /** Source keys inlined as a pushed-down IN literal when at most this many
    * distinct values — the row-group-stat-pruned fast path of the btree
    * postings scan (same mechanism as [[graft.index.ScalarIndex.lookupBtree]]). */
  private val MergeInlineKeyLimit = 10000

  /** Index-assisted MERGE target (reference `MergeInsertBuilder.use_index`,
    * `python/python/lance/dataset.py:223` — the reference locates matched
    * rows through the scalar index on the join key instead of scanning the
    * whole target). Sound only when the merge has NO not-matched-by-source
    * clause: then target rows matching no source key take no action and
    * need never be read. The pruned target is
    *
    *   (covered fragments that contain ≥1 candidate address) ∪
    *   (fragments appended after the index build — scanned flat, O(delta))
    *
    * Candidate addresses come from the btree postings `(v, _rowaddr)`
    * semi-joined with the source keys — inlined as a pushed IN literal for
    * small key sets (row-group pruning inside the sorted index files), a
    * broadcast-eligible semi-join otherwise (two narrow columns, never the
    * table width). DV-deleted candidates vanish in the fragment read, so a
    * source key matching only a dead row still classifies as an insert.
    * Returns None when no usable index exists (caller falls back to the
    * full scan). At 100 TB this is the difference between an upsert batch
    * reading O(matching fragments) and reading the entire table. */
  private def mergeIndexTarget(spark: SparkSession, tablePath: String,
                               m0: GraftManifest, key: String, source: DataFrame,
                               withRowId: Boolean): Option[(DataFrame, Int, Int)] = {
    val entryOpt = for {
      field <- m0.schema.fields.find(_.name == key)
      phys = m0.physicalName(field)
      e <- m0.indices.find(e => e.indexType == "BTREE" && e.column == phys)
      covered = e.fragmentIds.toSet
      // compacted-away coverage = index rows address dead fragments — dormant
      if covered.subsetOf(m0.fragments.map(_.id).toSet)
      dir = s"$tablePath/_indices/${e.name}"
      // the dir must still hold THIS build (a clone/restore whose dirs did
      // not travel, or a later rebuild, must not serve another build's rows)
      if graft.index.ScalarIndex.readMarkerUuid(spark, dir).contains(e.uuid)
    } yield (e, covered, dir)
    entryOpt.map { case (_, covered, dir) =>
      val postings = spark.read.parquet(dir)
      val srcKeys = source.select(source(key).as("v")).distinct()
      val probe = srcKeys.limit(MergeInlineKeyLimit + 1).collect()
      val cand =
        if (probe.length <= MergeInlineKeyLimit)
          postings.filter(col("v").isin(probe.toSeq.map(_.get(0)): _*)).select(col(RowAddrCol))
        else postings.join(srcKeys, Seq("v"), "left_semi").select(col(RowAddrCol))
      // fragment-count-bounded collect (metadata-sized, never row-sized)
      val candIds = cand.select(shiftrightunsigned(col(RowAddrCol), 32).as("f"))
        .distinct().collect().map(_.getLong(0)).toSet
      val frags = m0.fragments.filter(f => !covered(f.id) || candIds(f.id))
      (readFragments(spark, tablePath, m0, frags, withRowAddr = true,
        withRowId = withRowId), frags.size, m0.fragments.size)
    }
  }

  /** MERGE INTO (reference `write/merge_insert.rs:204-299`):
    * full-outer join target vs source on key columns, classify, then apply
    * all actions in ONE commit: updates/inserts as new fragments, matched/
    * not-matched-by-source rows as DVs.
    *
    * `useIndex` (reference `MergeInsertBuilder.use_index`, default on):
    * single-key merges without a by-source-delete clause read only the
    * fragments that can contain a source key when a BTREE index on the key
    * is fresh — see [[mergeIndexTarget]]. `whenMatchedFail` (reference
    * `when_matched_fail`) aborts the merge if ANY source row matches.
    * `conflictRetries` (reference `conflict_retries`, same default 10): a
    * merge whose staged state loses a commit race (schema change, rewrite,
    * contested rows) re-stages against the fresh snapshot and retries —
    * each retry re-reads the target, so retried semantics equal running
    * the merge after the conflicting commit. */
  def mergeInsert(spark: SparkSession, tablePath: String, source: DataFrame,
                  on: Seq[String],
                  whenMatchedUpdateAll: Boolean = true,
                  matchedCondition: Option[String] = None,
                  whenNotMatchedInsertAll: Boolean = true,
                  whenNotMatchedBySourceDelete: Boolean = false,
                  deleteCondition: Option[String] = None,
                  useIndex: Boolean = true,
                  whenMatchedFail: Boolean = false,
                  conflictRetries: Int = 10,
                  retryTimeoutMs: Long = 30000L): GraftManifest = {
    // reference `retry_timeout` (Python dataset.py, default 30 s): each
    // conflict retry re-stages against a fresh snapshot — a FULL re-read of
    // the target — so under sustained contention an attempt-count bound
    // alone can hold a pipeline slot for hours; the wall-clock deadline
    // caps that. Checked BETWEEN attempts: an in-flight attempt finishes.
    val deadline = System.nanoTime() + retryTimeoutMs * 1000000L
    var attempt = 0
    while (true) {
      try {
        return mergeInsertOnce(spark, tablePath, source, on, whenMatchedUpdateAll,
          matchedCondition, whenNotMatchedInsertAll, whenNotMatchedBySourceDelete,
          deleteCondition, useIndex, whenMatchedFail)
      } catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("conflict") &&
              attempt < conflictRetries =>
          if (System.nanoTime() >= deadline)
            throw new IllegalStateException(
              s"merge_insert: retry_timeout (${retryTimeoutMs} ms) exceeded after " +
                s"${attempt + 1} attempt(s); last conflict: ${e.getMessage}", e)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A staged-but-uncommitted merge (reference `execute_uncommitted`,
    * Python `dataset.py:113-135`): fragments and the deletion vector are on
    * disk under the table's staging dirs, but NOTHING is visible to readers
    * until [[commitMerge]] lands it — the distributed-pipeline shape where
    * workers stage expensive merge work and a coordinator commits. `stats`
    * carries the row-class counts when staged via
    * [[mergeInsertUncommitted]] (the reference returns the same dict). */
  case class StagedMerge private[format] (
      m0: GraftManifest, carry: Boolean,
      stagedUpd: Seq[Path], stagedIns: Seq[Path],
      dvOpt: Option[(String, Long)], nUpdLegacy: Long,
      idxStats: Map[String, Long], stats: Map[String, Long],
      /** Bucket ids aligned with stagedUpd/stagedIns when the target is
        * bucketed (renames preserve order, so a commit re-invocation
        * stays aligned). */
      bidsU: Option[Seq[Int]] = None, bidsI: Option[Seq[Int]] = None) {
    /** Set by a successful [[commitMerge]]: the staged files were renamed
      * into the table, so a second commit would fail with an obscure
      * rename error — guard it with a clear one instead. */
    private[format] val committed = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** CURRENT staged file paths. A commit attempt renames staged files
      * into their fragment names BEFORE the CAS; if the commit then fails
      * (e.g. a concurrent schema change trips the staged-base guard), the
      * renames stand — a permitted re-invocation of [[commitMerge]] must
      * see the renamed paths, not the originals. */
    private[format] val curPaths =
      new java.util.concurrent.atomic.AtomicReference[(Seq[Path], Seq[Path])](
        (stagedUpd, stagedIns))
  }

  /** Stage a merge without committing (reference
    * `MergeInsertBuilder.execute_uncommitted`): returns the staged
    * transaction, whose `stats` report num_updated/inserted/deleted rows.
    * Commit it with [[commitMerge]]; a commit over a snapshot that
    * conflicts with concurrent DML aborts like any merge commit (the
    * caller re-stages — there is no hidden re-read inside commit). */
  def mergeInsertUncommitted(spark: SparkSession, tablePath: String, source: DataFrame,
                  on: Seq[String],
                  whenMatchedUpdateAll: Boolean = true,
                  matchedCondition: Option[String] = None,
                  whenNotMatchedInsertAll: Boolean = true,
                  whenNotMatchedBySourceDelete: Boolean = false,
                  deleteCondition: Option[String] = None,
                  useIndex: Boolean = true,
                  whenMatchedFail: Boolean = false): StagedMerge =
    stageMerge(spark, tablePath, source, on, whenMatchedUpdateAll,
      matchedCondition, whenNotMatchedInsertAll, whenNotMatchedBySourceDelete,
      deleteCondition, useIndex, whenMatchedFail, withStats = true)

  private def mergeInsertOnce(spark: SparkSession, tablePath: String, source: DataFrame,
                  on: Seq[String],
                  whenMatchedUpdateAll: Boolean,
                  matchedCondition: Option[String],
                  whenNotMatchedInsertAll: Boolean,
                  whenNotMatchedBySourceDelete: Boolean,
                  deleteCondition: Option[String],
                  useIndex: Boolean,
                  whenMatchedFail: Boolean): GraftManifest =
    commitMerge(spark, tablePath,
      stageMerge(spark, tablePath, source, on, whenMatchedUpdateAll,
        matchedCondition, whenNotMatchedInsertAll, whenNotMatchedBySourceDelete,
        deleteCondition, useIndex, whenMatchedFail, withStats = false))

  private def stageMerge(spark: SparkSession, tablePath: String, source: DataFrame,
                  on: Seq[String],
                  whenMatchedUpdateAll: Boolean,
                  matchedCondition: Option[String],
                  whenNotMatchedInsertAll: Boolean,
                  whenNotMatchedBySourceDelete: Boolean,
                  deleteCondition: Option[String],
                  useIndex: Boolean,
                  whenMatchedFail: Boolean,
                  withStats: Boolean): StagedMerge = {
    val m0 = loadManifest(spark, tablePath)
    val carry = m0.hasRowIds && m0.fragments.nonEmpty
    val cols = m0.schema.fieldNames.toSeq
    // multi-key merges prune on ANY ONE indexed key: the pruned target only
    // needs to be a SUPERSET of the rows matching ALL keys, and a single
    // key's candidate set already is one — the full-outer join below still
    // applies the complete key equality
    val prunedTarget =
      if (useIndex && !whenNotMatchedBySourceDelete)
        on.iterator
          .map(k => mergeIndexTarget(spark, tablePath, m0, k, source, withRowId = carry))
          .collectFirst { case Some(t) => t }
      else None
    // pruning observability travels on the COMMIT (reference merge stats):
    // per-run, race-free under concurrent merges, visible in system.history
    val idxStats: Map[String, Long] = prunedTarget.map { case (_, scanned, total) =>
      Map("merge_index_fragments_scanned" -> scanned.toLong,
        "merge_index_fragments_total" -> total.toLong)
    }.getOrElse(Map.empty)
    val target = prunedTarget.map(_._1).getOrElse(
      read(spark, tablePath, Some(m0.version), withRowAddr = true, withRowId = carry))
    // prefix source columns to disambiguate
    val src = source.select(source.columns.map(c => col(c).as(s"__s_$c")).toSeq: _*)
      .withColumn("__s_exists", lit(true))
    val joinCond = on.map(k => target(k) === src(s"__s_$k")).reduce(_ && _)
    val joined = target.join(src, joinCond, "full_outer").persist()
    try {
      val isMatched = col(RowAddrCol).isNotNull && col("__s_exists").isNotNull
      val srcRow = cols.map(c => col(s"__s_$c").as(c))

      // reference `when_matched_fail`: insert-only merges that must not
      // silently touch existing rows abort on the first match
      if (whenMatchedFail && joined.filter(isMatched).limit(1).count() > 0)
        throw new IllegalStateException(
          "merge_insert: when_matched_fail — a source row matches an existing target row")

      // ambiguous-match detection (reference errors on >1 source match)
      if (whenMatchedUpdateAll) {
        val dup = joined.filter(isMatched).groupBy(col(RowAddrCol))
          .count().filter(col("count") > 1).limit(1).count()
        if (dup > 0) throw new IllegalStateException(
          "merge_insert: a target row matches multiple source rows")
      }

      val matchedCondCol = matchedCondition.map(mergeCondColumn(spark, _, cols))
        .getOrElse(lit(true))
      val updates = if (whenMatchedUpdateAll)
        joined.filter(isMatched && matchedCondCol) else joined.limit(0)
      val inserts = if (whenNotMatchedInsertAll)
        joined.filter(col(RowAddrCol).isNull && col("__s_exists").isNotNull) else joined.limit(0)
      val delCondCol = deleteCondition.map(mergeCondColumn(spark, _, cols))
        .getOrElse(lit(true))
      val deletes = if (whenNotMatchedBySourceDelete)
        joined.filter(col(RowAddrCol).isNotNull && col("__s_exists").isNull && delCondCol)
      else joined.limit(0)

      // matched-update rows keep the TARGET row's stable `_rowid` (move-stable
      // ids, as in [[update]]); only genuinely new rows draw fresh ids — so
      // the two classes stage into separate fragment sets
      val (stagedUpd, bidsU): (Seq[Path], Option[Seq[Int]]) =
        if (carry && whenMatchedUpdateAll) stageBucketAware(spark, tablePath,
          m0, toPhysical(updates.select(srcRow :+ col(RowIdCol): _*), m0))
        else (Nil, None)
      val (stagedIns, bidsI): (Seq[Path], Option[Seq[Int]]) =
        if (carry && !whenNotMatchedInsertAll) (Nil, None)
        else if (carry) stageBucketAware(spark, tablePath, m0,
          toPhysical(inserts.select(srcRow: _*), m0))
        else stageBucketAware(spark, tablePath, m0, toPhysical(
          updates.select(srcRow: _*).unionByName(inserts.select(srcRow: _*)), m0))
      val dvOpt = stageDv(spark, tablePath,
        updates.select(RowAddrCol).unionByName(deletes.select(RowAddrCol)))
      // legacy (no-rowid) staging mixes updates and inserts in one fragment
      // set; one count over the persisted join recovers the split. Carry
      // mode reads both counts off staged fragment metadata for free.
      val nUpdLegacy =
        if (!carry && whenMatchedUpdateAll) updates.count() else 0L
      val stats: Map[String, Long] =
        if (!withStats) Map.empty
        else {
          // legacy mode already counted updates for nUpdLegacy — reuse it
          val nUpd =
            if (!carry && whenMatchedUpdateAll) nUpdLegacy else updates.count()
          Map("num_updated_rows" -> nUpd,
            "num_inserted_rows" -> inserts.count(),
            "num_deleted_rows" -> (dvOpt.map(_._2).getOrElse(0L) - nUpd))
        }
      StagedMerge(m0, carry, stagedUpd, stagedIns, dvOpt, nUpdLegacy,
        idxStats, stats, bidsU, bidsI)
    } finally joined.unpersist()
  }

  /** Commit a [[StagedMerge]] (reference `LanceDataset.commit` over an
    * `execute_uncommitted` transaction): the standard merge commit path —
    * staged-base guard, DV-level conflict resolution, fragment-id
    * assignment — with no hidden target re-read. */
  def commitMerge(spark: SparkSession, tablePath: String,
                  st: StagedMerge): GraftManifest = {
    require(!st.committed.get(),
      "this StagedMerge was already committed — stage a new merge")
    var (stagedUpd, stagedIns) = st.curPaths.get()
    val dvOpt = st.dvOpt
    val carry = st.carry
    DmlTestHooks.beforeCommit("merge_insert")
    val m = commitLoop(spark, tablePath, {
      case Some(base) =>
        guardStagedBase("merge_insert", st.m0, base)
        resolveDvConflicts(spark, tablePath, "merge_insert", st.m0, base,
          dvOpt.map(_._1), dvOpt.map(_._2).getOrElse(0L), composeDeletes = false)
        val (fragsU0, pathsU) = assignIds(spark, stagedUpd, base.maxFragmentId + 1,
          base.version + 1, storedRowIds = carry, bucketIds = st.bidsU)
        // rewritten-match side: ids may sit in stale postings (see update)
        val fragsU = fragsU0.map(_.copy(lossyLineage = true))
        val (fragsI, pathsI) = assignIds(spark, stagedIns,
          base.maxFragmentId + 1 + fragsU.size, base.version + 1, base.nextRowId,
          bucketIds = st.bidsI)
        stagedUpd = pathsU; stagedIns = pathsI
        st.curPaths.set((pathsU, pathsI))
        val dvN = dvOpt.map(_._2).getOrElse(0L)
        val nUpd = if (carry) fragsU.map(_.rows).sum else st.nUpdLegacy
        val nIns = fragsI.map(_.rows).sum - (if (carry) 0L else st.nUpdLegacy)
        base.copy(version = base.version + 1, operation = "merge_insert",
          fragments = base.fragments ++ fragsU ++ fragsI,
          dvFiles = base.dvFiles ++ dvOpt.map(_._1),
          numDeleted = base.numDeleted + dvOpt.map(_._2).getOrElse(0L),
          parent = base.version,
          nextRowId = base.nextRowId + fragsI.map(_.rows).sum,
          opStats = Map("num_updated_rows" -> nUpd,
            "num_inserted_rows" -> nIns,
            "num_deleted_rows" -> (dvN - nUpd)) ++ st.idxStats)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
    st.committed.set(true)
    m
  }

  /** Partial compaction (reference `compact_files`, `optimize.rs:120-146`):
    * candidate fragments are those below half the target row count (small-file
    * bins) or with a deleted fraction ≥ `materializeDeletions` (default 10%,
    * the reference default). ONLY candidates are rewritten — their live rows
    * re-binned into ~targetRows fragments; untouched fragments keep their
    * files, ids, and stats, so at 100 TB compaction IO is proportional to the
    * debt, not the table. DV entries covering untouched fragments are carried
    * forward into one rewritten DV file; entries covering rewritten fragments
    * are materialized (dropped with the old files).
    *
    * Commits optimistically like every mutation. A concurrent commit between
    * planning and commit REBASES when the delta is compatible with the
    * rewrite (the reference's Rewrite conflict semantics,
    * `transaction.rs` — a rewrite conflicts only with operations that
    * touched the rewritten fragments): appends and metadata-only commits
    * rebase (essential under continuous ingest — a 100 TB table that is
    * never idle must still compact); deletes/updates/other rewrites abort
    * (retrying against them could resurrect rows).
    *
    * `beforeCommit` is a test seam: invoked once after staging, before the
    * commit loop (deterministic concurrent-commit interleaving in specs).
    */
  /** Stage one rewrite group's live rows, PRESERVING a bucketed layout
    * when the table has one: rows re-route to their `n` buckets (same
    * murmur3 routing as the original write) and the staged part index
    * rides along as the bucket id for [[assignIds]]'s suffixed naming —
    * so compaction keeps the zero-shuffle join property instead of
    * degrading it. Unbucketed tables bin by `nOut` as before. */
  private def stageRewrite(spark: SparkSession, tablePath: String,
                           m: GraftManifest, live: DataFrame,
                           nOut: Int,
                           rowsPerFile: Option[Long] = None)
      : (Seq[Path], Option[Seq[Int]]) =
    stageBucketAware(spark, tablePath, m, toPhysical(live, m),
      fallback = _.repartition(nOut), maxRowsPerFile = rowsPerFile)

  /** Stage a PHYSICAL-named DataFrame, routing rows to their buckets when
    * the table is bucketed (routing is recomputed from CURRENT values, so
    * even a mutation that changes a bucket column lands rows correctly);
    * otherwise apply `fallback`. Returns the staged paths and the aligned
    * bucket ids for [[assignIds]]' suffixed naming.
    *
    * `maxRowsPerFile` carries the caller's targetRows/maxBytesPerFile
    * ceiling into the BUCKETED branch: the shuffle stays one-partition-
    * per-bucket (anything else could mix buckets in a file), so the
    * ceiling applies as the writer's maxRecordsPerFile — an oversized
    * bucket splits into several single-bucket fragments instead of one
    * multi-GB file. */
  private def stageBucketAware(spark: SparkSession, tablePath: String,
                               m: GraftManifest, dfPhys: DataFrame,
                               fallback: DataFrame => DataFrame = identity,
                               maxRowsPerFile: Option[Long] = None)
      : (Seq[Path], Option[Seq[Int]]) =
    bucketSpecOf(m) match {
      case Some(bs) =>
        val (paths, ids) = stageBucketed(spark, tablePath, bs.numBuckets,
          bs.bucketColumnNames, dfPhys, maxRowsPerFile = maxRowsPerFile)
        (paths, Some(ids))
      case None => (stageFragments(spark, tablePath, fallback(dfPhys)), None)
    }

  /** Bucketed staging core: shuffle rows to their `n` hash buckets and
    * derive each staged file's bucket id from its CONTENT — the write
    * task's part index is NOT a stable bucket label (AQE re-optimization
    * can permute the task↔shuffle-partition mapping; observed on
    * anti-join rewrite plans). One column-pruned pass over the staged
    * files recovers the id per file; a file mixing buckets fails loudly
    * (it would mean the routing itself broke). Empty files (a zero-row
    * mutation) get bucket 0 — vacuously correct. */
  private def stageBucketed(spark: SparkSession, tablePath: String,
                            n: Int, cols: Seq[String], dfPhys: DataFrame,
                            stagingRoot: Option[Path] = None,
                            maxRowsPerFile: Option[Long] = None)
      : (Seq[Path], Seq[Int]) = {
    val staged = stageFragments(spark, tablePath,
      dfPhys.repartition(n, cols.map(col): _*), stagingRoot, maxRowsPerFile)
    if (staged.isEmpty) return (staged, Nil)
    // Spark's bucket id = pmod(murmur3(cols), n) — hash() IS Murmur3Hash
    // with HashPartitioning's seed, so this matches both the shuffle
    // routing above and the scan-side bucket pruning
    val bucketExpr = pmod(hash(cols.map(col): _*), lit(n))
    val byName: Map[String, (Int, Int)] =
      spark.read.parquet(staged.map(_.toString): _*)
        .select(input_file_name().as("__f"), bucketExpr.as("__b"))
        .groupBy(col("__f"))
        .agg(min(col("__b")).as("lo"), max(col("__b")).as("hi"))
        .collect().map { r =>
          val name = r.getString(0).split('/').last
          name -> (r.getInt(1), r.getInt(2))
        }.toMap
    // a name absent from the content scan is only legitimate for a
    // ZERO-ROW file (input_file_name never surfaces it); anything else is
    // a staged-path vs scan-name mismatch that would silently label a
    // data-bearing file bucket 0 and make bucket-pruned reads drop rows —
    // verify emptiness instead of assuming it
    val unseen = staged.filterNot(p => byName.contains(p.getName))
    if (unseen.nonEmpty) {
      val nonEmpty = spark.read.parquet(unseen.map(_.toString): _*)
        .limit(1).count()
      require(nonEmpty == 0L,
        s"staged bucketed files missing from the content scan but not " +
          s"empty: ${unseen.mkString(", ")}")
    }
    val ids = staged.map { p =>
      byName.get(p.getName) match {
        case Some((lo, hi)) =>
          require(lo == hi,
            s"staged file $p mixes buckets $lo..$hi — bucket routing broke")
          lo
        case None => 0
      }
    }
    (staged, ids)
  }

  def compactFiles(spark: SparkSession, tablePath: String,
                   targetRows: Long = 1L << 20,
                   materializeDeletions: Double = 0.1,
                   beforeCommit: () => Unit = () => (),
                   maxBytesPerFile: Option[Long] = None): GraftManifest = {
    val m = loadManifest(spark, tablePath)
    val t = new Path(tablePath)
    val dvPaths = m.dvFiles.map(p => new Path(t, p).toString)
    val delByFrag: Map[Long, Long] =
      if (m.dvFiles.isEmpty) Map.empty
      else spark.read.parquet(dvPaths: _*)
        .select(shiftrightunsigned(col("addr"), 32).as("f")).groupBy(col("f")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cand = m.fragments.filter { f =>
      f.rows < targetRows / 2 ||
        (f.rows > 0 && delByFrag.getOrElse(f.id, 0L).toDouble / f.rows >= materializeDeletions)
    }
    // bin candidates by INDEX-COVERAGE SIGNATURE: fragments covered by a
    // different set of committed indexes never share a rewrite output, so
    // every output is wholly index-composed per index and
    // [[graft.operators.IndexRemap]] can move the index to the new
    // addresses instead of re-encoding (the reference's compaction plans
    // around index fragment bitmaps for the same reason — never mix
    // indexed and unindexed rows, `optimize.rs`).
    val delOf: FragmentMeta => Long = f => delByFrag.getOrElse(f.id, 0L)
    val groups = cand
      .groupBy(f => m.indices.filter(_.fragmentIds.contains(f.id)).map(_.name).toSet)
      .values.toSeq
      // a single-fragment bin with no deletion debt gains nothing from a
      // rewrite — leave it alone rather than churn IO and index coverage
      .filter(g => g.size >= 2 || g.map(delOf).sum > 0)
    val toRewrite = groups.flatten
    if (toRewrite.isEmpty) return m // no debt to pay
    val keep = m.fragments.filterNot(f => toRewrite.exists(_.id == f.id))
    val keepIds = keep.map(_.id).toSet
    val rewriteDeleted = toRewrite.map(delOf).sum
    // live rows of candidate fragments only (DVs applied by readManifest).
    // Rewritten rows keep their STABLE ids: `_rowid` rides along and is
    // persisted as a physical column in the new fragment files (reference
    // move-stable row ids — addresses change, ids don't).
    val carryIds = m.hasRowIds && m.fragments.nonEmpty
    // pre-rewrite addresses ride along as the physical __old_addr column
    // iff the group is defer-servable (readForRewrite): retired index
    // coverage keeps serving at those addresses until optimize_index
    // remaps (reference defer_index_remap / FragReuseIndex)
    var stagedGroups: Seq[(Seq[Path], Option[Seq[Int]])] = groups.map { g =>
      val live = readForRewrite(spark, tablePath, m, g, carryIds)
      val liveCount = g.map(_.rows).sum - g.map(delOf).sum
      // reference `max_bytes_per_file`: output count honors BOTH the row
      // target and a byte ceiling (estimated from the inputs' on-disk
      // bytes) — wide multimodal rows must not produce multi-GB fragments
      // just because their row count is small
      val byBytes = maxBytesPerFile.map(mb =>
        math.ceil(g.map(_.sizeBytes).sum.toDouble / mb)).getOrElse(1.0)
      val nOut = math.max(1,
        math.max(math.ceil(liveCount.toDouble / targetRows), byBytes).toInt)
      stageRewrite(spark, tablePath, m, live, nOut,
        rowsPerFile = Some(math.max(1L,
          math.ceil(liveCount.toDouble / nOut).toLong)))
    }
    // DV entries for untouched fragments survive the rewrite
    val dvCarry: Option[(String, Long)] =
      if (m.dvFiles.isEmpty || m.numDeleted == rewriteDeleted) None
      else stageDv(spark, tablePath,
        spark.read.parquet(dvPaths: _*)
          .filter(shiftrightunsigned(col("addr"), 32).isin(keepIds.toSeq: _*))
          .select(col("addr").as(RowAddrCol)))
    val srcDvByGroup: Seq[Option[String]] =
      groups.map(g => stageSrcDv(spark, tablePath, m, g, g.map(delOf).sum > 0))
    beforeCommit()
    commitLoop(spark, tablePath, {
      case Some(base) =>
        if (base.version != m.version && !rewriteRebasable(base, m, toRewrite))
          throw new IllegalStateException(
            s"compaction conflict: table moved from v${m.version} to " +
              s"v${base.version} and the delta touches rewritten state — retry")
        // rebase: keep every CURRENT fragment outside the rewrite set
        // (planned keepers + anything appended since planning)
        val keepNow = base.fragments.filterNot(f => toRewrite.exists(_.id == f.id))
        var nextId = base.maxFragmentId + 1
        val assigned = stagedGroups.zip(groups).zip(srcDvByGroup).map {
          case (((sg, bids), g), sdv) =>
            val (frags0, paths) = assignIds(spark, sg, nextId,
              base.version + 1, storedRowIds = carryIds, bucketIds = bids)
            val frags = stampProvenance(m, g, frags0, sdv)
            nextId += frags.size
            (frags, paths, bids)
        }
        stagedGroups = assigned.map(a => (a._2, a._3))
        base.copy(version = base.version + 1, operation = "rewrite",
          fragments = keepNow ++ assigned.flatMap(_._1),
          dvFiles = dvCarry.map(_._1).toSeq,
          numDeleted = dvCarry.map(_._2).getOrElse(0L),
          parent = base.version,
          // reference CompactionMetrics (optimize.rs): what the rewrite did
          opStats = Map(
            "fragments_removed" -> toRewrite.size.toLong,
            "fragments_added" -> assigned.map(_._1.size).sum.toLong,
            "rows_materialized_deleted" -> rewriteDeleted))
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  /** Can a rewrite planned against `m` commit on top of `base`? Yes iff the
    * concurrent delta never touched what the rewrite consumed or replaces
    * (reference Rewrite conflict semantics, `transaction.rs`): every
    * rewritten fragment is still present UNCHANGED, no deletion state
    * moved (a delete after planning on a rewritten fragment would be
    * resurrected by the staged output), no supplemental column file landed
    * (it addresses pre-rewrite row addresses), and the schema is
    * byte-identical. Appends, config/metadata updates, and index commits
    * all pass. */
  private def rewriteRebasable(base: GraftManifest, m: GraftManifest,
                               rewritten: Seq[FragmentMeta]): Boolean = {
    val byId = base.fragments.map(f => f.id -> f).toMap
    rewritten.forall(f => byId.get(f.id).contains(f)) &&
      base.dvFiles == m.dvFiles && base.numDeleted == m.numDeleted &&
      base.columnFiles == m.columnFiles &&
      base.schemaJson == m.schemaJson
  }

  /** Full compaction: rewrite all live rows into ~targetRows fragments,
    * materializing deletions (reference `optimize.rs:120-146`). See
    * [[compactFiles]] for the debt-proportional partial path. */
  def compact(spark: SparkSession, tablePath: String,
              targetRows: Long = 1L << 20,
              beforeCommit: () => Unit = () => (),
              maxBytesPerFile: Option[Long] = None): GraftManifest = {
    val m = loadManifest(spark, tablePath)
    val carryIds = m.hasRowIds && m.fragments.nonEmpty
    // same signature binning as [[compactFiles]]: outputs never mix rows of
    // differently-indexed fragments, so committed indexes stay remappable
    val groups: Seq[Seq[FragmentMeta]] =
      if (m.indices.isEmpty) Seq(m.fragments)
      else m.fragments
        .groupBy(f => m.indices.filter(_.fragmentIds.contains(f.id)).map(_.name).toSet)
        .values.toSeq
    val delByFrag: Map[Long, Long] =
      if (m.dvFiles.isEmpty) Map.empty
      else spark.read.parquet(m.dvFiles.map(p =>
          new Path(new Path(tablePath), p).toString): _*)
        .select(shiftrightunsigned(col("addr"), 32).as("f")).groupBy(col("f")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var stagedGroups: Seq[(Seq[Path], Option[Seq[Int]])] = groups.map { g =>
      val live = readForRewrite(spark, tablePath, m, g, carryIds)
      val total = g.map(f => f.rows - delByFrag.getOrElse(f.id, 0L)).sum
      val byBytes = maxBytesPerFile.map(mb =>
        math.ceil(g.map(_.sizeBytes).sum.toDouble / mb)).getOrElse(1.0)
      val nOut = math.max(1,
        math.max(math.ceil(total.toDouble / targetRows), byBytes).toInt)
      stageRewrite(spark, tablePath, m, live, nOut,
        rowsPerFile = Some(math.max(1L,
          math.ceil(total.toDouble / nOut).toLong)))
    }
    val srcDvByGroup: Seq[Option[String]] = groups.map(g =>
      stageSrcDv(spark, tablePath, m, g,
        g.exists(f => delByFrag.getOrElse(f.id, 0L) > 0)))
    beforeCommit()
    commitLoop(spark, tablePath, {
      case Some(base) =>
        // full rewrite replaces m's fragment set wholesale. A concurrent
        // APPEND-ONLY / metadata-only delta rebases (its new fragments are
        // kept alongside the rewrite outputs — the continuous-ingest case);
        // anything that touched the consumed state aborts, same rule as
        // [[compactFiles]].
        if (base.version != m.version && !rewriteRebasable(base, m, m.fragments))
          throw new IllegalStateException(
            s"compaction conflict: table moved from v${m.version} to " +
              s"v${base.version} and the delta touches rewritten state — retry")
        val mIds = m.fragments.map(_.id).toSet
        val keepNow = base.fragments.filterNot(f => mIds.contains(f.id))
        var nextId = base.maxFragmentId + 1
        val assigned = stagedGroups.zip(groups).zip(srcDvByGroup).map {
          case (((sg, bids), g), sdv) =>
            val (frags0, paths) = assignIds(spark, sg, nextId,
              base.version + 1, storedRowIds = carryIds, bucketIds = bids)
            val frags = stampProvenance(m, g, frags0, sdv)
            nextId += frags.size
            (frags, paths, bids)
        }
        stagedGroups = assigned.map(a => (a._2, a._3))
        base.copy(version = base.version + 1, operation = "rewrite",
          fragments = keepNow ++ assigned.flatMap(_._1), dvFiles = Nil, numDeleted = 0L,
          columnFiles = Nil, // supplemental values materialized by the rewrite
          parent = base.version,
          opStats = Map(
            "fragments_removed" -> m.fragments.size.toLong,
            "fragments_added" -> assigned.map(_._1.size).sum.toLong,
            "rows_materialized_deleted" -> m.numDeleted))
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  /** Layout optimization: rewrite all live rows RANGE-CLUSTERED on `cols`
    * — one range shuffle (sampled bounds) + in-fragment sort, committed as
    * a single `rewrite` with the same contract as [[compact]] (rows and
    * stable ids unchanged, deletions materialized, supplemental column
    * files folded in).
    *
    * This is the Spark-native lever that makes fragment ZONEMAPS selective
    * at scale: after clustering, each fragment covers a narrow value range
    * of `cols`, so a filter on them prunes to the few overlapping fragments
    * in `GraftFileIndex.listFiles` — the difference between scanning the
    * whole table and one fragment's worth at 100 TB. (The reference has no
    * equivalent operation; its zonemap index `scalar/zonemap.rs` prunes
    * whatever layout ingestion produced. Clustering is what makes that
    * pruning reliably effective, so it ships as a first-class maintenance
    * op alongside [[compact]].)
    */
  /** Z-value column for [[cluster]]'s `curve = "zorder"`: interleaved bits
    * of per-column uniform bucket ids. Buckets come from `width_bucket`
    * over each column's observed min/max (ONE driver-side aggregate for
    * all columns); nulls and degenerate (constant) columns bucket to 0, so
    * they cluster at the curve origin. 62 bits split evenly across the
    * columns (12 max each) — the interleave is a plain expression tree, so
    * it rides whole-stage codegen like any arithmetic. */
  private def zValue(df: DataFrame, physCols: Seq[String]): Column = {
    val bits = math.min(12, 62 / physCols.length)
    val nB = (1 << bits).toLong
    val aggs = physCols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    val buckets = physCols.zipWithIndex.map { case (c, j) =>
      if (mm.isNullAt(2 * j) || mm.isNullAt(2 * j + 1) ||
        !(mm.getDouble(2 * j) < mm.getDouble(2 * j + 1))) lit(0L)
      else {
        val b = width_bucket(col(c).cast("double"),
          lit(mm.getDouble(2 * j)), lit(mm.getDouble(2 * j + 1)), lit(nB)) - lit(1L)
        coalesce(least(greatest(b, lit(0L)), lit(nB - 1L)), lit(0L))
      }
    }
    var z: Column = lit(0L)
    for (bit <- 0 until bits; (bc, j) <- buckets.zipWithIndex)
      z = z.bitwiseOR(shiftleft(
        shiftrightunsigned(bc, bit).bitwiseAND(lit(1L)), bit * physCols.length + j))
    z
  }

  /** `curve = "range"` sorts lexicographically — perfect pruning on the
    * LEADING column, none on the others (each fragment spans their full
    * range once the leading column has distinct-enough values). `curve =
    * "zorder"` interleaves the bits of per-column uniform bucket ids
    * (width_bucket over the observed min/max, 2 driver-side aggregates) so
    * every clustered column's zonemap tightens at once — the standard
    * multi-dimensional data-skipping layout. Z-order columns must be
    * numeric/timestamp (bucketing needs an order-preserving cast to
    * double). */
  def cluster(spark: SparkSession, tablePath: String, cols: Seq[String],
              targetRows: Long = 1L << 20,
              curve: String = "range"): GraftManifest = {
    require(cols.nonEmpty, "cluster requires at least one column")
    require(Set("range", "zorder").contains(curve), s"unknown curve: $curve")
    val m = loadManifest(spark, tablePath)
    val logical = m.schema.fieldNames.toSet
    val missing = cols.filterNot(logical.contains)
    require(missing.isEmpty, s"cluster columns not in schema: ${missing.mkString(", ")}")
    val carryIds = m.hasRowIds && m.fragments.nonEmpty
    val live = readForRewrite(spark, tablePath, m, m.fragments, carryIds)
    val total = m.liveRows
    val nOut = math.max(1, math.ceil(total.toDouble / targetRows).toInt)
    // sort keys address PHYSICAL names (post-toPhysical frame)
    val logicalToPhys = m.renames.toMap
    val physCols = cols.map(c => logicalToPhys.getOrElse(c, c))
    val sortCols: Seq[Column] = curve match {
      case "range" => physCols.map(col)
      case "zorder" =>
        cols.foreach { c =>
          val dt = m.schema(c).dataType
          require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.DateType],
            s"zorder column $c must be numeric/timestamp, is ${dt.simpleString}")
        }
        Seq(zValue(toPhysical(live, m), physCols))
    }
    val arranged = toPhysical(live, m)
      .repartitionByRange(nOut, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val srcDv = stageSrcDv(spark, tablePath, m, m.fragments, m.numDeleted > 0)
    var staged = stageFragments(spark, tablePath, arranged)
    commitLoop(spark, tablePath, {
      case Some(base) =>
        // same wholesale-rewrite rule as [[compact]]: append-only /
        // metadata-only deltas rebase (their fragments ride along
        // unclustered until the next pass); touched-state deltas abort
        if (base.version != m.version && !rewriteRebasable(base, m, m.fragments))
          throw new IllegalStateException(
            s"cluster conflict: table moved from v${m.version} to " +
              s"v${base.version} and the delta touches rewritten state — retry")
        val mIds = m.fragments.map(_.id).toSet
        val keepNow = base.fragments.filterNot(f => mIds.contains(f.id))
        val (frags0, paths) = assignIds(spark, staged, base.maxFragmentId + 1,
          base.version + 1, storedRowIds = carryIds)
        staged = paths
        val frags = stampProvenance(m, m.fragments, frags0, srcDv)
        base.copy(version = base.version + 1, operation = "rewrite",
          fragments = keepNow ++ frags, dvFiles = Nil, numDeleted = 0L,
          columnFiles = Nil,
          // clustering deliberately REPLACES the hash-bucket layout — drop
          // the bucket keys so later overwrites don't inherit a spec the
          // files no longer satisfy
          config = base.config -- Seq(BucketNumKey, BucketColsKey),
          parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  // ------------------------------------------------------- schema evolution

  /** Add columns from SQL expressions by full rewrite (reference
    * `add_columns`, `schema_evolution.rs:58-71`). Prefer [[addColumnsFiles]]
    * — the no-rewrite path — unless the table is small or a rewrite is
    * wanted anyway. */
  def addColumns(spark: SparkSession, tablePath: String,
                 exprs: Seq[(String, String)]): GraftManifest = {
    val df = exprs.foldLeft(read(spark, tablePath)) { case (d, (n, e)) =>
      d.withColumn(n, expr(e))
    }
    write(df, tablePath, "overwrite")
  }

  /** Add columns WITHOUT rewriting data files (reference: new DataFiles
    * appended to existing fragments, `fragment.rs:27-50` — "a fragment holds
    * ≥1 data file so columns can be added without rewriting").
    *
    * Writes ONE supplemental parquet dataset `(addr, newCols…)` computed from
    * the current snapshot, and commits a schema + columnFiles metadata
    * change. Existing fragment files are untouched — at 100 TB adding a
    * column costs IO proportional to the NEW column, not the table. Reads
    * merge it back by addr equi-join (see [[mergeColumnFiles]]); rows
    * appended after this commit carry the columns in their own fragment
    * files. Aborts on concurrent commits (the computed values are tied to
    * this snapshot's addresses). */
  def addColumnsFiles(spark: SparkSession, tablePath: String,
                      exprs: Seq[(String, String)]): GraftManifest = {
    val m0 = loadManifest(spark, tablePath)
    // guard LOGICAL and PHYSICAL namespaces: a new column named like a
    // renamed field's on-file name would resolve supplemental values into
    // the wrong logical column (ADVICE r4)
    val taken = (m0.schema.fieldNames ++ m0.physicalSchema.fieldNames).toSet
    val dup = exprs.map(_._1).filter(taken.contains)
    require(dup.isEmpty, s"columns already exist (logical or on-file): ${dup.mkString(",")}")
    val rsv = requireNotReserved(exprs.map(_._1))
    require(rsv.isEmpty, s"reserved graft column names: ${rsv.mkString(",")}")
    val snap = read(spark, tablePath, None, withRowAddr = true)
    val proj = snap.select(col(RowAddrCol).as("addr") +:
      exprs.map { case (n, e) => expr(e).as(n) }: _*)
    commitColumnFiles(spark, tablePath, m0, proj, exprs.map(_._1))
  }

  /** Write an `(addr, newCols…)` supplemental dataset and commit the schema
    * + columnFiles change (shared tail of [[addColumnsFiles]] /
    * [[mergeColumns]]). Aborts on concurrent commits — the computed values
    * are tied to the snapshot's addresses. */
  private def commitColumnFiles(spark: SparkSession, tablePath: String,
                                m0: GraftManifest, proj: DataFrame,
                                names: Seq[String]): GraftManifest = {
    val rel = s"columns/colf-${UUID.randomUUID().toString.take(8)}"
    val dir = new Path(new Path(tablePath), rel)
    proj.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    commitColumnFilesDir(spark, tablePath, m0, rel, names)
  }

  /** Commit an ALREADY-WRITTEN `(addr, newCols…)` dataset at `rel` as a
    * supplemental column file (tail of [[commitColumnFiles]], also the
    * assembly step of [[addColumnsUdf]]'s checkpointed backfill). */
  private def commitColumnFilesDir(spark: SparkSession, tablePath: String,
                                   m0: GraftManifest, rel: String,
                                   names: Seq[String]): GraftManifest = {
    val dir = new Path(new Path(tablePath), rel)
    val written = spark.read.parquet(dir.toString).schema
    val newFields = names.map(written(_))
    commitLoop(spark, tablePath, {
      case Some(base) =>
        if (base.version != m0.version) throw new IllegalStateException(
          s"add_columns conflict: table moved from v${m0.version} to v${base.version}")
        base.copy(version = base.version + 1, operation = "merge",
          schemaJson = StructType(base.schema.fields ++ newFields).json,
          columnFiles = base.columnFiles :+ ColumnFileMeta(rel, names),
          parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  /** Merge another dataframe's columns into the table by key equi-join
    * WITHOUT rewriting existing data (reference `Dataset::merge`, Python
    * `dataset.py:1666-1723`): a left join where the table is the left side —
    * table rows with no match carry nulls. The joined values land as a
    * supplemental column-file dataset keyed by `_rowaddr`
    * ([[addColumnsFiles]] layout), so at 100 TB the cost is a shuffle of
    * `(addr, key)` pairs from the left side — two columns, the minimum join
    * state — plus the new column data itself; existing fragment files are
    * untouched, and Spark broadcast-joins automatically when `source` is
    * small (or pass `broadcast(source)`).
    *
    * The right side's join keys must be unique: duplicate keys would fan out
    * left rows and misalign the addr-keyed column file, so this fails fast
    * rather than picking an arbitrary winner. */
  def mergeColumns(spark: SparkSession, tablePath: String, source: DataFrame,
                   leftOn: String, rightOn0: Option[String] = None): GraftManifest = {
    val rightOn = rightOn0.getOrElse(leftOn)
    val m0 = loadManifest(spark, tablePath)
    require(m0.schema.fieldNames.contains(leftOn), s"no column $leftOn in table")
    require(source.columns.contains(rightOn), s"no column $rightOn in source")
    val newNames = source.columns.filterNot(_ == rightOn).toSeq
    require(newNames.nonEmpty, "source has no columns beyond the join key")
    val taken = (m0.schema.fieldNames ++ m0.physicalSchema.fieldNames).toSet
    val dup = newNames.filter(taken.contains)
    require(dup.isEmpty, s"columns already exist (logical or on-file): ${dup.mkString(",")}")
    // "addr" is the column-file key and "__mc_*" are this join's internals —
    // a source column with either name would misbind silently; graft's
    // system columns are reserved everywhere
    val reserved = newNames.filter(n => n == "addr" || n.startsWith("__mc_")) ++
      requireNotReserved(newNames)
    require(reserved.isEmpty, s"reserved column names in source: ${reserved.mkString(",")}")
    require(source.groupBy(col(rightOn)).count()
      .filter(col("count") > 1).limit(1).count() == 0,
      s"duplicate join keys in source on $rightOn")
    val snap = read(spark, tablePath, None, withRowAddr = true)
      .select(col(RowAddrCol).as("__mc_addr"), col(leftOn).as("__mc_key"))
    val right = source.withColumnRenamed(rightOn, "__mc_rkey")
    val proj = snap.join(right, snap("__mc_key") === right("__mc_rkey"), "left_outer")
      .select(col("__mc_addr").as("addr") +: newNames.map(col): _*)
    commitColumnFiles(spark, tablePath, m0, proj, newNames)
  }

  /** Add columns computed by a batch UDF (reference `NewColumnTransform::
    * BatchUDF`, `schema_evolution.rs:62`; Python `udf.py`): `fn` maps each
    * existing row to the values of the new columns, executed per partition
    * with iterator-in/iterator-out shape (one UDF init per partition, the
    * `mapInPandas` analogue for Scala).
    *
    * Fragment-granular CHECKPOINT resume (reference `BatchUDFCheckpoint`,
    * `python/python/lance/udf.py:30-34,96`): each fragment's computed
    * values land in their own `columns/udf_ckpt_<name>/frag-<id>/` dataset
    * as one atomic job (per-dir `_SUCCESS`), and a retried call SKIPS
    * fragments whose checkpoint already committed — on a 100 TB backfill
    * behind a GPU/model UDF, a lost driver resumes where it stopped
    * instead of recomputing from row zero. Checkpoints are tied to the
    * snapshot version (a marker file): a table that moved invalidates
    * them. On completion the per-fragment files are RENAMED (O(1) per
    * file, no second write of the column data) into a supplemental
    * column-file dataset, committed like [[addColumnsFiles]] — existing
    * fragment files are never rewritten. */
  def addColumnsUdf(spark: SparkSession, tablePath: String,
                    newCols: StructType,
                    fn: org.apache.spark.sql.Row => Seq[Any],
                    checkpointName: String = ""): GraftManifest = {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val m0 = loadManifest(spark, tablePath)
    val taken = (m0.schema.fieldNames ++ m0.physicalSchema.fieldNames).toSet
    val dup = newCols.fieldNames.filter(taken.contains)
    require(dup.isEmpty, s"columns already exist (logical or on-file): ${dup.mkString(",")}")
    val rsv = requireNotReserved(newCols.fieldNames.toSeq)
    require(rsv.isEmpty, s"reserved graft column names: ${rsv.mkString(",")}")
    require(m0.fragments.nonEmpty, s"no fragments at $tablePath")
    val name = if (checkpointName.nonEmpty) checkpointName
      else newCols.fieldNames.mkString("_").replaceAll("[^A-Za-z0-9_]", "_")
    val ckptRel = s"columns/udf_ckpt_$name"
    val ckptPath = new Path(new Path(tablePath), ckptRel)
    val fs = ckptPath.getFileSystem(spark.sessionState.newHadoopConf())
    // checkpoint values are tied to this snapshot's addresses — a marker
    // records the version; a moved table invalidates stale checkpoints
    val marker = new Path(ckptPath, "_GRAFT_CKPT_VERSION")
    val markerOk = fs.exists(marker) && {
      val in = fs.open(marker)
      val s = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
      s.trim == m0.version.toString
    }
    if (fs.exists(ckptPath) && !markerOk) fs.delete(ckptPath, true)
    if (!fs.exists(marker)) {
      fs.mkdirs(ckptPath)
      val out = fs.create(marker, true)
      try out.write(m0.version.toString.getBytes("UTF-8")) finally out.close()
    }
    val dataSchema = m0.schema
    val outSchema = StructType(
      org.apache.spark.sql.types.StructField("addr",
        org.apache.spark.sql.types.LongType, nullable = false) +: newCols.fields)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    // "done" = marker AND at least one data file: a prior run that crashed
    // AFTER the assembly renamed this fragment's parts away (leaving only
    // _SUCCESS) must recompute, or the commit would silently miss every one
    // of this fragment's addresses (rows would read NULL)
    def fragDone(fragDir: Path): Boolean =
      fs.exists(new Path(fragDir, "_SUCCESS")) &&
        fs.listStatus(fragDir).exists(s =>
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    for (f <- m0.fragments) {
      val fragDir = new Path(ckptPath, s"frag-${f.id}")
      if (!fragDone(fragDir)) {
        val rows = readFragments(spark, tablePath, m0, Seq(f), withRowAddr = true)
        val dataCols = dataSchema.fieldNames
        val computed = rows.mapPartitions { it =>
          it.map { r =>
            val addr = r.getLong(r.fieldIndex(RowAddrCol))
            val orig = new GenericRowWithSchema(
              dataCols.map(c => r.get(r.fieldIndex(c))), dataSchema)
            org.apache.spark.sql.Row.fromSeq(addr +: fn(orig))
          }
        }
        computed.toDF().write.mode(SaveMode.Overwrite).parquet(fragDir.toString)
      }
    }
    // assemble: rename every fragment's part files (names carry per-job
    // UUIDs — no collisions) into one colf dataset and commit it
    val rel = s"columns/colf-${UUID.randomUUID().toString.take(8)}"
    val colfDir = new Path(new Path(tablePath), rel)
    fs.mkdirs(colfDir)
    for (f <- m0.fragments) {
      val fragDir = new Path(ckptPath, s"frag-${f.id}")
      fs.listStatus(fragDir).iterator.map(_.getPath)
        .filter(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
        .foreach(q => fs.rename(q, new Path(colfDir, q.getName)))
    }
    val m = commitColumnFilesDir(spark, tablePath, m0, rel, newCols.fieldNames.toSeq)
    fs.delete(ckptPath, true)
    m
  }

  /** ALTER COLUMNS (reference `alter_columns`,
    * `rust/lance/src/dataset/schema_evolution.rs:451`):
    *
    *  - **rename** is METADATA-ONLY and keeps existing indices valid: data
    *    files keep their on-file (physical) names — the manifest records the
    *    mapping as `graft.physical` field metadata and reads project
    *    physical → logical (the Spark-side analogue of the reference's
    *    field-id indirection). Index directories are keyed by the physical
    *    name, so a pre-rename BTREE/LABEL_LIST/vector index keeps serving
    *    the renamed column. O(1) IO at any table size.
    *  - **cast** rewrites the data (as the reference does — the column's
    *    bytes change), preserving stable row ids through the rewrite and
    *    materializing DVs/supplemental columns; fragment-keyed index
    *    coverage is invalidated naturally (new fragment ids), so index
    *    consumers fall back to flat paths until rebuilt.
    */
  /** Nullability toggles (reference `AlterColumn.nullable`,
    * `schema_evolution.rs` — part of `alter_columns`): relaxing
    * (non-null → nullable) is a pure metadata commit; tightening requires
    * ONE column-pruned scan proving no nulls exist, then commits metadata
    * only. Dotted paths address nested struct fields. The tightening
    * proof is guarded against concurrent data changes (a null appended
    * between proof and commit would falsify the constraint). */
  def alterNullability(spark: SparkSession, tablePath: String,
                       changes: Map[String, Boolean]): GraftManifest = {
    require(changes.nonEmpty, "no nullability changes")
    val m0 = loadManifest(spark, tablePath)
    def pathOf(name: String): Seq[String] =
      if (m0.schema.fieldNames.contains(name)) Seq(name) else SchemaPaths.split(name)
    // does the addressed path cross an array? (struct-in-array fields can
    // RELAX — metadata-only — but a no-null proof over elements is not a
    // simple column scan, so tightening is refused, not mis-proven)
    def crossesArray(st: StructType, path: Seq[String]): Boolean =
      st.fields.find(_.name == path.head) match {
        case None => false
        case Some(_) if path.size == 1 => false
        case Some(f) => f.dataType match {
          case inner: StructType => crossesArray(inner, path.tail)
          case org.apache.spark.sql.types.ArrayType(_, _) => true
          case _ => false
        }
      }
    val tightened = changes.collect { case (name, false) => name }.toSeq
    if (tightened.nonEmpty) {
      tightened.foreach(n => require(!crossesArray(m0.schema, pathOf(n)),
        s"cannot tighten $n: array-element nullability has no scan proof"))
      // ONE combined scan proves every tightened column; exact top-level
      // names win over dotted-path interpretation (backtick-quoted), the
      // same resolution rule the schema update below applies
      def proofCol(name: String): Column =
        if (m0.schema.fieldNames.contains(name)) col(s"`$name`") else col(name)
      val aggs = tightened.map(n =>
        sum(when(proofCol(n).isNull, 1L).otherwise(0L)).as(n))
      val row = read(spark, tablePath, Some(m0.version))
        .agg(aggs.head, aggs.tail: _*).head()
      tightened.zipWithIndex.foreach { case (n, i) =>
        val nulls = if (row.isNullAt(i)) 0L else row.getLong(i)
        require(nulls == 0L, s"cannot mark $n non-nullable: null values exist")
      }
    }
    DmlTestHooks.beforeCommit("alter_nullability")
    def setNullable(st: StructType, path: Seq[String], nb: Boolean): StructType = {
      require(st.fieldNames.contains(path.head), s"no column ${path.head}")
      StructType(st.fields.map { f =>
        if (f.name != path.head) f
        else if (path.size == 1) f.copy(nullable = nb)
        else f.dataType match {
          case inner: StructType =>
            f.copy(dataType = setNullable(inner, path.tail, nb))
          case org.apache.spark.sql.types.ArrayType(inner: StructType, cn) =>
            f.copy(dataType = org.apache.spark.sql.types.ArrayType(
              setNullable(inner, path.tail, nb), cn))
          case other => throw new IllegalArgumentException(
            s"${path.head} is ${other.simpleString}, not a struct")
        }
      })
    }
    commitLoop(spark, tablePath, {
      case Some(base) =>
        // the no-null proof ran against m0's EXACT row set; any concurrent
        // change to data OR deletion state (a restore can resurrect a
        // DV-deleted null with the same fragment ids) falsifies it — abort
        if (tightened.nonEmpty &&
            (base.fragments != m0.fragments || base.dvFiles != m0.dvFiles))
          throw new IllegalStateException(
            s"alter nullability conflict: data changed concurrently " +
              s"(v${m0.version} -> v${base.version}) — retry")
        val schema2 = changes.foldLeft(base.schema) { case (st, (name, nb)) =>
          setNullable(st, pathOf(name), nb)
        }
        base.copy(version = base.version + 1, operation = "alter",
          schemaJson = schema2.json, parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }

  def alterColumns(spark: SparkSession, tablePath: String,
                   renames: Map[String, String] = Map.empty,
                   casts: Map[String, String] = Map.empty): GraftManifest = {
    var m = loadManifest(spark, tablePath)
    if (renames.nonEmpty) {
      // group renames by their PARENT path: each struct level is renamed in
      // ONE pass (swap-renames at the same level can't collide mid-apply);
      // targets are bare names — a rename never moves a field across levels
      // (reference nested ColumnAlteration semantics)
      renames.foreach { case (from, to) =>
        require(!to.contains("."),
          s"rename target must be a bare name (renames stay in place): $to")
        require(from.nonEmpty && to.nonEmpty, "empty column name")
        // the rename route must not re-open the reserved-name hole the
        // write/create routes guard
        require(requireNotReserved(Seq(to)).isEmpty,
          s"reserved graft column name: $to")
      }
      m = commitLoop(spark, tablePath, {
        case Some(base) =>
          // an exact top-level field name wins over path interpretation, so
          // a (quoted) column literally named "a.b" stays addressable
          def asPath(name: String): Seq[String] =
            if (base.schema.fieldNames.contains(name)) Seq(name)
            else SchemaPaths.split(name)
          val byParent: Map[Seq[String], Map[String, String]] =
            renames.toSeq.groupBy { case (from, _) => asPath(from).init }
              .map { case (par, rs) =>
                par -> rs.map { case (f2, t2) => asPath(f2).last -> t2 }.toMap
              }
          // rename every addressed level in one recursive pass
          def renameLevel(st: StructType, prefix: Seq[String]): StructType = {
            val level = byParent.getOrElse(prefix, Map.empty)
            level.foreach { case (from, to) =>
              require(st.fieldNames.contains(from),
                s"no column ${(prefix :+ from).mkString(".")}")
              require(!st.fieldNames.contains(to) || level.contains(to),
                s"column ${(prefix :+ to).mkString(".")} already exists")
              // a new logical name must not shadow a SIBLING's physical
              // (on-file) name: the parquet scan would bind it to that
              // field's stored data (ADVICE r4). Renaming back to the
              // field's OWN physical name is fine, and so is a sibling
              // being renamed AWAY in this same batch (swap-renames) —
              // restore maps physical→logical per FIELD, so on-file
              // uniqueness (which renames never change) keeps it sound.
              val physClash = st.fields.exists(f =>
                f.name != from && SchemaPaths.physName(f) == to &&
                  !level.contains(f.name))
              require(!physClash, s"column $to collides with a sibling's " +
                "on-file (physical) name")
            }
            val fields = st.fields.map { f =>
              val renamed = level.get(f.name) match {
                case None => f
                case Some(to) =>
                  val mb = new org.apache.spark.sql.types.MetadataBuilder()
                    .withMetadata(f.metadata)
                    .putString(GraftManifest.PhysicalKey, SchemaPaths.physName(f))
                  org.apache.spark.sql.types.StructField(to, f.dataType, f.nullable, mb.build())
              }
              renamed.dataType match {
                case inner: StructType =>
                  renamed.copy(dataType = renameLevel(inner, prefix :+ f.name))
                case org.apache.spark.sql.types.ArrayType(inner: StructType, n) =>
                  renamed.copy(dataType = org.apache.spark.sql.types.ArrayType(
                    renameLevel(inner, prefix :+ f.name), n))
                case _ => renamed
              }
            }
            require(fields.map(_.name).distinct.length == fields.length,
              s"rename collision at ${if (prefix.isEmpty) "<top>" else prefix.mkString(".")}: " +
                renames.mkString(","))
            StructType(fields)
          }
          val out = renameLevel(base.schema, Nil)
          // every addressed parent path must have resolved to a struct level
          byParent.keys.foreach { par =>
            if (par.nonEmpty) require(SchemaPaths.fieldAt(base.schema, par).exists(_.dataType match {
              case _: StructType => true
              case org.apache.spark.sql.types.ArrayType(_: StructType, _) => true
              case _ => false
            }), s"no struct at ${par.mkString(".")}")
          }
          base.copy(version = base.version + 1, operation = "alter",
            schemaJson = out.json, parent = base.version)
        case None => throw new IllegalArgumentException(s"no table at $tablePath")
      })
    }
    if (casts.nonEmpty) {
      // exact top-level names (even with a literal '.') win over paths
      def castPath(c: String): Seq[String] =
        if (m.schema.fieldNames.contains(c)) Seq(c) else SchemaPaths.split(c)
      casts.keys.foreach(c => require(
        SchemaPaths.fieldAt(m.schema, castPath(c)).isDefined, s"no column $c"))
      val carryIds = m.hasRowIds && m.fragments.nonEmpty
      val live = readManifest(spark, tablePath, m, withRowAddr = false,
        withRowId = carryIds)
      // nested cast targets rebuild the enclosing struct with the cast at
      // the addressed path (null-preserving at every struct level)
      val cast = casts.foldLeft(live) { case (d, (c, ty)) =>
        val path = castPath(c)
        if (path.length == 1) d.withColumn(path.head, d(s"`${path.head}`").cast(ty))
        else {
          val topType = SchemaPaths.cleanType(m.schema(path.head).dataType)
          d.withColumn(path.head, castAtExpr(col(path.head), topType, path.tail, ty))
        }
      }
      var staged = stageFragments(spark, tablePath, cast)
      m = commitLoop(spark, tablePath, {
        case Some(base) =>
          if (base.version != m.version) throw new IllegalStateException(
            s"alter conflict: table moved from v${m.version} to v${base.version}")
          val (frags0, paths) = assignIds(spark, staged, base.maxFragmentId + 1,
            base.version + 1, storedRowIds = carryIds)
          // cast rewrite changes values: stale-posting hazard (see update)
          val frags = frags0.map(_.copy(lossyLineage = true))
          staged = paths
          // rewrite materializes logical names — rename metadata drops out
          val newSchema = casts.foldLeft(cleanSchema(base.schema)) { case (sch, (c, ty)) =>
            SchemaPaths.rewriteAt(sch, castPath(c))(f =>
              Some(org.apache.spark.sql.types.StructField(
                f.name, org.apache.spark.sql.types.DataType.fromDDL(ty), f.nullable)))
          }
          base.copy(version = base.version + 1, operation = "alter",
            schemaJson = newSchema.json, fragments = frags,
            dvFiles = Nil, numDeleted = 0L, columnFiles = Nil,
            parent = base.version)
        case None => throw new IllegalArgumentException(s"no table at $tablePath")
      })
    }
    m
  }

  /** Cast the (possibly nested) field at `path` inside a LOGICAL-named value
    * to DDL type `ty`, rebuilding each enclosing struct and preserving nulls
    * at every level (a null struct must stay null, not become a struct of
    * nulls). */
  private def castAtExpr(e: org.apache.spark.sql.Column,
                         dt: org.apache.spark.sql.types.DataType,
                         path: Seq[String], ty: String): org.apache.spark.sql.Column =
    if (path.isEmpty) e.cast(ty)
    else dt match {
      case st: StructType =>
        val rebuilt = struct(st.fields.toSeq.map { f =>
          if (f.name == path.head)
            castAtExpr(e.getField(f.name), f.dataType, path.tail, ty).as(f.name)
          else e.getField(f.name).as(f.name)
        }: _*)
        val target = SchemaPaths.nullableAll(
          SchemaPaths.rewriteAt(st, path)(f => Some(org.apache.spark.sql.types.StructField(
            f.name, org.apache.spark.sql.types.DataType.fromDDL(ty), f.nullable))))
        when(e.isNull, lit(null).cast(target)).otherwise(rebuilt)
      case org.apache.spark.sql.types.ArrayType(st: StructType, _) =>
        org.apache.spark.sql.functions.transform(e, x => castAtExpr(x, st, path, ty))
      case other => throw new IllegalArgumentException(
        s"cannot address ${path.mkString(".")} inside ${other.simpleString}")
    }

  /** Metadata-only column drop: the parquet scan prunes to the manifest
    * schema, so data files need no rewrite (reference `drop_columns`,
    * metadata-only thanks to field ids). Dotted paths drop NESTED fields —
    * also metadata-only: the requested (physical) scan schema omits the
    * subfield and parquet schema clipping prunes it file-side. */
  def dropColumns(spark: SparkSession, tablePath: String, names: Seq[String]): GraftManifest =
    commitLoop(spark, tablePath, {
      case Some(base) =>
        // exact top-level names (even containing a literal '.') drop as
        // whole columns; everything else is a nested path
        val (tops, nested) = names.partition(n =>
          base.schema.fieldNames.contains(n) || !n.contains("."))
        tops.foreach(n => require(base.schema.fieldNames.contains(n), s"no column $n"))
        val afterTops = StructType(base.schema.fields.filterNot(f => tops.contains(f.name)))
        require(afterTops.fields.nonEmpty, "cannot drop every column")
        val keep = nested.foldLeft(afterTops) { (sch, n) =>
          SchemaPaths.rewriteAt(sch, SchemaPaths.split(n))(_ => None)
        }
        val cf = base.columnFiles
          .map(c => c.copy(columns = c.columns.filterNot(names.contains)))
          .filter(_.columns.nonEmpty)
        base.copy(version = base.version + 1, operation = "project",
          schemaJson = keep.json, columnFiles = cf, parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })

  // ---------------------------------------------------------------- branches

  /** Create branch `name` from `fromVersion` (default: latest) of main
    * (reference `create_branch`, Python `dataset.py:539-645`). The branch
    * starts as a copy of the source manifest at the SAME version number;
    * later branch commits increment independently of main. Data files are
    * shared — branching is metadata-only, O(1) IO. */
  def createBranch(spark: SparkSession, tablePath: String, name: String,
                   fromVersion: Option[Long] = None): GraftManifest = {
    require(name.nonEmpty && !name.contains("/"), s"bad branch name: $name")
    require(!branches(spark, tablePath).contains(name), s"branch $name already exists")
    val src = loadManifest(spark, tablePath, fromVersion)
    val m = src.copy(operation = "create_branch", parent = src.version)
    if (!tryCommit(spark, tablePath, m, Some(name)))
      throw new IllegalStateException(s"branch $name already exists")
    m
  }

  def branches(spark: SparkSession, tablePath: String): Seq[String] = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    val dir = new Path(t, "_branches")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Snapshot read of a branch head (or a specific branch version). */
  def readBranch(spark: SparkSession, tablePath: String, name: String,
                 version: Option[Long] = None): DataFrame =
    readManifest(spark, tablePath,
      loadManifest(spark, tablePath, version, Some(name)), withRowAddr = false)

  /** Append to a branch: fragments land in the shared data dir; only the
    * branch lineage references them. */
  def writeBranch(df: DataFrame, tablePath: String, name: String): GraftManifest = {
    val spark = df.sparkSession
    val bm = loadManifest(spark, tablePath, None, Some(name))
    var staged = stageFragments(spark, tablePath, toPhysical(df, bm))
    commitLoop(spark, tablePath, {
      case Some(base) =>
        val (frags, paths) = assignIds(spark, staged, base.maxFragmentId + 1,
          base.version + 1, base.nextRowId)
        staged = paths
        base.copy(version = base.version + 1, operation = "append",
          fragments = base.fragments ++ frags, parent = base.version,
          nextRowId = base.nextRowId + frags.map(_.rows).sum)
      case None => throw new IllegalArgumentException(s"no branch $name at $tablePath")
    }, branch = Some(name))
  }

  /** Delete a branch ref (metadata only; shared data files stay). */
  def dropBranch(spark: SparkSession, tablePath: String, name: String): Unit = {
    val t = new Path(tablePath)
    fs(spark, t).delete(new Path(t, s"_branches/$name"), true)
  }

  /** Delete a branch (reference `Branches.delete`, `dataset.py:5010`):
    * removes the branch's manifest lineage, making fragments referenced
    * ONLY by the branch cleanup-eligible; data files shared with main (or
    * other branches) survive because [[cleanupOldVersions]] computes
    * referenced files across every remaining lineage. Errors on an unknown
    * name. */
  def deleteBranch(spark: SparkSession, tablePath: String, name: String): Unit = {
    require(branches(spark, tablePath).contains(name), s"no branch $name")
    dropBranch(spark, tablePath, name)
  }

  // ------------------------------------------------------- tags & cleanup

  /** Named version refs (reference tags, Python `dataset.py:539-645`).
    * Creating over an existing name errors (reference `Tags.create`) — use
    * [[updateTag]] to retarget. */
  def tag(spark: SparkSession, tablePath: String, name: String, version: Long): Unit = {
    require(!tags(spark, tablePath).contains(name),
      s"tag $name already exists (use updateTag to retarget)")
    writeTagRef(spark, tablePath, name, version)
  }

  /** Retarget an existing tag to a new version (reference `Tags.update`,
    * `dataset.py:4969`) — the "promote `prod` to the new version" workflow
    * as ONE atomic replace, no delete+recreate window in which the ref is
    * missing. */
  def updateTag(spark: SparkSession, tablePath: String, name: String, version: Long): Unit = {
    require(tags(spark, tablePath).contains(name), s"no tag $name")
    writeTagRef(spark, tablePath, name, version)
  }

  private def writeTagRef(spark: SparkSession, tablePath: String, name: String,
                          version: Long): Unit = {
    require(versions(spark, tablePath).contains(version), s"no version $version")
    val t = new Path(tablePath)
    val f = fs(spark, t)
    f.mkdirs(new Path(t, "_tags"))
    val out = f.create(new Path(t, s"_tags/$name.json"), true)
    try out.write(s"""{"version": $version}""".getBytes("UTF-8")) finally out.close()
  }

  def tags(spark: SparkSession, tablePath: String): Map[String, Long] = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    val dir = new Path(t, "_tags")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json")).map { s =>
      val in = f.open(s.getPath)
      val txt = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
      val v = "\\d+".r.findFirstIn(txt).get.toLong
      s.getPath.getName.stripSuffix(".json") -> v
    }.toMap
  }

  /** Delete a tag (reference `Tags.delete`, `dataset.py:4957`): the tagged
    * version loses its cleanup protection; data is untouched. */
  def deleteTag(spark: SparkSession, tablePath: String, name: String): Unit = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    if (!f.delete(new Path(t, s"_tags/$name.json"), false))
      throw new IllegalArgumentException(s"no tag $name")
  }

  def readTag(spark: SparkSession, tablePath: String, name: String): DataFrame =
    read(spark, tablePath, Some(tags(spark, tablePath).getOrElse(name,
      throw new IllegalArgumentException(s"no tag $name"))))

  /** Removal statistics returned by [[cleanupOldVersions]] (reference
    * `CleanupStats` / `RemovalStats`, `cleanup.rs` — `old_versions`,
    * `bytes_removed`). */
  case class CleanupStats(oldVersionsRemoved: Long, filesRemoved: Long,
                          bytesRemoved: Long)

  /** GC: drop manifests older than the last `keepLast` versions and delete
    * data/DV files no remaining manifest references (reference
    * `cleanup_old_versions`, `cleanup.rs`). Tagged versions are always
    * kept; with `errorIfTaggedOldVersions` (reference
    * `error_if_tagged_old_versions`, default TRUE) a tag protecting an
    * otherwise-droppable old version fails the call instead of silently
    * retaining — the caller must delete the tag or opt out, so "why is my
    * storage not shrinking" is an error message, not a mystery. Returns
    * the removal statistics. */
  def cleanupOldVersions(spark: SparkSession, tablePath: String, keepLast: Int,
                         unverifiedGraceMillis: Long = 7L * 24 * 3600 * 1000,
                         errorIfTaggedOldVersions: Boolean = true): CleanupStats = {
    val t = new Path(tablePath)
    val f = fs(spark, t)
    val vs = versions(spark, tablePath)
    val tagMap = tags(spark, tablePath)
    val tagged = tagMap.values.toSet
    val taggedOld = vs.dropRight(keepLast).toSet.intersect(tagged)
    if (errorIfTaggedOldVersions && taggedOld.nonEmpty) {
      val blocking = tagMap.filter { case (_, v) => taggedOld.contains(v) }
        .map { case (n, v) => s"$n -> v$v" }.toSeq.sorted
      throw new IllegalArgumentException(
        s"cleanup: old versions are protected by tags (${blocking.mkString(", ")}); " +
          "delete the tags or pass errorIfTaggedOldVersions = false " +
          "(error_if_tagged_old_versions => false) to retain them silently")
    }
    // WAL retention (ADVICE r12): an overwrite/restore manifest committed
    // after a live WAL generation's base is that generation's FENCE —
    // dropping it would let a later flush silently resurrect rows a
    // truncation removed. Open/Sealed generations additionally pin FULL
    // history since their base: crashed-flush recovery tells dead copies
    // from import material by whether any manifest since base referenced
    // a file. Both retentions expire the moment the generation is
    // flushed/merged — generations live minutes, not days.
    val keepBase = vs.takeRight(keepLast).toSet ++ tagged
    val candidates = vs.filterNot(keepBase)
    val (fullSince, fenceSince) = WalIngest.retentionBases(spark, tablePath)
    val walKeep = candidates.filter { v =>
      fullSince.exists(v > _) ||
        (fenceSince.exists(v > _) && scala.util.Try(
          loadManifest(spark, tablePath, Some(v)).operation).toOption
          .exists(op => op == "overwrite" || op == "restore"))
    }.toSet
    val keep = keepBase ++ walKeep
    val drop = candidates.filterNot(walKeep)
    var filesRemoved = 0L
    var bytesRemoved = 0L
    // nothing to drop AND the unverified grace is in force ⇒ the sweep
    // could not delete anything — skip the IO. A zero grace (reference
    // `delete_unverified=true`) must still sweep orphaned staged files
    // even when every version is retained.
    if (drop.isEmpty && unverifiedGraceMillis > 0)
      return CleanupStats(0L, 0L, 0L)
    // referenced files across surviving manifests — including EVERY branch
    // version (branches share the data dir; dropping a branch's files would
    // corrupt it)
    val survivors = keep.toSeq.map(v => loadManifest(spark, tablePath, Some(v))) ++
      branches(spark, tablePath).flatMap { b =>
        versions(spark, tablePath, Some(b))
          .map(v => loadManifest(spark, tablePath, Some(v), Some(b)))
      } ++
      // detached snapshots are alive until dropDetached releases their
      // handle — their fragments (shared base + detached-only) stay
      // referenced or the sweep would corrupt the snapshot. Survivors are
      // STRICT (ADVICE r13): only a FileNotFoundException — the handle was
      // dropped by a concurrent dropDetached between the listing and here —
      // may skip a detached manifest; any other load failure (transient IO,
      // parse error on a LIVE snapshot) must abort the cleanup, or the
      // sweep under-counts `referenced` and deletes the snapshot's fragments
      detachedVersions(spark, tablePath).flatMap { v =>
        try Some(loadManifest(spark, tablePath, Some(v)))
        catch { case _: java.io.FileNotFoundException => None }
      }
    val referenced = survivors.flatMap { m =>
      m.fragments.map(_.path) ++ m.dvFiles ++ m.columnFiles.map(_.path) ++
        // old-address DV sidecars rewrite outputs still serve deferred
        // index candidates from — referenced even though no manifest's
        // dvFiles lists them anymore
        m.fragments.flatMap(_.srcDvFiles)
    }.toSet
    // files referenced ONLY by dropped manifests are VERIFIED deletable; a
    // file in NO manifest at all may be a concurrent writer's
    // staged-but-uncommitted fragment — the reference's cleanup only
    // removes such "unverified" files past a grace age (`delete_unverified`
    // defaults false inside 7 days, `cleanup.rs`), and so does this sweep.
    // Without the grace, an auto-cleanup hook firing mid-stage would delete
    // another writer's in-flight files: lost data on exactly the
    // concurrent-commit tables this format supports.
    // tolerant loads: a CONCURRENT cleanup may have deleted a dropped
    // manifest between our versions() listing and here — skipping it only
    // narrows the verified-deletable set (safe); survivors stay strict (a
    // missing survivor would under-count `referenced` and must abort).
    val droppedReferenced = drop
      .flatMap(v => scala.util.Try(loadManifest(spark, tablePath, Some(v))).toOption)
      .flatMap { m =>
        m.fragments.map(_.path) ++ m.dvFiles ++ m.columnFiles.map(_.path) ++
          m.fragments.flatMap(_.srcDvFiles)
      }.toSet
    val now = System.currentTimeMillis()
    def deletable(rel: String, abs: String, mtime: Long): Boolean =
      !referenced.contains(rel) && !referenced.contains(abs) &&
        (droppedReferenced.contains(rel) || droppedReferenced.contains(abs) ||
          now - mtime > unverifiedGraceMillis)
    val handler = CommitHandler.forSession(spark)
    // a kept version BELOW a dropped one (tag/WAL-pinned survivor) means
    // this sweep punches a HOLE in the lineage numbering — pin the gap
    // sentinel FIRST (crash-safe order: sentinel before any delete) so
    // latestVersion's forward probe knows never to trust contiguity here
    if (drop.nonEmpty && keep.exists(_ < drop.max)) {
      val out = f.create(gapSentinelPath(t, None), /*overwrite=*/ true)
      out.close()
    }
    drop.foreach { v =>
      val p = manifestPath(t, v)
      f.delete(p, false)
      handler.forget(p) // external claim state must not outlive the manifest
    }
    // delete unreferenced fragment files / DV dirs
    def sweep(sub: String): Unit = {
      val dir = new Path(t, sub)
      if (f.exists(dir)) f.listStatus(dir).foreach { txn =>
        if (txn.isDirectory) {
          var removed = false
          f.listStatus(txn.getPath).foreach { file =>
            val rel = relativize(file.getPath)
            if (file.getPath.getName.endsWith(".parquet") &&
                deletable(rel, file.getPath.toString, file.getModificationTime)) {
              filesRemoved += 1; bytesRemoved += file.getLen
              f.delete(file.getPath, false)
              removed = true
            }
          }
          // remove the txn dir only when we emptied it ourselves or it aged
          // past the grace — an in-flight write's dir (only _temporary
          // inside, no parquet yet) must survive
          val leftovers = f.listStatus(txn.getPath)
          if (leftovers.forall(!_.getPath.getName.endsWith(".parquet")) &&
              (removed || now - txn.getModificationTime > unverifiedGraceMillis)) {
            f.delete(txn.getPath, true)
          }
        }
      }
    }
    sweep("data")
    // DV / supplemental-column "files" are directories: referenced by their
    // dir-relative path
    for (sub <- Seq("deletes", "columns")) {
      val dir = new Path(t, sub)
      if (f.exists(dir)) f.listStatus(dir).foreach { d =>
        val rel = s"$sub/${d.getPath.getName}"
        if (deletable(rel, d.getPath.toString, d.getModificationTime)) {
          val cs = f.getContentSummary(d.getPath)
          filesRemoved += cs.getFileCount; bytesRemoved += cs.getLength
          f.delete(d.getPath, true)
        }
      }
    }
    // multi-base sweep: based fragments record ABSOLUTE paths; sweep each
    // registered base's data dir with the same referenced-set rule. A base
    // URI must not be shared between tables (reference bases are
    // per-dataset) — the sweep assumes every file under <base>/data belongs
    // to this table's lineage.
    val baseDirs = survivors.flatMap(_.bases.values).distinct
    baseDirs.foreach { uri =>
      val broot = new Path(uri)
      val bfs = fs(spark, broot)
      val dir = new Path(broot, "data")
      if (bfs.exists(dir)) bfs.listStatus(dir).foreach { txn =>
        if (txn.isDirectory) {
          var removed = false
          bfs.listStatus(txn.getPath).foreach { file =>
            val q = bfs.makeQualified(file.getPath).toString
            if (file.getPath.getName.endsWith(".parquet") &&
                deletable(file.getPath.toString, q, file.getModificationTime)) {
              filesRemoved += 1; bytesRemoved += file.getLen
              bfs.delete(file.getPath, false)
              removed = true
            }
          }
          if (bfs.listStatus(txn.getPath).forall(!_.getPath.getName.endsWith(".parquet")) &&
              (removed || now - txn.getModificationTime > unverifiedGraceMillis)) {
            bfs.delete(txn.getPath, true)
          }
        }
      }
    }
    CleanupStats(drop.length.toLong, filesRemoved, bytesRemoved)
  }

  /** Register named multi-base storage locations (reference Python
    * `add_bases`, `dataset.py:2154`; manifest `base_paths`,
    * `rust/lance-table/src/format/manifest.rs:103,562`): metadata-only
    * commit. Subsequent `write(..., base = Some(name))` calls land their
    * fragments under the base's URI — one logical table spread across
    * buckets / storage classes. A name, once registered, cannot be
    * re-pointed (files already reference it). */
  def addBases(spark: SparkSession, tablePath: String,
               newBases: Map[String, String]): GraftManifest =
    commitLoop(spark, tablePath, {
      case Some(base) =>
        newBases.foreach { case (n, uri) =>
          require(n.nonEmpty && !n.contains("/"), s"bad base name: $n")
          require(uri.nonEmpty, s"empty base uri for $n")
          require(!base.bases.get(n).exists(_ != uri),
            s"base $n already registered at ${base.bases.getOrElse(n, "")}")
        }
        base.copy(version = base.version + 1, operation = "add_bases",
          bases = base.bases ++ newBases, parent = base.version)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })

  /** Shallow clone (reference `shallow_clone`, `rust/lance/src/dataset.rs:1951`):
    * a NEW table at `destPath` whose version-1 manifest references the
    * SOURCE's data/DV/supplemental files by absolute qualified path —
    * metadata-only, O(1) IO at any table size, data files shared. Branches
    * cover same-path forking; clone covers forking to a DIFFERENT path.
    *
    * Later mutations of the clone land under `destPath` (fragment ids keep
    * growing from the source's high-water marks, so derived `frag-<id>`
    * file names never collide with shared source files).
    * `cleanupOldVersions` on the clone sweeps only `destPath` — shared
    * source files are out of reach by construction. Cleaning or deleting
    * the SOURCE can drop files a clone still references — the reference's
    * shallow-clone carries the same caveat. */
  def shallowClone(spark: SparkSession, srcPath: String, destPath: String,
                   version: Option[Long] = None): GraftManifest = {
    val srcT = new Path(srcPath)
    val f = fs(spark, srcT)
    val qSrc = f.makeQualified(srcT)
    val src = loadManifest(spark, srcPath, version)
    def abs(rel: String): String = {
      val p = new Path(rel)
      (if (p.isAbsolute) f.makeQualified(p) else new Path(qSrc, rel)).toString
    }
    // blob descriptors are ROW DATA — their table-relative sidecar paths
    // can't be rewritten metadata-only like fragment paths. The clone's
    // manifest records the source root(s) instead; [[BlobStore.readRange]]
    // falls back through them when `destPath/<file>` doesn't exist.
    // Clone-of-clone keeps the whole chain (each hop may have packed its
    // own blobs), newline-separated (newlines can't appear in URIs).
    val priorRoots = src.config.get(BlobStore.BlobRootsKey)
      .toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)
    val blobRoots = (qSrc.toString +: priorRoots).distinct
    val m = src.copy(
      version = 1L, operation = "shallow_clone", parent = 0L,
      fragments = src.fragments.map(fr => fr.copy(path = abs(fr.path))),
      dvFiles = src.dvFiles.map(abs),
      columnFiles = src.columnFiles.map(cf => cf.copy(path = abs(cf.path))),
      config = src.config + (BlobStore.BlobRootsKey -> blobRoots.mkString("\n")),
      // index dirs do not travel with a clone: drop the entries (the uuid
      // guard would veto them anyway — this keeps the inventory honest)
      indices = Nil)
    if (!tryCommit(spark, destPath, m))
      throw new IllegalStateException(s"graft table already exists at $destPath")
    m
  }

  /** Commit (or replace) an index's metadata entry as its own table version
    * (reference: index builds are transactions that commit `IndexMetadata`
    * into the manifest, `format/index.rs`). From the first such commit the
    * manifest is the authoritative index inventory for the lineage — the
    * optimizer stops probing the filesystem for markers entirely. */
  def commitIndex(spark: SparkSession, tablePath: String, meta: IndexMeta): GraftManifest =
    commitLoop(spark, tablePath, {
      case Some(base) =>
        val indices = base.indices.filterNot(_.name == meta.name) :+ meta
        // an index commit is also when defer provenance can RETIRE: once
        // every committed index covers a rewrite output, no search needs
        // its old-address chain anymore — dropping srcFragIds/srcDvFiles
        // lets cleanup reclaim the DV sidecars instead of pinning them for
        // the fragment's lifetime
        val frags = base.fragments.map { f =>
          if ((f.srcFragIds.nonEmpty || f.srcDvFiles.nonEmpty) &&
              indices.forall(_.fragmentIds.contains(f.id)))
            f.copy(srcFragIds = Nil, srcDvFiles = Nil,
              rootFragIds = Nil, lossyLineage = false)
          else f
        }
        base.copy(version = base.version + 1,
          operation = "create_index", parent = base.version,
          config = base.config + (GraftManifest.IndicesCommittedKey -> "true"),
          fragments = frags, indices = indices)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })

  /** Remove an index's manifest entry (DROP INDEX). The directory is left
    * on disk for the caller to delete; without an entry it is invisible to
    * the optimizer (the lineage stays authoritative). */
  def dropIndexEntry(spark: SparkSession, tablePath: String, name: String): GraftManifest =
    commitLoop(spark, tablePath, {
      case Some(base) => base.copy(version = base.version + 1,
        operation = "drop_index", parent = base.version,
        indices = base.indices.filterNot(_.name == name))
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })

  /** Restore an old version as a new commit (reference `restore`). */
  def restore(spark: SparkSession, tablePath: String, version: Long): GraftManifest = {
    val old = loadManifest(spark, tablePath, Some(version))
    commitLoop(spark, tablePath, {
      case Some(base) => old.copy(version = base.version + 1, operation = "restore",
        parent = base.version,
        // opStats/txnProperties describe exactly ONE commit — the restored
        // version's DML stats must not reappear on the restore row in history
        opStats = Map.empty, txnProperties = Map.empty)
      case None => throw new IllegalArgumentException(s"no table at $tablePath")
    })
  }
}
