package graft.format

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Lazy blob storage (reference `take_blobs` + `BlobFile`,
  * `rust/lance/src/dataset/blob.rs:42-168`): multi-GB payloads must be
  * seekable without materializing the column — reading a 4 KB video header
  * must cost 4 KB of IO, not a 2 GB row.
  *
  * Spark-first layout: [[packBlobs]] replaces a `BINARY` column with a tiny
  * descriptor struct `(file, offset, length)` and streams the payloads into
  * packed sidecar `.bin` files, one per input partition — executor-parallel
  * sequential writes, no shuffle, bounded memory (one payload at a time).
  * The table then stores only descriptors: scans, takes and shuffles move
  * bytes proportional to the DESCRIPTOR, and [[readRange]] serves any byte
  * span of any blob with a single seek+read. The reference reaches the
  * same shape with its blob encoding + `BlobFile` handles; here the
  * descriptor is an ordinary struct column, so every existing operator
  * (take, merge, filters on sibling columns) works on blob tables
  * unchanged. */
object BlobStore {

  /** Manifest-config key holding newline-separated fallback roots for
    * relative sidecar paths — stamped by [[GraftTable.shallowClone]], whose
    * metadata-only contract cannot rewrite the descriptor ROW DATA the way
    * it rewrites fragment paths. */
  val BlobRootsKey = "graft.blob.roots"

  /** A resolved blob handle: `file` is table-root-relative; the payload
    * occupies `[offset, offset + length)` of that sidecar file. */
  case class BlobRef(addr: Long, file: String, offset: Long, length: Long)

  private val rootsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** Drop the cached blob-root chain for a table. Called from the commit
    * path (GraftTable.tryCommit) so a drop/recreate, overwrite, or
    * re-clone at the same path never serves stale roots for the rest of
    * the JVM's lifetime. Cross-process staleness cannot arise: the chain
    * is only consulted for relative descriptors that MISS locally, and a
    * miss re-probes the filesystem per root on every call. */
  private[format] def invalidateRoots(tablePath: String): Unit =
    rootsCache.remove(tablePath)

  val descriptorType: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("offset", LongType, nullable = false),
    StructField("length", LongType, nullable = false)))

  /** Replace `blobCol: BINARY` with its descriptor struct, packing payloads
    * into `.bin` sidecars under `tablePath/blobs/`. Call before
    * [[GraftTable.write]]; the written table is a normal graft table whose
    * blob column costs 3 scalar fields per row to scan. */
  def packBlobs(df: DataFrame, tablePath: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val bi = schema.fieldIndex(blobCol)
    require(schema(bi).dataType == BinaryType,
      s"$blobCol is ${schema(bi).dataType.simpleString}, expected binary")
    val txn = s"blobs/pack-${UUID.randomUUID().toString.take(8)}"
    val outSchema = StructType(schema.fields.updated(bi,
      StructField(blobCol, descriptorType, nullable = schema(bi).nullable)))
    val serConf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val root = tablePath
    val packed = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        // TASK-ATTEMPT-unique file name: a speculative or retried attempt
        // writes its own sidecar instead of truncating one another attempt's
        // descriptors may already reference (losers become orphans)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val relPath = f"$txn/part-$pid%05d-a$attempt.bin"
        val file = new Path(new Path(root), relPath)
        val f = file.getFileSystem(serConf.value)
        val out = f.create(file, true)
        // close on task completion, drained or not — an early-terminated
        // consumer (limit/take) must not leak the handle or lose buffered
        // tail bytes behind committed-looking descriptors
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => out.close()))
        var offset = 0L
        rows.map { r =>
          val payload = r.get(bi)
          val desc: Any =
            if (payload == null) null
            else {
              val bytes = payload.asInstanceOf[Array[Byte]]
              val o = offset
              out.write(bytes)
              offset += bytes.length
              Row(relPath, o, bytes.length.toLong)
            }
          Row.fromSeq(r.toSeq.updated(bi, desc))
        }
      }
    }
    // materialize EXACTLY ONCE and truncate lineage: a later action on the
    // returned frame must never re-run the side-effecting write (a recompute
    // could reorder rows behind already-persisted descriptors); with
    // localCheckpoint, lost blocks fail loudly instead of recomputing
    packed.localCheckpoint()
    packed.count()
    spark.createDataFrame(packed, outSchema)
  }

  /** Resolve the addressed rows' descriptors (reference `take_blobs`)
    * WITHOUT touching payload bytes, which live in the blob files. Under
    * [[GraftTable.take]]'s byte bound (`LocalTake.MaxBytes`) the read is
    * eager, on the driver, and covers every column of the row groups that
    * hold the addresses in O(k) fragments; over it the Spark scan reads
    * only the descriptor struct of those fragments. */
  def takeBlobRefs(spark: SparkSession, tablePath: String, addrs: Seq[Long],
                   blobCol: String): Seq[BlobRef] =
    GraftTable.take(spark, tablePath, addrs)
      // null payloads carry null descriptors — there is no blob to hand out
      .filter(col(blobCol).isNotNull)
      .select(col(GraftTable.RowAddrCol), col(s"$blobCol.file"),
        col(s"$blobCol.offset"), col(s"$blobCol.length"))
      .collect()
      .map(r => BlobRef(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq

  /** [[takeBlobRefs]] by STABLE row ids (reference `take_blobs(ids=...)`,
    * `dataset.py:1500` — ids survive compaction/update, addresses don't):
    * the `_rowid IN` filter rides the addr-prune rewrite when
    * GraftExtensions is installed, so only the O(k) owning fragments are
    * scanned. */
  def takeBlobRefsById(spark: SparkSession, tablePath: String, ids: Seq[Long],
                       blobCol: String): Seq[BlobRef] =
    GraftTable.read(spark, tablePath, withRowAddr = true, withRowId = true)
      .filter(col(GraftTable.RowIdCol).isin(ids: _*))
      .filter(col(blobCol).isNotNull)
      .select(col(GraftTable.RowAddrCol), col(s"$blobCol.file"),
        col(s"$blobCol.offset"), col(s"$blobCol.length"))
      .collect()
      .map(r => BlobRef(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq

  /** [[takeBlobRefs]] by dataset offsets (reference
    * `take_blobs(indices=...)` / `take_blobs_by_indices`): index space =
    * manifest fragment order × physical position, resolved to addresses
    * from the MANIFEST alone (zero scan jobs). Tables with deletion
    * vectors are rejected — a physical offset would silently point past
    * masked rows; use ids there. */
  def takeBlobRefsByIndex(spark: SparkSession, tablePath: String,
                          indices: Seq[Long], blobCol: String): Seq[BlobRef] = {
    val m = GraftTable.loadManifest(spark, tablePath)
    require(m.dvFiles.isEmpty,
      "takeBlobRefsByIndex on a table with deletion vectors is ambiguous; " +
        "take by stable row id instead")
    val bounds = m.fragments.scanLeft(0L)(_ + _.rows)
    val total = bounds.last
    val addrs = indices.map { i =>
      require(i >= 0 && i < total, s"index $i out of [0, $total)")
      val f = bounds.lastIndexWhere(_ <= i)
      (m.fragments(f).id << 32) | (i - bounds(f))
    }
    takeBlobRefs(spark, tablePath, addrs, blobCol)
  }

  /** Read `length` bytes starting `offset` bytes into the blob — ONE
    * seek+read of exactly the requested span (reference `BlobFile.read`).
    * Requests past the end are clamped. */
  def readRange(spark: SparkSession, tablePath: String, ref: BlobRef,
                offset: Long, length: Int): Array[Byte] = {
    require(offset >= 0 && offset <= ref.length, s"offset $offset out of [0, ${ref.length}]")
    val n = math.min(length.toLong, ref.length - offset).toInt
    val conf = spark.sessionState.newHadoopConf()
    val local = new Path(new Path(tablePath), ref.file)
    // shallow clones hold descriptors whose sidecars live under the SOURCE
    // table — fall back through the manifest's recorded blob roots (one
    // existence probe per miss; a point read already pays a seek)
    val p =
      if (new Path(ref.file).isAbsolute || local.getFileSystem(conf).exists(local)) local
      else {
        // roots are stamped once at clone creation and copied forward by
        // every commit — cache per table so repeated point reads don't
        // re-parse the manifest
        val roots = rootsCache.computeIfAbsent(tablePath, _ =>
          GraftTable.loadManifest(spark, tablePath)
            .config.getOrElse(BlobRootsKey, "").split('\n').filter(_.nonEmpty))
        roots.iterator.map(r => new Path(new Path(r), ref.file))
          .find(c => c.getFileSystem(conf).exists(c))
          .getOrElse(local) // fail on the local path's clear error below
      }
    val f = p.getFileSystem(conf)
    val in = f.open(p)
    try {
      in.seek(ref.offset + offset)
      val buf = new Array[Byte](n)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  /** Full payload of one blob (readRange over the whole span). */
  def readBlob(spark: SparkSession, tablePath: String, ref: BlobRef): Array[Byte] =
    readRange(spark, tablePath, ref, 0L, math.toIntExact(ref.length))
}
