package graft.format

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-local bounded take (reference `Dataset::take`,
  * `rust/lance/src/dataset/take.rs:103`): a take whose pruned fragments sum
  * to at most [[MaxBytes]] is read on the driver and returned as a
  * `LocalRelation`, so the caller's `select(...).collect()` runs no Spark
  * job. Larger takes keep the Spark scan of [[GraftTable.readFragments]].
  *
  * The rows equal the Spark scan's, value for value and schema for schema:
  *  - decoding is Spark's own parquet reader
  *    (`ParquetFileFormat.buildReaderWithPartitionValues` with the
  *    row-index column), reading only the row groups that can hold a
  *    wanted row: by row index, or by the footer min/max of a stored
  *    `_rowid`;
  *  - deletion vectors and supplemental column files are read the same
  *    way, restricted to the row groups whose `addr` min/max covers a kept
  *    row;
  *  - `_rowaddr`, `_rowid`, the rename restore, the column-file coalesce
  *    and the field metadata are the scan's own Column expressions
  *    ([[GraftTable.rowAddrOf]], [[GraftTable.rowIdOf]],
  *    [[GraftTable.restoreLogicalNames]], [[GraftTable.coalesceColumnFile]],
  *    [[GraftTable.withFieldMetadata]]) applied over the local rows, where
  *    Project folds into the `LocalRelation` without a job. */
private[graft] object LocalTake {
  import GraftTable.{RowAddrCol, RowIdCol}

  /** Largest summed `sizeBytes` of a take's pruned fragments that is read
    * on the driver. Timed against the Spark scan on 4 local cores (tables
    * of 4 one-row-group fragments of 32-d float rows; 4 or 1000 wanted
    * rows), the driver took 0.25-0.74 of the scan's time from 1 to 32 MiB;
    * at 64 MiB a 1000-row take broke even (0.93-0.98) and at 128 MiB it
    * lost (1.09). The bound is the largest size with a clear win. */
  val MaxBytes: Long = 32L << 20

  /** The bound in force; specs move it to force either path. */
  @volatile private[graft] var maxBytes: Long = MaxBytes

  /** Takes answered on the driver, and takes that fell back to a Spark
    * scan (`CALL g.system.cache_stats()` row `take_local`). */
  val localTakes = new AtomicLong
  val sparkTakes = new AtomicLong

  /** Does a take over `pruned` run on the driver? Counts the answer. */
  def admit(pruned: Seq[FragmentMeta]): Boolean = {
    val local = pruned.iterator.map(_.sizeBytes).sum <= maxBytes
    (if (local) localTakes else sparkTakes).incrementAndGet()
    local
  }

  /** The rows a take asks for: row addresses, or stable row ids. */
  sealed trait Wanted
  final case class Addrs(addrs: Set[Long]) extends Wanted
  final case class RowIds(ids: Set[Long]) extends Wanted

  private val FileNameCol = "__take_file_name"
  private val RowIndexCol = "__take_row_index"
  private val RangeStartCol = "__rid_start"
  private val FragName = GraftTable.FragRe.r

  /** One row a fragment scan kept: its data columns (and row index, last),
    * its file's name, and its address (None when the name carries no
    * fragment id, as the scan's null address). */
  private final case class Hit(row: InternalRow, file: UTF8String, rangeStart: Option[Long],
                               addr: Option[Long])

  /** The take over the pruned manifest `m`, as [[GraftTable.take]]
    * (`Addrs`: with `_rowaddr`) or [[GraftTable.takeRows]] (`RowIds`: with
    * `_rowid`) returns it from the Spark scan. */
  def read(spark: SparkSession, tablePath: String, m: GraftManifest, want: Wanted): DataFrame = {
    val t = new Path(tablePath)
    val byId = want.isInstanceOf[RowIds]
    val hasStored = byId && m.fragments.exists(_.rowIdStored)
    val dataSchema =
      if (hasStored) m.physicalSchema.add(StructField(RowIdCol, LongType, nullable = true))
      else m.physicalSchema
    val storedAt = if (hasStored) dataSchema.length - 1 else -1
    val rowIndexAt = dataSchema.length
    val rangeStarts = if (!byId) Map.empty[Long, Long] else m.fragments.collect {
      case f if !f.rowIdStored && f.rowIdStart >= 0 => f.id -> f.rowIdStart
    }.toMap
    val confs = Confs(spark)
    val reader = readerFor(spark, confs, dataSchema, rowIndex = true)

    val hits = ArrayBuffer.empty[Hit]
    m.fragments.foreach { f =>
      val p = new Path(t, f.path)
      val fragId = FragName.findFirstMatchIn(p.getName).map(_.group(1).toLong)
      val start = fragId.flatMap(rangeStarts.get)
      // the wanted row indexes this file can hold, and the stored-id test
      val (idx, ids): (Set[Long], Set[Long]) = want match {
        case Addrs(as) => (fragId.fold(Set.empty[Long])(id =>
          as.filter(_ >>> 32 == id).map(_ & 0xFFFFFFFFL)), Set.empty)
        case RowIds(rs) => (start.fold(Set.empty[Long])(s => rs.map(_ - s)),
          if (f.rowIdStored) rs else Set.empty)
      }
      def keepGroup(b: BlockMetaData, first: Long): Boolean =
        idx.exists(i => i >= first && i < first + b.getRowCount) ||
          (ids.nonEmpty && covers(b, RowIdCol, ids))
      if (idx.nonEmpty || ids.nonEmpty) {
        val file = UTF8String.fromString(p.getName)
        scan(reader, p, f.sizeBytes, keepGroup) { row =>
          val i = row.getLong(rowIndexAt)
          want match {
            case Addrs(as) => fragId.exists(id => as.contains((id << 32) + i))
            case RowIds(rs) =>
              val rid =
                if (storedAt >= 0 && !row.isNullAt(storedAt)) Some(row.getLong(storedAt))
                else start.map(_ + i)
              rid.exists(rs.contains)
          }
        }.foreach(row => hits += Hit(row, file, start,
          fragId.map(id => (id << 32) + row.getLong(rowIndexAt))))
      }
    }
    // deletion vectors, restricted to the kept rows' addresses
    val dead = addrLookup(spark, confs, reader.conf, t, m.dvFiles, Nil,
      hits.flatMap(_.addr).toSet)
    val live = hits.filterNot(h => h.addr.exists(dead.rows.contains))
    // supplemental column files: `__cf_<column>` per column, null off-file
    val liveAddrs = live.flatMap(_.addr).toSet
    val supp = m.columnFiles.map(cf =>
      cf -> addrLookup(spark, confs, reader.conf, t, Seq(cf.path), cf.columns, liveAddrs))
    val suppFields = supp.flatMap { case (cf, found) =>
      cf.columns.map(c => StructField(s"__cf_$c",
        SchemaPaths.nullableAll(found.schema(c).dataType), nullable = true))
    }

    val ranged = rangeStarts.nonEmpty
    val schema = StructType(dataSchema.fields ++
      Seq(StructField(FileNameCol, StringType, nullable = false),
        StructField(RowIndexCol, LongType, nullable = false)) ++
      (if (ranged) Seq(StructField(RangeStartCol, LongType, nullable = true)) else Nil) ++
      suppFields)
    val types = dataSchema.fields.map(_.dataType)
    val rows = live.map { h =>
      val vals = new Array[Any](schema.length)
      types.indices.foreach(i => vals(i) = h.row.get(i, types(i)))
      var at = types.length
      vals(at) = h.file; vals(at + 1) = h.row.getLong(rowIndexAt); at += 2
      if (ranged) { vals(at) = h.rangeStart.map(Long.box).orNull; at += 1 }
      supp.foreach { case (cf, found) =>
        val r = h.addr.flatMap(found.rows.get)
        cf.columns.foreach { c =>
          val j = found.schema.fieldIndex(c)
          vals(at) = r.map(_.get(j, found.schema(j).dataType)).orNull
          at += 1
        }
      }
      new GenericInternalRow(vals): InternalRow
    }.toSeq
    val local = ColumnBridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

    // the scan's system columns from the scan's own expressions, in the
    // scan's order: its deletion-vector anti-join on `_rowaddr` puts the key
    // first; a stored `_rowid` keeps its place in the data columns
    val addr = GraftTable.rowAddrOf(col(FileNameCol), col(RowIndexCol))
    val rowId = GraftTable.rowIdOf(hasStored,
      if (ranged) Some(col(RangeStartCol)) else None, addr).as(RowIdCol)
    val data = dataSchema.fieldNames.toSeq.map(c => if (c == RowIdCol) rowId else col(c))
    val cols =
      if (byId) (if (hasStored) data else data :+ rowId)
      else if (m.dvFiles.nonEmpty) addr.as(RowAddrCol) +: data
      else data :+ addr.as(RowAddrCol)
    val sys = local.select(cols ++ suppFields.map(f => col(f.name)): _*)
    val merged = m.columnFiles.foldLeft(GraftTable.restoreLogicalNames(m, sys))(
      (d, cf) => GraftTable.coalesceColumnFile(m, cf, d))
    GraftTable.withFieldMetadata(m, merged)
  }

  /** Rows of `columns` found at the given addresses in the parquet
    * datasets `paths` (table-relative; directories of part files), keyed
    * by their `addr` column. Only row groups whose `addr` min/max covers
    * a wanted address are read. */
  private final case class Found(schema: StructType, rows: Map[Long, InternalRow])
  private def addrLookup(spark: SparkSession, confs: Confs, conf: Configuration, t: Path,
                         paths: Seq[String], columns: Seq[String],
                         addrs: Set[Long]): Found = {
    if (paths.isEmpty || (addrs.isEmpty && columns.isEmpty))
      return Found(new StructType(), Map.empty)
    val files = paths.flatMap(rel => dataFiles(conf, new Path(t, rel)))
    // the schema `spark.read.parquet` infers for the dataset: the Spark
    // schema its first part file records (the files of one write share it)
    val inferred = files.headOption.fold(new StructType()) { st =>
      val fm = footer(conf, st.getPath, st.getLen).getFileMetaData
      Option(fm.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(fm.getSchema))
    }
    val schema = StructType(("addr" +: columns).map(inferred(_)))
    if (addrs.isEmpty) return Found(schema, Map.empty)
    val reader = readerFor(spark, confs, schema, rowIndex = false)
    val rows = files.flatMap(st => scan(reader, st.getPath, st.getLen,
      (b, _) => covers(b, "addr", addrs))(r => !r.isNullAt(0) && addrs.contains(r.getLong(0))))
    Found(schema, rows.map(r => r.getLong(0) -> r).toMap)
  }

  /** Parquet files of a dataset path: the path itself, or the files of a
    * directory that Spark's listing would read (no `_`/`.` names). */
  private def dataFiles(conf: Configuration, p: Path): Seq[FileStatus] = {
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(p).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
  }

  /** May a row group hold one of `values` in long column `column`? False
    * when the file has no such column; true when its stats can't tell. */
  private def covers(b: BlockMetaData, column: String, values: Set[Long]): Boolean =
    b.getColumns.asScala.find(_.getPath.toDotString == column).exists { c =>
      val s = c.getStatistics
      if (s == null || s.isEmpty || !s.hasNonNullValue) true
      else (s.genericGetMin, s.genericGetMax) match {
        case (mn: java.lang.Long, mx: java.lang.Long) =>
          values.exists(v => v >= mn && v <= mx)
        case _ => true
      }
    }

  /** The rows `keep` admits among the row groups of `p` that `keepGroup`
    * admits (given the group and its first row index), as copies in the
    * reader's schema. Contiguous kept groups read as one split; a split
    * selects the groups whose byte midpoint it holds, so each covers its
    * groups' bytes up to the next group's start. */
  private def scan(reader: Reader, p: Path, size: Long,
                   keepGroup: (BlockMetaData, Long) => Boolean)
                  (keep: InternalRow => Boolean): Seq[InternalRow] = {
    val blocks = footer(reader.conf, p, size).getBlocks.asScala.toIndexedSeq
    val firsts = blocks.scanLeft(0L)(_ + _.getRowCount)
    val kept = blocks.indices.filter(i => keepGroup(blocks(i), firsts(i)))
    if (kept.isEmpty) return Nil
    def startOf(i: Int): Long = if (i == 0) 0L else blocks(i).getStartingPos
    def endOf(i: Int): Long = if (i == blocks.length - 1) size else blocks(i + 1).getStartingPos
    // runs of consecutive kept groups
    val runs = kept.foldLeft(List.empty[(Int, Int)]) {
      case ((a, b) :: rest, i) if i == b + 1 => (a, i) :: rest
      case (acc, i) => (i, i) :: acc
    }.reverse
    // the vectorized reader hands out one reused row per batch: test it in
    // place, copy what is kept
    val toUnsafe = UnsafeProjection.create(reader.schema)
    val out = ArrayBuffer.empty[InternalRow]
    var read = 0L
    runs.foreach { case (a, b) =>
      val split = PartitionedFile(InternalRow.empty, SparkPath.fromPath(p),
        startOf(a), endOf(b) - startOf(a), fileSize = size)
      val it = reader.read(split)
      try it.foreach { row =>
        read += 1
        if (keep(row)) out += toUnsafe(row).copy()
      } finally it match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
    val want = kept.iterator.map(blocks(_).getRowCount).sum
    if (read != want) throw new IllegalStateException(
      s"driver-local take read $read rows of $p where its row groups ${kept.mkString(",")} " +
        s"hold $want")
    out.toSeq
  }

  private def footer(conf: Configuration, p: Path, size: Long): ParquetMetadata = {
    // read options from the session's hadoop conf: the no-conf default
    // builds (and loads) a fresh Configuration per open
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(
      new FileStatus(size, false, 1, 0L, 0L, p), conf), HadoopReadOptions.builder(conf, p).build())
    try r.getFooter finally r.close()
  }

  /** Spark's parquet reader for one schema, and the hadoop conf it reads
    * with. Building one broadcasts the conf, so a few are kept, keyed by
    * the effective hadoop conf (`sparkContext.hadoopConfiguration` overlaid
    * with the session's SQL confs, as the Spark scan reads with): a change
    * to either, e.g. rotated credentials, builds a new reader. The key
    * names the SparkContext by its application id, so a reader never
    * outlives the context its broadcast lives in, and holds no session. */
  private final class Reader(val read: PartitionedFile => Iterator[InternalRow],
                             val schema: StructType, val conf: Configuration)
  private final case class Confs(app: String, hadoop: Map[String, String],
                                 sql: Map[String, String])
  private object Confs {
    def apply(spark: SparkSession): Confs = {
      val sc = spark.sparkContext
      Confs(sc.applicationId,
        sc.hadoopConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue).toMap,
        spark.sessionState.conf.getAllConfs)
    }
  }
  private final case class ReaderKey(confs: Confs, schema: StructType, rowIndex: Boolean)
  private val readers = new java.util.LinkedHashMap[ReaderKey, Reader](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ReaderKey, Reader]): Boolean =
      size > 16
  }

  def readerCount: Int = readers.synchronized(readers.size)

  private def readerFor(spark: SparkSession, confs: Confs, schema: StructType,
                        rowIndex: Boolean): Reader = {
    val key = ReaderKey(confs, schema, rowIndex)
    readers.synchronized(Option(readers.get(key))).getOrElse {
      val conf = spark.sessionState.newHadoopConf()
      val required =
        if (rowIndex) schema.add(StructField(
          ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
        else schema
      val build = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        new StructType(), required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        conf)
      val r = new Reader(build, required, conf)
      readers.synchronized(readers.put(key, r))
      r
    }
  }
}
