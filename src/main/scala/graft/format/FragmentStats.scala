package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Fragment zone statistics: extraction from parquet footers at commit time,
  * and conservative predicate evaluation at plan time.
  *
  * `mayMatch` is sound-not-complete: it returns false ONLY when the pushed
  * predicate provably cannot hold for any row of the fragment (rows with a
  * NULL never satisfy a value comparison, so range disjointness is a valid
  * prune even with nulls present). Anything unrecognized ⇒ true (keep).
  */
object FragmentStats {

  /** One parquet file's footer, opened with read options built from
    * `conf`: the no-options open builds and loads a fresh hadoop
    * Configuration per call, which costs more than the footer read. Needs
    * no session, so tasks call it too. */
  def footer(conf: Configuration, status: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf),
      HadoopReadOptions.builder(conf, status.getPath).build())
    try r.getFooter finally r.close()
  }

  /** Rows in a footer's row groups. */
  def rowCount(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.iterator.map(_.getRowCount).sum

  /** Extract per-column stats from a parquet footer. Columns whose type we
    * don't map (nested, int96 timestamps) are simply absent ⇒ never pruned. */
  def fromFooter(footer: ParquetMetadata): Map[String, ColumnStat] = {
    val blocks = footer.getBlocks.asScala
    if (blocks.isEmpty) return Map.empty
    val acc = scala.collection.mutable.Map[String, (String, Any, Any, Long)]()
    blocks.foreach { b =>
      b.getColumns.asScala.foreach { c =>
        if (c.getPath.size() == 1) { // top-level columns only
          val name = c.getPath.toDotString
          val st = c.getStatistics
          val prim = c.getPrimitiveType
          val kindOpt: Option[String] = prim.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => Some("long")
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("double")
            case PrimitiveTypeName.BINARY
              if prim.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => Some("string")
            case _ => None
          }
          kindOpt.foreach { kind =>
            if (st != null && st.hasNonNullValue) {
              val mn = value(kind, st.genericGetMin())
              val mx = value(kind, st.genericGetMax())
              acc.get(name) match {
                case None => acc(name) = (kind, mn, mx, st.getNumNulls)
                case Some((k, m0, m1, nn)) =>
                  acc(name) = (k, minOf(kind, m0, mn), maxOf(kind, m1, mx), nn + st.getNumNulls)
              }
            } else if (st != null && st.isNumNullsSet) {
              // all-null block: keep null count, range from other blocks
              acc.get(name) match {
                case None => acc(name) = (kind, null, null, st.getNumNulls)
                case Some((k, m0, m1, nn)) => acc(name) = (k, m0, m1, nn + st.getNumNulls)
              }
            }
          }
        }
      }
    }
    acc.collect { case (name, (kind, mn, mx, nulls)) if mn != null && mx != null =>
      name -> ColumnStat(kind, mn.toString, mx.toString, nulls)
    }.toMap
  }

  private def value(kind: String, v: Any): Any = (kind, v) match {
    case ("string", b: Binary) => b.toStringUsingUTF8
    case ("long", n: Number) => n.longValue()
    case ("double", n: Number) => n.doubleValue()
    case _ => v
  }

  private def minOf(kind: String, a: Any, b: Any): Any =
    if (a == null) b else if (b == null) a
    else if (cmp(kind, a, b) <= 0) a else b
  private def maxOf(kind: String, a: Any, b: Any): Any =
    if (a == null) b else if (b == null) a
    else if (cmp(kind, a, b) >= 0) a else b

  private def cmp(kind: String, a: Any, b: Any): Int = kind match {
    case "long" => java.lang.Long.compare(toLong(a), toLong(b))
    case "double" => java.lang.Double.compare(toDouble(a), toDouble(b))
    case _ => a.toString.compareTo(b.toString)
  }
  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case s: String => s.toLong
    case _ => throw new IllegalArgumentException(s"$v")
  }
  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case _ => throw new IllegalArgumentException(s"$v")
  }

  /** Convert a catalyst literal to the stat's comparison domain, or None if
    * incomparable (⇒ no pruning). Dates are day-ints, timestamps micros. */
  private def litValue(kind: String, lit: Literal): Option[Any] = (kind, lit.value) match {
    case (_, null) => None
    case ("long", v: java.lang.Number) => Some(v.longValue())
    case ("double", v: java.lang.Number) => Some(v.doubleValue())
    case ("string", v: UTF8String) => Some(v.toString)
    case _ => None
  }

  /** Conservative: can any row of a fragment with these stats match `e`? */
  def mayMatch(stats: Map[String, ColumnStat], rows: Long, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(stats, rows, l) && mayMatch(stats, rows, r)
    case Or(l, r) => mayMatch(stats, rows, l) || mayMatch(stats, rows, r)
    case EqualTo(a: AttributeReference, l: Literal) => rangeMay(stats, a.name, l, "eq")
    case EqualTo(l: Literal, a: AttributeReference) => rangeMay(stats, a.name, l, "eq")
    case LessThan(a: AttributeReference, l: Literal) => rangeMay(stats, a.name, l, "lt")
    case LessThan(l: Literal, a: AttributeReference) => rangeMay(stats, a.name, l, "gt")
    case LessThanOrEqual(a: AttributeReference, l: Literal) => rangeMay(stats, a.name, l, "le")
    case LessThanOrEqual(l: Literal, a: AttributeReference) => rangeMay(stats, a.name, l, "ge")
    case GreaterThan(a: AttributeReference, l: Literal) => rangeMay(stats, a.name, l, "gt")
    case GreaterThan(l: Literal, a: AttributeReference) => rangeMay(stats, a.name, l, "lt")
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => rangeMay(stats, a.name, l, "ge")
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => rangeMay(stats, a.name, l, "le")
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => rangeMay(stats, a.name, v.asInstanceOf[Literal], "eq"))
    case IsNull(a: AttributeReference) =>
      stats.get(a.name).forall(_.nullCount > 0)
    case IsNotNull(a: AttributeReference) =>
      stats.get(a.name).forall(_.nullCount < rows)
    case _ => true
  }

  private def rangeMay(stats: Map[String, ColumnStat], name: String,
                       lit: Literal, op: String): Boolean =
    stats.get(name) match {
      case None => true
      case Some(st) => litValue(st.kind, lit) match {
        case None => true
        case Some(v) =>
          val cMin = cmp(st.kind, parse(st.kind, st.min), v)
          val cMax = cmp(st.kind, parse(st.kind, st.max), v)
          op match {
            case "eq" => cMin <= 0 && cMax >= 0
            case "lt" => cMin < 0   // some value < v possible iff min < v
            case "le" => cMin <= 0
            case "gt" => cMax > 0
            case "ge" => cMax >= 0
            case _ => true
          }
      }
    }

  private def parse(kind: String, s: String): Any = kind match {
    case "long" => s.toLong
    case "double" => s.toDouble
    case _ => s
  }
}
