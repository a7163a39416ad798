package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** IVF_SQ: int8 scalar quantization inside IVF partitions — the memory /
  * recall middle ground between IVF_FLAT and IVF_PQ (reference
  * `rust/lance-index/src/vector/sq.rs` + `vector/sq/`; `IndexType::IvfSq`,
  * `lib.rs:98-130`). The [[IvfQuantized]] skeleton with SQ codes:
  *
  *  - **train**: per-dimension [lo, hi] bounds from ONE distributed
  *    min/max aggregation (deterministic — no sampling or iteration),
  *    persisted under `sq/`.
  *  - **encode** ([[SqEncode]]): each float dimension → one byte
  *    `round((v - lo) / (hi - lo) * 255)` in `__sq_codes`; a 64-dim vector
  *    (256 B) becomes 64 B. 4× IO reduction with far better fidelity than
  *    PQ's 32× — exactly the reference's positioning.
  *  - **score**: asymmetric l2² — the query stays float, codes decode on
  *    the fly ([[SqAdc]]; driver side [[adc]]).
  */
object SqIndex extends IvfQuantized {
  val CodeCol = "__sq_codes"

  /** Per-dimension quantization bounds. `step(i) = (hi-lo)/255`; dimensions
    * with hi == lo encode to 0 and decode to lo exactly. */
  case class SqModel(lo: Array[Float], hi: Array[Float]) {
    def d: Int = lo.length
    lazy val steps: Array[Float] = Array.tabulate(d) { i =>
      val s = (hi(i) - lo(i)) / 255.0f
      if (s > 0f) s else 0f
    }
  }

  /** ONE distributed per-dimension min/max pass (reference sq.rs trains
    * bounds over the data; plain min/max keeps it deterministic). */
  def train(df: DataFrame, vecCol: String): SqModel = {
    val rows = df.select(posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col("__pos"))
      .agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
      .collect()
    require(rows.nonEmpty, "empty training set")
    val d = rows.map(_.getInt(0)).max + 1
    val lo = new Array[Float](d)
    val hi = new Array[Float](d)
    rows.foreach { r => lo(r.getInt(0)) = r.getFloat(1); hi(r.getInt(0)) = r.getFloat(2) }
    SqModel(lo, hi)
  }

  /** IVF assignment (coarse) + SQ codes (fine), one distributed pass,
    * partitioned parquet layout shared with IVF/PQ. `metric` "l2"
    * (default) or "cosine" (normalized storage, see [[IvfQuantized]]). */
  def build(df0: DataFrame, idCol: String, vecCol: String, indexPath: String,
            nlist: Int, metric: String = "l2"): (IvfIndex.Model, SqModel) = {
    val (df, ivf) = prepare(df0, idCol, vecCol, nlist, metric)
    val sq = train(df, vecCol)
    IvfIndex.writeVectorMeta(df.sparkSession, indexPath, metric)
    writeIndex(assign(df, vecCol, ivf), vecCol, indexPath, ivf, sq)
    writeSq(df.sparkSession, indexPath, sq)
    IndexIdentity.publish(df.sparkSession, indexPath)
    (ivf, sq)
  }

  /** Build over a graft table snapshot with a coverage marker
    * ([[IvfQuantized.buildOverTable]]). */
  def buildForTable(spark: SparkSession, tablePath: String, idCol: String,
                    vecCol: String, indexPath: String, nlist: Int,
                    metric: String = "l2"): (IvfIndex.Model, SqModel) =
    buildOverTable(spark, tablePath, idCol, vecCol, indexPath)(
      build(_, idCol, vecCol, indexPath, nlist, metric))(
      _ => Map("nlist" -> nlist.toString, "metric" -> metric))

  // ------------------------------------------------------------ quantizer

  protected type Codec = SqModel
  protected val indexType = "IVF_SQ"
  val ServeCodesBudgetKey = "spark.graft.cache.sq.serve.partitions"
  protected val codeCols = Seq(CodeCol)

  protected def loadCodec(spark: SparkSession, indexPath: String,
                          meta: IvfIndex.VectorMeta): SqModel = loadSq(spark, indexPath)

  protected def encode(withPid: DataFrame, vecCol: String, ivf: IvfIndex.Model,
                       sq: SqModel): DataFrame =
    withPid.withColumn(CodeCol,
      ColumnBridge.column(SqEncode(ColumnBridge.expression(col(vecCol)), sq)))

  protected def scoreColumn(ivf: IvfIndex.Model, sq: SqModel, q: Array[Float],
                            probes: Seq[Int]): Column =
    ColumnBridge.column(SqAdc(ColumnBridge.expression(col(CodeCol)), q, sq.lo, sq.steps))

  protected def scorer(ivf: IvfIndex.Model, sq: SqModel, q: Array[Float],
                       pid: Int): IvfQuantized.CodeScorer = {
    val lo = sq.lo; val steps = sq.steps
    (codes, _) => adc(q, codes, lo, steps)
  }

  /** Plain-JVM encode — the interpreted face of [[SqEncode]], shared with
    * the HNSW_SQ graph builder (which encodes inside mapPartitions rather
    * than through a Catalyst expression). */
  private[operators] def encodeVec(v: Array[Float], model: SqModel): Array[Byte] = {
    if (v.length != model.d)
      throw new IllegalArgumentException(
        s"sq encode: vector dimension ${v.length} != trained dimension ${model.d}")
    val lo = model.lo; val hi = model.hi
    val out = new Array[Byte](model.d)
    var i = 0
    while (i < model.d) {
      val range = hi(i) - lo(i)
      val q = if (range <= 0f) 0 else math.round((v(i) - lo(i)) / range * 255.0f)
      out(i) = math.max(0, math.min(255, q)).toByte
      i += 1
    }
    out
  }

  /** Plain-JVM asymmetric l2² (codes decode on the fly) — the IVF_SQ serve
    * scorer and the beam-search hot loop of HNSW_SQ. */
  private[operators] def adc(q: Array[Float], codes: Array[Byte],
                             lo: Array[Float], step: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(codes.length, q.length)
    while (i < n) {
      val d = q(i) - (lo(i) + (codes(i) & 0xff) * step(i))
      acc += d * d
      i += 1
    }
    acc
  }

  /** Persist per-dimension bounds under `$indexPath/sq` (the layout
    * [[loadSq]] reads — shared by IVF_SQ and IVF_HNSW_SQ). */
  private[operators] def writeSq(spark: SparkSession, indexPath: String, sq: SqModel): Unit =
    spark.createDataFrame(sq.lo.indices.map(i => (i, sq.lo(i), sq.hi(i))))
      .toDF("pos", "lo", "hi")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$indexPath/sq")

  def loadSq(spark: SparkSession, indexPath: String): SqModel = {
    val rows = spark.read.parquet(s"$indexPath/sq").orderBy("pos").collect()
    val d = rows.map(_.getInt(0)).max + 1
    val lo = new Array[Float](d)
    val hi = new Array[Float](d)
    rows.foreach { r => lo(r.getInt(0)) = r.getFloat(1); hi(r.getInt(0)) = r.getFloat(2) }
    SqModel(lo, hi)
  }
}

/** vector → d scalar-quantized bytes. Codegen'd — runs once per corpus
  * row at build/optimize time. */
case class SqEncode(child: Expression, model: SqIndex.SqModel)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq_encode"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"sq_encode requires array<float>, got ${t.catalogString}")
  }
  // fails fast on a dimension mismatch: silently truncating a longer
  // vector (or zero-padding a shorter one) would produce quietly wrong
  // distances downstream
  override def nullSafeEval(input: Any): Any =
    SqIndex.encodeVec(input.asInstanceOf[ArrayData].toFloatArray(), model)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val lo = ctx.addReferenceObj("lo", model.lo, "float[]")
      val hi = ctx.addReferenceObj("hi", model.hi, "float[]")
      val d = model.d
      val i = ctx.freshName("i"); val out = ctx.freshName("out")
      val range = ctx.freshName("range"); val q = ctx.freshName("q")
      s"""
         |if ($v.numElements() != $d) {
         |  throw new IllegalArgumentException(
         |    "sq_encode: vector dimension " + $v.numElements() +
         |    " != trained dimension " + $d);
         |}
         |byte[] $out = new byte[$d];
         |for (int $i = 0; $i < $d; $i++) {
         |  float $range = $hi[$i] - $lo[$i];
         |  int $q = $range <= 0f ? 0
         |    : java.lang.Math.round(($v.getFloat($i) - $lo[$i]) / $range * 255.0f);
         |  $out[$i] = (byte) java.lang.Math.max(0, java.lang.Math.min(255, $q));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SQ codes → asymmetric l2² against the float query (codes decode on the
  * fly: `lo + byte*step`). Codegen'd — the hot loop of the candidate pass;
  * query/bounds ship as codegen reference objects. */
case class SqAdc(child: Expression, query: Array[Float], lo: Array[Float], step: Array[Float])
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_adc"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("sq_adc requires binary codes")
  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[Array[Byte]]
    if (codes.length != query.length)
      throw new IllegalArgumentException(
        s"sq_adc: code length ${codes.length} != query dimension ${query.length}")
    var acc = 0.0
    var i = 0
    val n = query.length
    while (i < n) {
      val v = lo(i) + (codes(i) & 0xff) * step(i)
      val d = query(i) - v
      acc += d * d
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val qRef = ctx.addReferenceObj("sqQuery", query, "float[]")
    val loRef = ctx.addReferenceObj("sqLo", lo, "float[]")
    val stepRef = ctx.addReferenceObj("sqStep", step, "float[]")
    nullSafeCodeGen(ctx, ev, codes => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val dv = ctx.freshName("dv")
      s"""
         |if ($codes.length != $qRef.length) {
         |  throw new IllegalArgumentException("sq_adc: code length " + $codes.length +
         |    " != query dimension " + $qRef.length);
         |}
         |int $n = $qRef.length;
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dv = $qRef[$i] - ($loRef[$i] + ($codes[$i] & 0xff) * $stepRef[$i]);
         |  $acc += $dv * $dv;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
