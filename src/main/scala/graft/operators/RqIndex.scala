package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** IVF_RQ: 1-bit-per-dimension binary quantization inside IVF partitions —
  * the 32×-compression end of the quantization spectrum (reference
  * `rust/lance-index/src/vector/bq/`, `IndexType::IvfRq`, `lib.rs:98-130`;
  * the construction is the public RaBitQ idea: sign-quantize the CENTROID
  * RESIDUAL and correct the estimated distance with the stored residual
  * norm). The [[IvfQuantized]] skeleton with sign codes plus a norm column:
  *
  *  - **encode** ([[RqEncode]]): residual `r = v - c(pid)`; code bit i =
  *    `sign(r_i)` packed 8/byte in `__rq_codes`, plus one float `‖r‖` in
  *    `__rq_norm`. A 64-dim vector (256 B) becomes 8 B + 4 B. No model
  *    beyond the centroids.
  *  - **score** ([[RqAdc]], codegen'd): with the unit direction
  *    approximation `r̂ = sign(r)/√d`,
  *    `l2²(q, v) ≈ ‖q − c‖² + ‖r‖² − 2·‖r‖·⟨q − c, r̂⟩`, and the inner
  *    product needs only one pass over the bits:
  *    `⟨q − c, r̂⟩ = (2·T − S)/√d` where `S = Σ(q_i − c_i)` is precomputed
  *    per probed partition and `T = Σ_{bit i set}(q_i − c_i)` per row.
  *    The estimator is coarser than SQ/PQ (1 bit/dim), so exactness at the
  *    gate comes from the refine pass; realistic-config quality is gated by
  *    the recall spec.
  */
object RqIndex extends IvfQuantized {
  val CodeCol = "__rq_codes"
  val NormCol = "__rq_norm"

  /** IVF assignment (coarse) + sign codes & residual norm (fine), one
    * distributed pass, partitioned parquet layout shared with IVF/PQ/SQ.
    * cosine: normalized storage (see [[IvfQuantized]]). */
  def build(df0: DataFrame, idCol: String, vecCol: String, indexPath: String,
            nlist: Int, metric: String = "l2"): IvfIndex.Model = {
    val (df, ivf) = prepare(df0, idCol, vecCol, nlist, metric)
    IvfIndex.writeVectorMeta(df.sparkSession, indexPath, metric)
    writeIndex(assign(df, vecCol, ivf), vecCol, indexPath, ivf, ())
    IndexIdentity.publish(df.sparkSession, indexPath)
    ivf
  }

  /** Build over a graft table snapshot with a coverage marker
    * ([[IvfQuantized.buildOverTable]]). */
  def buildForTable(spark: SparkSession, tablePath: String, idCol: String,
                    vecCol: String, indexPath: String, nlist: Int,
                    metric: String = "l2"): IvfIndex.Model =
    buildOverTable(spark, tablePath, idCol, vecCol, indexPath)(
      build(_, idCol, vecCol, indexPath, nlist, metric))(
      _ => Map("nlist" -> nlist.toString, "metric" -> metric))

  // ------------------------------------------------------------ quantizer

  protected type Codec = Unit
  protected val indexType = "IVF_RQ"
  val ServeCodesBudgetKey = "spark.graft.cache.rq.serve.partitions"
  protected val codeCols = Seq(CodeCol, NormCol)

  protected def loadCodec(spark: SparkSession, indexPath: String,
                          meta: IvfIndex.VectorMeta): Unit = ()

  protected def encode(withPid: DataFrame, vecCol: String, ivf: IvfIndex.Model,
                       codec: Unit): DataFrame =
    withPid.withColumn("__rq", ColumnBridge.column(RqEncode(
        ColumnBridge.expression(col(vecCol)),
        ColumnBridge.expression(col(IvfIndex.PidCol)), ivf.centroids)))
      .withColumn(CodeCol, col("__rq.codes"))
      .withColumn(NormCol, col("__rq.rnorm"))
      .drop("__rq")

  protected def scoreColumn(ivf: IvfIndex.Model, codec: Unit, q: Array[Float],
                            probes: Seq[Int]): Column =
    ColumnBridge.column(RqAdc(
      ColumnBridge.expression(col(CodeCol)),
      ColumnBridge.expression(col(NormCol)),
      ColumnBridge.expression(col(IvfIndex.PidCol)), q, ivf.centroids))

  /** [[RqAdc]]'s per-partition precomputation and row arithmetic,
    * driver-side, for one probed partition. */
  protected def scorer(ivf: IvfIndex.Model, codec: Unit, q: Array[Float],
                       pid: Int): IvfQuantized.CodeScorer = {
    val c = ivf.centroids(pid)
    val qcp = Array.tabulate(c.length)(i => q(i) - c(i))
    val qcSum = qcp.foldLeft(0.0)(_ + _)
    val qcNorm2 = qcp.foldLeft(0.0)((a, x) => a + x.toDouble * x)
    val invSqrtD = 1.0 / math.sqrt(q.length.toDouble)
    (codes, rnorm) => {
      var t = 0.0
      var i = 0
      val d = qcp.length
      while (i < d) {
        if (((codes(i >> 3) >> (i & 7)) & 1) != 0) t += qcp(i)
        i += 1
      }
      val rn = rnorm.toDouble
      qcNorm2 + rn * rn - 2.0 * rn * ((2.0 * t - qcSum) * invSqrtD)
    }
  }
}

/** (vector, pid) → struct(sign-bit codes packed 8/byte, residual norm).
  * Build-time only — CodegenFallback is fine. */
case class RqEncode(left: Expression, right: Expression,
                    centroids: Array[Array[Float]])
    extends BinaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("codes", BinaryType, nullable = false),
    StructField("rnorm", FloatType, nullable = false)))
  override def prettyName: String = "rq_encode"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"rq_encode requires (array<float>, int), got (${l.catalogString}, ${r.catalogString})")
  }
  override def nullSafeEval(vec: Any, pid: Any): Any = {
    val arr = vec.asInstanceOf[ArrayData]
    val c = centroids(pid.asInstanceOf[Int])
    if (arr.numElements() != c.length)
      throw new IllegalArgumentException(
        s"rq_encode: vector dimension ${arr.numElements()} != centroid dimension ${c.length}")
    val d = c.length
    val codes = new Array[Byte]((d + 7) / 8)
    var norm2 = 0.0
    var i = 0
    while (i < d) {
      val r = arr.getFloat(i) - c(i)
      norm2 += r.toDouble * r
      if (r > 0f) codes(i >> 3) = (codes(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(codes, math.sqrt(norm2).toFloat)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** (codes, rnorm, pid) → estimated l2² against the float query. Codegen'd —
  * the hot loop of the candidate pass; the per-partition query residuals
  * `qc[pid] = q − c(pid)`, their sums `S[pid]`, and norms `‖q−c‖²[pid]` are
  * precomputed once per query and ship as codegen reference objects. */
case class RqAdc(first: Expression, second: Expression, third: Expression,
                 query: Array[Float], centroids: Array[Array[Float]])
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rq_adc"

  // per-partition precomputation (driver-side, nlist × d floats)
  @transient private lazy val qc: Array[Array[Float]] =
    centroids.map(c => Array.tabulate(c.length)(i => query(i) - c(i)))
  @transient private lazy val qcSum: Array[Double] = qc.map(_.foldLeft(0.0)(_ + _))
  @transient private lazy val qcNorm2: Array[Double] =
    qc.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x))
  @transient private lazy val invSqrtD: Double = 1.0 / math.sqrt(query.length.toDouble)

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == FloatType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("rq_adc requires (binary, float, int)")

  override def nullSafeEval(codesAny: Any, normAny: Any, pidAny: Any): Any = {
    val codes = codesAny.asInstanceOf[Array[Byte]]
    val rnorm = normAny.asInstanceOf[Float].toDouble
    val pid = pidAny.asInstanceOf[Int]
    val qcp = qc(pid)
    var t = 0.0
    var i = 0
    val d = qcp.length
    while (i < d) {
      if (((codes(i >> 3) >> (i & 7)) & 1) != 0) t += qcp(i)
      i += 1
    }
    qcNorm2(pid) + rnorm * rnorm - 2.0 * rnorm * ((2.0 * t - qcSum(pid)) * invSqrtD)
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val qcRef = ctx.addReferenceObj("rqQc", qc, "float[][]")
    val sumRef = ctx.addReferenceObj("rqSum", qcSum, "double[]")
    val n2Ref = ctx.addReferenceObj("rqNorm2", qcNorm2, "double[]")
    val isd = invSqrtD
    nullSafeCodeGen(ctx, ev, (codes, rnorm, pid) => {
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      val t = ctx.freshName("t"); val qcp = ctx.freshName("qcp")
      val rn = ctx.freshName("rn")
      s"""
         |float[] $qcp = $qcRef[$pid];
         |int $d = $qcp.length;
         |double $t = 0.0;
         |for (int $i = 0; $i < $d; $i++) {
         |  if ((($codes[$i >> 3] >> ($i & 7)) & 1) != 0) $t += $qcp[$i];
         |}
         |double $rn = (double) $rnorm;
         |${ev.value} = $n2Ref[$pid] + $rn * $rn
         |  - 2.0 * $rn * ((2.0 * $t - $sumRef[$pid]) * $isd);
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
