package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** IVF_PQ: product quantization inside IVF partitions — the
  * [[IvfQuantized]] skeleton with PQ codes (reference
  * `rust/lance-index/src/vector/pq/`, ~2,616 LoC; search pattern
  * `ANNIvfSubIndexExec`, `io/exec/knn.rs:579`; refine `scanner.rs:1194`):
  *
  *  - **train**: per-subspace k-means codebooks on a driver-side sample
  *    (deterministic Lloyd's, same recipe as [[IvfIndex.train]]).
  *  - **encode** ([[PqEncode]]): `m` one-byte codes per vector (or ⌈m/2⌉
  *    at 4 bits) in `__pq_codes`. A 64-dim float vector (256 B) becomes
  *    8 B — the IO ratio that makes the candidate pass cheap at 100 TB.
  *  - **score**: asymmetric distance against a per-query lookup table
  *    ([[PqAdcByPid]]; driver side [[adc]]).
  *
  * **Residual quantization** (default, reference
  * `rust/lance-index/src/vector/residual.rs`): codes are computed over
  * `v − centroid(pid)` rather than the raw vector. Residuals within one IVF
  * partition occupy a much smaller ball than the raw vectors, so the same
  * (m, k) budget quantizes them with far less error — the standard reason
  * IVF_PQ beats plain PQ at equal code size. At query time the ADC table is
  * per-PROBED-PARTITION (`q − centroid(pid)`), nprobes·m·k floats on the
  * driver — still metadata-sized. Raw-space encoding remains available
  * (`residual = false`) and legacy indexes (no variant recorded) are served
  * on the raw path; the variant is recorded in the index meta and honored
  * by incremental maintenance.
  *
  * Recall is governed by (nprobes, m, refineFactor) exactly as in the
  * reference's SIFT table (BASELINE.md); quality is asserted by the recall
  * spec, not by the hash gate (PQ is lossy by design).
  */
object PqIndex extends IvfQuantized {
  val CodeCol = "__pq_codes"

  /** codebooks(sub)(code) = centroid (dsub floats) */
  case class PqModel(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length

    /** Per-query ADC lookup table: table(sub)(code) = l2² between the query
      * sub-vector and that code's centroid. */
    def adcTable(query: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m) { s =>
        val off = s * dsub
        Array.tabulate(k) { c =>
          var acc = 0.0f
          var i = 0
          val cent = codebooks(s)(c)
          while (i < dsub) {
            val d = query(off + i) - cent(i)
            acc += d * d
            i += 1
          }
          acc
        }
      }
  }

  /** Deterministic per-subspace Lloyd's (same recipe as
    * [[IvfIndex.train]]): ONE job TakeOrdered-collects a bounded
    * hash-sample (reference kmeans `sample_rate` ≈ 256 rows per code,
    * `rust/lance-index/src/vector/kmeans.rs`), then every subspace's
    * codebook advances through in-memory multithreaded iterations
    * ([[IvfIndex.lloydStep]] over the sub-vector slices) — the maxIter × m
    * distributed jobs this replaces were pure scheduling overhead at a
    * bounded sample size, while the corpus-sized encode pass stays
    * distributed. Fixed-point Long sums keep the update order-independent.
    * Init = sub-vectors of the k hash-smallest sample rows; empty codes
    * keep their previous centroid. */
  def train(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
            maxIter: Int = 10, sampleSize: Int = 50000): PqModel = {
    val hashOrder = Seq(xxhash64(col("__id")), col("__id"))
    val cap = math.min(sampleSize, math.max(k * 256, 4096))
    val data = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .orderBy(hashOrder: _*).limit(cap)
      .select(col("__v")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(data.nonEmpty, "empty training set")
    val d = data(0).length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val kEff = math.min(k, data.length)
    val books: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      val subData = data.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var book = subData.take(kEff).map(_.clone())
      for (_ <- 0 until maxIter) book = IvfIndex.lloydStep(subData, book)
      book
    }
    PqModel(books)
  }

  /** Persist a trained PQ codebook standalone (reference `PqModel.save`,
    * `python/lance/indices/pq.py:26`): same `pq` parquet layout the index
    * directories use plus a meta sidecar recording the metric and the code
    * SPACE ("residual" | "raw") the codebook was trained in — a codebook is
    * only valid for builds in that same space. */
  def saveCodebookTo(spark: SparkSession, modelPath: String, pq: PqModel,
                     variant: String, metric: String = "l2"): Unit = {
    require(variant == "residual" || variant == "raw",
      s"codebook variant must be residual|raw, got $variant")
    writePq(spark, modelPath, pq)
    IvfIndex.writeVectorMeta(spark, modelPath, metric, pqVariant = variant)
  }

  /** Train a PQ codebook over a table column and persist it standalone —
    * residual space when `ivfCentroidsFile` names a saved IVF model (the
    * codes are then relative to those centroids), raw space otherwise
    * (reference `IndicesBuilder.train_pq` + `PqModel.save`,
    * `python/lance/indices/builder.py:149`, `indices/pq.py:26`).
    * Returns (m, k, variant). */
  def trainCodebookToPath(spark: SparkSession, tablePath: String, idCol: String,
                          vecCol: String, m: Int, k: Int, metric: String,
                          dest: String,
                          ivfCentroidsFile: Option[String]): (Int, Int, String) = {
    val df0 = graft.format.GraftTable.read(spark, tablePath,
      withRowId = idCol == graft.format.GraftTable.RowIdCol)
    val (trainDf, trainCol, variant) = ivfCentroidsFile match {
      case Some(f) =>
        val (df, ivf) = prepare(df0, idCol, vecCol, 0, metric,
          Some(IvfIndex.loadModel(spark, f)))
        (assign(df, vecCol, ivf).withColumn("__pq_space", space(vecCol, ivf, residual = true)),
          "__pq_space", "residual")
      case None =>
        (IvfIndex.forMetric(IvfIndex.floatView(df0, vecCol), vecCol, metric), vecCol, "raw")
    }
    val pq = train(trainDf, idCol, trainCol, m, k)
    saveCodebookTo(spark, dest, pq, variant, metric)
    (m, k, variant)
  }

  /** Build an IVF_PQ index: IVF partition assignment (coarse) + PQ codes
    * (fine), one distributed pass, partitioned parquet layout. `metric`
    * "l2" (default) or "cosine" — cosine stores NORMALIZED vectors (see
    * [[IvfIndex.forMetric]]). `residual = true` (default) trains and
    * encodes over `v − centroid(pid)` (see object doc). `preIvf`/`prePq`
    * (reference precomputed `ivf_centroids`/`pq_codebook`,
    * `dataset.py:2525-2541`) skip the corresponding training; the
    * corpus-sized assign/encode pass stays distributed either way. */
  def build(df0: DataFrame, idCol: String, vecCol: String, indexPath: String,
            nlist: Int, m: Int = 8, k: Int = 256,
            metric: String = "l2", residual: Boolean = true,
            numBits: Int = 8,
            preIvf: Option[IvfIndex.Model] = None,
            prePq: Option[PqModel] = None): (IvfIndex.Model, PqModel) = {
    require(numBits == 8 || numBits == 4, s"numBits must be 4 or 8, got $numBits")
    require(k <= (1 << numBits), s"k=$k codes do not fit numBits=$numBits")
    val (df, ivf) = prepare(df0, idCol, vecCol, nlist, metric, preIvf)
    val withPid = assign(df, vecCol, ivf)
    val pq = prePq match {
      case Some(pm) =>
        require(pm.codebooks.length == m,
          s"precomputed codebook has m=${pm.codebooks.length} subspaces, " +
            s"build asked for m=$m")
        pm
      case None => train(withPid.withColumn("__pq_space", space(vecCol, ivf, residual)),
        idCol, "__pq_space", m, k)
    }
    IvfIndex.writeVectorMeta(df.sparkSession, indexPath, metric,
      pqVariant = if (residual) "residual" else "raw", pqBits = numBits)
    writeIndex(withPid, vecCol, indexPath, ivf, Codec(pq, residual, numBits))
    writePq(df.sparkSession, indexPath, pq)
    IndexIdentity.publish(df.sparkSession, indexPath)
    (ivf, pq)
  }

  /** Build over a graft table snapshot, recording the covered version —
    * enables [[optimizeForTable]]'s delta append. Index rows carry
    * `_rowaddr` (read withRowAddr) like [[IvfIndex.buildForTable]]. */
  def buildForTable(spark: SparkSession, tablePath: String, idCol: String,
                    vecCol: String, indexPath: String, nlist: Int,
                    m: Int = 8, k: Int = 256,
                    metric: String = "l2",
                    numBits: Int = 8,
                    ivfCentroidsFile: Option[String] = None,
                    pqCodebookFile: Option[String] = None): (IvfIndex.Model, PqModel) = {
    val preIvf = ivfCentroidsFile.map(IvfIndex.loadModel(spark, _))
    // a precomputed codebook dictates the code SPACE it was trained in and
    // its own (m, k); silently re-spacing it would encode garbage
    val prePq = pqCodebookFile.map(loadPq(spark, _))
    val bookMeta = pqCodebookFile.map(IvfIndex.vectorMeta(spark, _))
    val residual = bookMeta.forall(_.pqVariant == "residual")
    pqCodebookFile.zip(bookMeta).foreach { case (f, bm) =>
      require(bm.metric == metric,
        s"codebook $f was trained for metric '${bm.metric}', build asked for '$metric'")
      if (residual) require(ivfCentroidsFile.nonEmpty,
        "residual-space codebook requires ivf_centroids_file — the codes are " +
          "only meaningful relative to the centroids they were trained against")
    }
    val mEff = prePq.map(_.codebooks.length).getOrElse(m)
    val kEff = prePq.map(_.codebooks.head.length).getOrElse(k)
    buildOverTable(spark, tablePath, idCol, vecCol, indexPath) { df =>
      build(df, idCol, vecCol, indexPath, preIvf.map(_.nlist).getOrElse(nlist),
        mEff, kEff, metric, residual = residual, numBits = numBits,
        preIvf = preIvf, prePq = prePq)
    } { out =>
      Map("nlist" -> out._1.nlist.toString,
        "pqM" -> mEff.toString, "pqK" -> kEff.toString, "metric" -> metric,
        "numBits" -> numBits.toString) ++
        ivfCentroidsFile.map("centroidsFile" -> _) ++
        pqCodebookFile.map("codebookFile" -> _)
    }
  }

  // ------------------------------------------------------------ quantizer

  private[operators] case class Codec(pq: PqModel, residual: Boolean, numBits: Int)
  protected val indexType = "IVF_PQ"
  val ServeCodesBudgetKey = "spark.graft.cache.pq.serve.partitions"
  protected val codeCols = Seq(CodeCol)

  private[operators] def loadCodec(spark: SparkSession, indexPath: String,
                                   meta: IvfIndex.VectorMeta): Codec =
    Codec(loadPq(spark, indexPath), meta.pqVariant == "residual", meta.pqBits)

  /** The column PQ quantizes: the residual against the row's (already
    * assigned) centroid, or the raw vector. */
  private def space(vecCol: String, ivf: IvfIndex.Model, residual: Boolean): Column =
    if (residual) ColumnBridge.column(ResidualByPid(
      ColumnBridge.expression(col(vecCol)),
      ColumnBridge.expression(col(IvfIndex.PidCol)), ivf.centroids))
    else col(vecCol)

  protected def encode(withPid: DataFrame, vecCol: String, ivf: IvfIndex.Model,
                       c: Codec): DataFrame =
    withPid.withColumn(CodeCol, ColumnBridge.column(PqEncode(
      ColumnBridge.expression(space(vecCol, ivf, c.residual)), c.pq, c.numBits)))

  /** ADC table of one probed partition: over `q − centroid(pid)` for the
    * residual variant, over `q` for raw. */
  private def table(ivf: IvfIndex.Model, c: Codec, q: Array[Float], pid: Int): Array[Array[Float]] =
    if (c.residual) {
      val cent = ivf.centroids(pid)
      c.pq.adcTable(Array.tabulate(q.length)(i => q(i) - cent(i)))
    } else c.pq.adcTable(q)

  protected def scoreColumn(ivf: IvfIndex.Model, c: Codec, q: Array[Float],
                            probes: Seq[Int]): Column = {
    // one table per probed partition (nprobes·m·k floats); the raw
    // variant's single table serves every probed partition
    val raw = if (c.residual) null else c.pq.adcTable(q)
    val tables = new Array[Array[Array[Float]]](ivf.nlist)
    probes.foreach(pid => tables(pid) = if (c.residual) table(ivf, c, q, pid) else raw)
    ColumnBridge.column(PqAdcByPid(ColumnBridge.expression(col(CodeCol)),
      ColumnBridge.expression(col(IvfIndex.PidCol).cast("int")), tables, c.numBits))
  }

  private[operators] def scorer(ivf: IvfIndex.Model, c: Codec, q: Array[Float],
                                pid: Int): IvfQuantized.CodeScorer = {
    val t = table(ivf, c, q, pid)
    val bits = c.numBits
    (codes, _) => adc(t, codes, bits)
  }

  /** Encode one in-memory vector (nearest code per subspace) — the
    * interpreted face of [[PqEncode]]; HNSW quantized node storage encodes
    * graph nodes with it. */
  private[graft] def encodeVec(v: Array[Float], model: PqModel,
                               numBits: Int = 8): Array[Byte] = {
    val dsub = model.dsub
    val out = new Array[Byte](codeBytes(model.m, numBits))
    var s = 0
    while (s < model.m) {
      val books = model.codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < books.length) {
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = v(s * dsub + i).toDouble - books(c)(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      if (numBits == 4)
        out(s >> 1) = (out(s >> 1) | (best << ((s & 1) * 4))).toByte
      else out(s) = best.toByte
      s += 1
    }
    out
  }

  /** Bytes per code array: m at 8 bits, ⌈m/2⌉ at 4 bits. */
  private[graft] def codeBytes(m: Int, numBits: Int): Int =
    if (numBits == 4) (m + 1) / 2 else m

  /** Code of subspace `s` out of a (possibly nibble-packed) code array. */
  @inline private[graft] def codeAt(codes: Array[Byte], s: Int, numBits: Int): Int =
    if (numBits == 4) (codes(s >> 1) >> ((s & 1) * 4)) & 0xf
    else codes(s) & 0xff

  /** ADC distance of one code array against a per-query lookup table —
    * the scalar form of the codegen'd [[PqAdcByPid]]. */
  private[graft] def adc(table: Array[Array[Float]], codes: Array[Byte],
                             numBits: Int = 8): Double = {
    var acc = 0.0
    var s = 0
    val subs = if (numBits == 4) codes.length * 2 else codes.length
    val n = math.min(subs, table.length)
    while (s < n) { acc += table(s)(codeAt(codes, s, numBits)); s += 1 }
    acc
  }

  /** Persist codebooks under `indexPath/pq` ([[loadPq]]'s layout). */
  private[operators] def writePq(spark: SparkSession, indexPath: String, pq: PqModel): Unit = {
    val pqRows = for {
      s <- pq.codebooks.indices
      c <- pq.codebooks(s).indices
    } yield (s, c, pq.codebooks(s)(c).toSeq)
    spark.createDataFrame(pqRows).toDF("sub", "code", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$indexPath/pq")
  }

  def loadPq(spark: SparkSession, indexPath: String): PqModel = {
    val rows = spark.read.parquet(s"$indexPath/pq").orderBy("sub", "code").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val books = Array.ofDim[Array[Float]](m, k)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    PqModel(books.map(_.toArray))
  }
}

/** (vector, ivf pid) → residual `v − centroid(pid)` as array<float>.
  * Build-path kernel for residual PQ (reference `vector/residual.rs`):
  * reuses the already-computed IVF assignment instead of re-ranking
  * centroids. */
case class ResidualByPid(left: Expression, right: Expression,
                         centroids: Array[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "ivf_residual"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"ivf_residual requires (array<float>, int), got (${l.catalogString}, ${r.catalogString})")
  }
  override def nullSafeEval(vecIn: Any, pidIn: Any): Any = {
    val arr = vecIn.asInstanceOf[ArrayData]
    val cent = centroids(pidIn.asInstanceOf[Int])
    val n = arr.numElements()
    require(n == cent.length,
      s"ivf_residual: vector dim $n != trained dim ${cent.length}")
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = arr.getFloat(i) - cent(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val cent = ctx.freshName("cent"); val out = ctx.freshName("out")
      s"""
         |float[] $cent = $cents[$b];
         |int $n = $a.numElements();
         |if ($n != $cent.length) {
         |  throw new IllegalArgumentException(
         |    "ivf_residual: vector dim " + $n + " != trained dim " + $cent.length);
         |}
         |float[] $out = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $a.getFloat($i) - $cent[$i];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** (PQ codes, ivf pid) → approximate l2² against the pid's OWN per-query
  * ADC table (residual variant: the table for partition p is built from
  * `q − centroid(p)`; raw variant: every probed pid shares the table of
  * `q`). `tables` is dense-indexed by pid with nulls for unprobed
  * partitions — rows only reach this expression through the probe-pid
  * filter, but a null table fails soft (+∞) rather than NPE. Codegen'd —
  * the hot loop of the ANN candidate pass; the tables are per-query
  * constants shipped as a codegen reference object. */
case class PqAdcByPid(left: Expression, right: Expression,
                      tables: Array[Array[Array[Float]]],
                      numBits: Int = 8)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(numBits == 8 || numBits == 4, s"numBits must be 4 or 8, got $numBits")
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_by_pid"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_by_pid requires (binary, int), got (${l.catalogString}, ${r.catalogString})")
  }
  override def nullSafeEval(codesIn: Any, pidIn: Any): Any = {
    val codes = codesIn.asInstanceOf[Array[Byte]]
    val pid = pidIn.asInstanceOf[Int]
    val table = if (pid >= 0 && pid < tables.length) tables(pid) else null
    if (table == null) Double.MaxValue
    else PqIndex.adc(table, codes, numBits)
  }
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val tablesRef = ctx.addReferenceObj("adcTables", tables, "float[][][]")
    nullSafeCodeGen(ctx, ev, (codes, pid) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val t = ctx.freshName("t")
      val codeOf =
        if (numBits == 4) s"(($codes[$i >> 1] >> (($i & 1) * 4)) & 0xf)"
        else s"($codes[$i] & 0xff)"
      val subCount =
        if (numBits == 4) s"$codes.length * 2" else s"$codes.length"
      s"""
         |float[][] $t = ($pid >= 0 && $pid < $tablesRef.length) ? $tablesRef[$pid] : null;
         |double $acc;
         |if ($t == null) {
         |  $acc = Double.MAX_VALUE;
         |} else {
         |  $acc = 0.0;
         |  int $n = java.lang.Math.min($subCount, $t.length);
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $t[$i][$codeOf];
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** vector → PQ code bytes (nearest sub-centroid per subspace).
  * Codegen'd — runs once per corpus row at build/optimize time.
  * `numBits` = 8 (one code per byte) or 4 (reference `num_bits`,
  * `rust/lance-index/src/vector/pq.rs:44` — two codes per byte, low
  * nibble = even subspace; requires k ≤ 16, halves the code size at
  * equal m). */
case class PqEncode(child: Expression, model: PqIndex.PqModel,
                    numBits: Int = 8)
    extends UnaryExpression {
  require(numBits == 8 || numBits == 4, s"numBits must be 4 or 8, got $numBits")
  require(model.k <= (1 << numBits),
    s"k=${model.k} codes do not fit numBits=$numBits")
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"pq_encode requires array<float>, got ${t.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    PqIndex.encodeVec(input.asInstanceOf[ArrayData].toFloatArray(), model, numBits)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val books = ctx.addReferenceObj("codebooks", model.codebooks, "float[][][]")
      val m = model.m; val dsub = model.dsub
      val nBytes = PqIndex.codeBytes(m, numBits)
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val out = ctx.freshName("out")
      val acc = ctx.freshName("acc"); val dd = ctx.freshName("dd")
      val sub = ctx.freshName("sub"); val cent = ctx.freshName("cent")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val store =
        if (numBits == 4)
          s"$out[$s >> 1] = (byte)($out[$s >> 1] | ($best << (($s & 1) * 4)));"
        else s"$out[$s] = (byte) $best;"
      s"""
         |byte[] $out = new byte[$nBytes];
         |for (int $s = 0; $s < $m; $s++) {
         |  float[][] $sub = $books[$s];
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $sub.length; $c++) {
         |    float[] $cent = $sub[$c];
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      double $dd = (double) $v.getFloat($s * $dsub + $i) - $cent[$i];
         |      $acc += $dd * $dd;
         |    }
         |    if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |  }
         |  $store
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
