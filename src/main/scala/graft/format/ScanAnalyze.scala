package graft.format

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr, shiftrightunsigned}

/** EXPLAIN ANALYZE-equivalent for graft scans (reference `analyze_plan`,
  * Python `dataset.py`; per-scan metrics `rust/lance/src/io/exec/
  * filtered_read.rs:208-230`, surfaced through EXPLAIN ANALYZE in
  * `rust/lance/src/dataset/sql.rs:226-281`): run a query against a table
  * and report what the scan actually did — how many fragments pruning
  * skipped, the rows/bytes behind the surviving fragments, DV masking, and
  * rows returned.
  *
  * Spark-first split of responsibilities: the EXECUTION-side counters
  * (files read, bytes read, rows produced per operator) are already
  * first-class on `FileSourceScanExec`'s SQLMetrics in the Spark UI /
  * `EXPLAIN ANALYZE`-style listeners — we do not reinvent them. What Spark
  * cannot know is the FRAGMENT-level planning story (manifest fragments vs
  * zonemap-surviving fragments, DV row masking), because those decisions
  * live in [[GraftFileIndex]] and the manifest. This module reports both
  * sides from one execution.
  */
object ScanAnalyze {

  /** Run `SELECT columns FROM table WHERE predicate` over the snapshot and
    * report scan metrics, in reference `filtered_read` naming. The query
    * EXECUTES (counts are measured, not estimated). */
  def analyze(spark: SparkSession, tablePath: String,
              predicate: Option[String] = None,
              columns: Seq[String] = Nil,
              version: Option[Long] = None): Seq[(String, Long)] = {
    val m = GraftTable.loadManifest(spark, tablePath, version)
    val df0 = GraftTable.read(spark, tablePath, version)
    val df1 = predicate.map(p => df0.filter(expr(p))).getOrElse(df0)
    val df = if (columns.nonEmpty) df1.select(columns.map(col): _*) else df1
    // resolve the scan's GraftFileIndex AFTER optimization — extension rules
    // (addr-prune, scalar-index mask) may replace the index instance
    val qe = df.queryExecution
    val idx = qe.optimizedPlan.collectFirst {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] &&
            lr.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[GraftFileIndex] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
          .location.asInstanceOf[GraftFileIndex]
    }
    // a constant-false predicate folds the scan away entirely (PruneFilters
    // → empty LocalRelation): the perfect prune — report zero scanned, not
    // an error from the debugging tool itself.
    // execute THIS QueryExecution (not a derived count() plan) so the
    // pruning observability read below belongs to the plan that ran
    val rowsReturned = qe.toRdd.count()
    val kept = idx.map(_.lastKept).getOrElse(Seq.empty)
    Seq(
      "fragments_total" -> m.fragments.length.toLong,
      "fragments_scanned" -> kept.length.toLong,
      "fragments_pruned" -> (m.fragments.length - kept.length).toLong,
      "rows_in_scanned_fragments" -> kept.map(_.rows).sum,
      "bytes_in_scanned_fragments" -> kept.map(_.sizeBytes).sum,
      "dv_rows_masked" -> dvRowsMasked(spark, tablePath, m, kept),
      "rows_returned" -> rowsReturned)
  }

  /** DV rows the SCAN actually masked — deletions behind the KEPT
    * fragments, not the table-global `numDeleted` (reference counts
    * per-scan masking, `filtered_read.rs:208-230`): on a table where
    * pruning skips the deletion-heavy fragments, the global number is
    * misleading exactly when the tool matters. All-kept and no-DV cases
    * answer from the manifest with zero IO; a genuinely partial scan
    * pays one aggregate over the (small) DV address files. */
  private[format] def dvRowsMasked(spark: SparkSession, tablePath: String,
      m: GraftManifest, kept: Seq[FragmentMeta]): Long = {
    if (m.dvFiles.isEmpty || m.numDeleted == 0L || kept.isEmpty) 0L
    else if (kept.length == m.fragments.length) m.numDeleted
    else {
      val t = new org.apache.hadoop.fs.Path(tablePath)
      val dv = spark.read.parquet(m.dvFiles.map(p =>
        new org.apache.hadoop.fs.Path(t, p).toString): _*)
      // addr = fragId << 32 | position (Manifest.scala dvFiles docs)
      val keptIds = kept.map(_.id)
      dv.filter(shiftrightunsigned(col("addr"), 32).isin(keptIds: _*)).count()
    }
  }

  /** [[analyze]] for an ARBITRARY SQL query (reference `analyze_plan`
    * instruments ANY plan DataFusion built, `sql.rs:226-281`, not just
    * single-table scans): EXECUTES the query once and reports, for EVERY
    * graft scan leaf in the optimized plan, that table's fragment-pruning
    * story — so a user debugging a slow multi-table join can ask "which
    * side's pruning failed" from one surface. Rows are
    * (scan ordinal, table path, metric, value); scan -1 carries the
    * query-level rows_returned / graft_scans counters. Requires
    * GraftExtensions for catalog tables (GraftSqlRule swaps the DSv2
    * relation for the GraftFileIndex-backed native plan; the V1 fallback
    * scan exposes no fragment metadata — such a plan reports 0 leaves). */
  def analyzeSql(spark: SparkSession, sql: String): Seq[Seq[Any]] = {
    val qe = spark.sql(sql).queryExecution
    // one GraftFileIndex INSTANCE can back several scan leaves (a temp view
    // self-join inlines the same LogicalRelation twice) and `lastKept` is
    // per-instance — so every leaf gets a fresh clone and the CLONED plan
    // is what executes, keeping per-leaf attribution exact even when the
    // two sides prune differently
    val leaves = scala.collection.mutable.ArrayBuffer.empty[GraftFileIndex]
    val cloned = qe.optimizedPlan.transform {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] &&
            lr.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[GraftFileIndex] =>
        val rel = lr.relation.asInstanceOf[HadoopFsRelation]
        val idx = rel.location.asInstanceOf[GraftFileIndex]
        val clone = new GraftFileIndex(spark, idx.tablePath, idx.manifest,
          idx.dvApplied, idx.maskApplied, idx.addrPruned)
        leaves += clone
        lr.copy(relation = rel.copy(location = clone)(rel.sparkSession))
    }
    // execute the cloned plan so each leaf's pruning observability
    // (lastKept) belongs to the plan that actually ran
    val exec = org.apache.spark.sql.graftshim.ColumnBridge
      .ofRows(spark, cloned).queryExecution
    val rowsReturned = exec.toRdd.count()
    val header = Seq(
      Seq[Any](-1, "(query)", "rows_returned", rowsReturned),
      Seq[Any](-1, "(query)", "graft_scans", leaves.length.toLong))
    val scans = leaves.zipWithIndex.flatMap { case (idx, i) =>
      val m = idx.manifest
      val kept = idx.lastKept
      val tbl = idx.tablePath.toString
      Seq(
        Seq[Any](i, tbl, "fragments_total", m.fragments.length.toLong),
        Seq[Any](i, tbl, "fragments_scanned", kept.length.toLong),
        Seq[Any](i, tbl, "fragments_pruned",
          (m.fragments.length - kept.length).toLong),
        Seq[Any](i, tbl, "rows_in_scanned_fragments", kept.map(_.rows).sum),
        Seq[Any](i, tbl, "bytes_in_scanned_fragments",
          kept.map(_.sizeBytes).sum),
        Seq[Any](i, tbl, "dv_rows_masked",
          dvRowsMasked(spark, tbl, m, kept)))
    }
    header ++ scans ++ operatorRows(exec.executedPlan)
  }

  /** EXPLAIN-ANALYZE-style per-operator output-row counts from the
    * EXECUTED plan's SQLMetrics (reference `analyze_plan` reports executed
    * metrics on every operator, `sql.rs:226-281`, not just the scans):
    * rows are (-1, "(operator)", "<i> <NodeName>", numOutputRows) in
    * pre-order, AQE final subtrees unwrapped, exchange-reused subtrees
    * included once. Operators without a row counter (exchanges report
    * shuffle records under a different key) are skipped. */
  private def operatorRows(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[Seq[Any]] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      // the ORIGINAL exchange's subtree is walked at its own position —
      // recursing here would report every operator under it twice
      case _: ReusedExchangeExec => Nil
      case w: WholeStageCodegenExec => w.children.flatMap(walk)
      case i: InputAdapter => i.children.flatMap(walk)
      case other => other +: other.children.flatMap(walk)
    }
    walk(plan).zipWithIndex.flatMap { case (node, i) =>
      node.metrics.get("numOutputRows").map(m =>
        Seq[Any](-1, "(operator)", f"$i%02d ${node.nodeName}", m.value))
    }
  }

  /** Row stores backing a vector index's nodes: the IVF `vectors` dataset,
    * or the HNSW base graph plus its delta generations. */
  private[format] def indexRowStores(spark: SparkSession, ip: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(ip)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$ip/vectors")))
      Seq(s"$ip/vectors")
    else {
      val base =
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$ip/graph")))
          Seq(s"$ip/graph")
        else Nil
      base ++ fs.listStatus(new org.apache.hadoop.fs.Path(ip))
        .filter(_.getPath.getName.startsWith("graph_delta_"))
        .map(_.getPath.toString)
    }
  }

  /** Planning-side metrics for an ANN search (`CALL g.system.analyze_knn`):
    * the probe-pruning story every IVF family shares — ranked by the same
    * centroid model the families' searches use (hamming ranks the packed
    * sign-bit query). Node counts are ONE nlist-sized aggregate over the
    * index's own row store, never the table. */
  private[format] def knnMetrics(spark: SparkSession, tablePath: String,
      m: GraftManifest, e: IndexMeta, query: Array[Float],
      nprobes: Int): Seq[Seq[Any]] = {
    import graft.operators.{BinaryIvfIndex, IvfIndex}
    import org.apache.spark.sql.functions.{count, lit}
    val ip = s"$tablePath/_indices/${e.name}"
    val metric = IvfIndex.vectorMeta(spark, ip).metric
    val (nlist, probes): (Int, Seq[Int]) =
      if (metric == "hamming") {
        val bm = BinaryIvfIndex.loadModel(spark, ip)
        (bm.nlist,
          bm.rank(BinaryIvfIndex.packQuery(query))
            .take(math.min(nprobes, bm.nlist)))
      } else {
        val model = IvfIndex.loadModel(spark, ip)
        // cosine families rank in the unit-normalized space
        val q = if (metric != "cosine") query else {
          val n = math.sqrt(query.map(x => x.toDouble * x).sum)
          if (n <= 0.0) query else query.map(x => (x / n).toFloat)
        }
        (model.nlist, model.rank(q).take(math.min(nprobes, model.nlist)))
      }
    val sizes: Map[Int, Long] =
      spark.read.parquet(indexRowStores(spark, ip): _*)
        .groupBy(col(graft.operators.IvfIndex.PidCol)).agg(count(lit(1)))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probed = probes.toSet
    // uncovered fragments split the way the combined search splits them:
    // rewrite outputs of fully-covered sources serve DEFERRED from the
    // index (no table scan); only the rest rides the flat leg — the
    // freshness cost the next optimize_index would retire
    val covered = e.fragmentIds.toSet
    val (deferred, fresh) =
      graft.operators.IvfIndex.deferServing(m, covered)
    Seq(
      Seq[Any]("partitions_total", nlist.toLong),
      Seq[Any]("partitions_probed", probed.size.toLong),
      Seq[Any]("index_nodes_total", sizes.values.sum),
      Seq[Any]("index_nodes_scanned",
        sizes.collect { case (p, n) if probed(p) => n }.sum),
      Seq[Any]("fresh_rows_scanned", fresh.map(_.rows).sum),
      Seq[Any]("deferred_rows_served", deferred.map(_.rows).sum),
      Seq[Any]("dv_rows_masked", m.numDeleted))
  }
}
