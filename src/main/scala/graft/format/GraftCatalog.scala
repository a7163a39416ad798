package graft.format

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 catalog for graft tables — the pure-SQL surface (SURVEY
  * §2.11; reference: Lance namespace/catalog integrations and the Spark
  * connector's `CREATE TABLE ... USING lance` path):
  *
  * {{{
  *   spark.sql.catalog.graft            = graft.format.GraftCatalog
  *   spark.sql.catalog.graft.warehouse  = /data/graft
  *
  *   CREATE TABLE graft.db.t (id BIGINT, v STRING) USING graft
  *   INSERT INTO graft.db.t VALUES ...
  *   SELECT * FROM graft.db.t VERSION AS OF 3        -- or a tag/branch name
  *   DELETE FROM graft.db.t WHERE id = 4
  *   UPDATE graft.db.t SET v = 'x' WHERE id = 1      -- via GraftSqlRule
  *   MERGE INTO graft.db.t USING s ON ...            -- via GraftSqlRule
  *   ALTER TABLE graft.db.t RENAME COLUMN v TO w     -- metadata-only
  * }}}
  *
  * A table named `graft.ns1.ns2.t` lives at `<warehouse>/ns1/ns2/t`.
  *
  * Reads: with [[GraftExtensions]] installed (the documented configuration),
  * [[GraftSqlRule]] replaces the v2 relation with the native
  * `GraftTable.read` plan — full parquet vectorized scan, pushdown, zonemap
  * pruning, scalar-index rewrites, DV anti-join. Without extensions a
  * correctness-preserving V1 row-based fallback scan serves the read.
  * Writes ride the V1 write fallback onto [[GraftTable.write]]'s
  * CAS-committed fragment appends — executors write data either way.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def fs(p: Path) = p.getFileSystem(spark.sessionState.newHadoopConf())

  private[format] def tablePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  private def isTable(p: Path): Boolean = fs(p).exists(new Path(p, "_manifests"))

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTable).map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(new Path(tablePath(ident)))

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (!isTable(new Path(path))) throw new NoSuchTableException(ident)
    new GraftSqlTable(path, ident.toString, GraftTable.loadManifest(spark, path))
  }

  /** `VERSION AS OF x` — numeric version, tag name, or branch name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!isTable(new Path(path))) throw new NoSuchTableException(ident)
    val m = version.toLongOption match {
      case Some(v) => GraftTable.loadManifest(spark, path, Some(v))
      case None =>
        GraftTable.tags(spark, path).get(version) match {
          case Some(v) => GraftTable.loadManifest(spark, path, Some(v))
          case None if GraftTable.branches(spark, path).contains(version) =>
            GraftTable.loadManifest(spark, path, None, Some(version))
          case None => throw new IllegalArgumentException(
            s"$ident has no version, tag, or branch '$version'")
        }
    }
    new GraftSqlTable(path, ident.toString, m, pinned = true)
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): latest version whose commit
    * time (the `commitTsMillis` stamped into each manifest at CAS-commit;
    * file mtime only as a legacy fallback) is ≤ t. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePath(ident)
    if (!isTable(new Path(path))) throw new NoSuchTableException(ident)
    val v = GraftTable.versionAsOfTimestamp(spark, path, timestampMicros / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"$ident has no version at or before timestamp $timestampMicros"))
    new GraftSqlTable(path, ident.toString,
      GraftTable.loadManifest(spark, path, Some(v)), pinned = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // CLUSTERED BY (cols) INTO n BUCKETS arrives as a bucket transform —
    // store the spec so every INSERT lands bucketed (GraftTable.write's
    // appends inherit the configured spec); PARTITIONED BY stays rejected
    val (bucketCfg, rest) = partitions.partition(_.name == "bucket")
    require(rest.isEmpty,
      "graft tables do not take PARTITIONED BY — fragments are the unit of parallelism")
    // the DDL route must reject reserved system column names like the
    // write route does — an empty table created with `_rowid` would
    // collide with the derived-id scan schema on first read
    val rsv = GraftTable.requireNotReserved(schema.fieldNames.toSeq)
    require(rsv.isEmpty, s"reserved graft column names: ${rsv.mkString(",")}")
    val bucket = bucketCfg.headOption.map { b =>
      val n = b.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        "bucket transform carries no bucket count"))
      val cols = b.references.map(_.fieldNames.mkString(".")).toSeq
      require(cols.nonEmpty, "CLUSTERED BY needs at least one column")
      // Spark identifier resolution is case-insensitive — match it here and
      // store the schema's canonical casing so downstream lookups resolve
      val canon = cols.map(c => schema.fieldNames
        .find(_.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"bucket column $c not in the table schema")))
      Map(GraftTable.BucketNumKey -> n.toString,
        GraftTable.BucketColsKey -> canon.mkString(","))
    }.getOrElse(Map.empty[String, String])
    val path = tablePath(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val config = properties.asScala.toMap -- Seq(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_COMMENT)
    GraftTable.createEmpty(spark, path, schema, config ++ bucket)
    new GraftSqlTable(path, ident.toString, GraftTable.loadManifest(spark, path))
  }

  /** Changes are validated upfront and BATCHED per kind — one commit per
    * kind (adds, renames+casts via one `alterColumns` call, drops, props) —
    * so a multi-change ALTER cannot fail half-applied within a kind
    * (ADVICE r4: per-change commits left the table half-altered when a
    * later change failed). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTable(new Path(path))) throw new NoSuchTableException(ident)
    // validate all changes before committing anything
    val adds = changes.collect { case a: TableChange.AddColumn =>
      require(a.fieldNames().length == 1, "graft: nested ADD COLUMN unsupported")
      a.fieldNames().head -> s"CAST(NULL AS ${a.dataType().sql})"
    }
    // nested field names arrive as a path array; graft addresses them as
    // dotted paths. A single segment passes through VERBATIM (a top-level
    // column whose quoted name contains a literal '.' keeps working —
    // GraftTable resolves exact top-level names before splitting); only
    // multi-segment paths require dot-free segments.
    def dotted(fieldNames: Array[String]): String = {
      if (fieldNames.length > 1)
        fieldNames.foreach(s => require(!s.contains("."),
          s"graft: nested path segment may not contain '.': $s"))
      fieldNames.mkString(".")
    }
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      dotted(r.fieldNames()) -> r.newName()
    }
    val casts = changes.collect { case u: TableChange.UpdateColumnType =>
      dotted(u.fieldNames()) -> u.newDataType().sql
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      dotted(d.fieldNames())
    }
    val props = changes.collect { case p: TableChange.SetProperty =>
      p.property() -> p.value()
    }
    // ALTER TABLE ... UNSET TBLPROPERTIES → config key removal (reference
    // delete_config_keys)
    val unsets = changes.collect { case p: TableChange.RemoveProperty =>
      p.property()
    }
    // COMMENT ON COLUMN / ALTER COLUMN ... COMMENT → field metadata
    // (updateFieldMetadata), the standard "comment" key DESCRIBE reads
    val comments = changes.collect { case c: TableChange.UpdateColumnComment =>
      require(c.fieldNames().length == 1, "graft: nested COLUMN COMMENT unsupported")
      c.fieldNames().head -> c.newComment()
    }
    // ALTER COLUMN ... SET/DROP NOT NULL (reference AlterColumn.nullable)
    val nullabilities = changes.collect { case n: TableChange.UpdateColumnNullability =>
      dotted(n.fieldNames()) -> n.nullable()
    }
    val handled = adds.size + renames.size + casts.size + drops.size +
      props.size + unsets.size + comments.size + nullabilities.size
    require(handled == changes.size, "graft: unsupported ALTER TABLE change in " +
      changes.filterNot(c => c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.UpdateColumnComment] ||
        c.isInstanceOf[TableChange.UpdateColumnNullability]).mkString(", "))
    if (adds.nonEmpty) GraftTable.addColumnsFiles(spark, path, adds)
    if (renames.nonEmpty || casts.nonEmpty)
      GraftTable.alterColumns(spark, path, renames.toMap, casts.toMap)
    if (drops.nonEmpty) GraftTable.dropColumns(spark, path, drops)
    if (props.nonEmpty || unsets.nonEmpty)
      GraftTable.updateConfig(spark, path, props.toMap, unsets)
    comments.foreach { case (c, cmt) =>
      GraftTable.updateFieldMetadata(spark, path, c, Map("comment" -> cmt))
    }
    if (nullabilities.nonEmpty)
      GraftTable.alterNullability(spark, path, nullabilities.toMap)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tablePath(ident))
    isTable(p) && fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(tablePath(oldIdent))
    val to = new Path(tablePath(newIdent))
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (fs(to).exists(to)) throw new TableAlreadyExistsException(newIdent)
    fs(from).mkdirs(to.getParent)
    if (!fs(from).rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ------------------------------------------------------------ procedures

  /** Maintenance surface as SQL procedures (the Spark-side analogue of the
    * reference's Python maintenance API — `optimize.compact_files`,
    * `cleanup_old_versions`, tags, `restore`):
    *
    * {{{
    *   CALL g.system.compact(table => 'db.t', target_rows => 100000)
    *   CALL g.system.cleanup(table => 'db.t', keep_last => 3)
    *   CALL g.system.tag(table => 'db.t', name => 'v-prod', version => 7)
    *   CALL g.system.restore(table => 'db.t', version => 5)
    *   CALL g.system.optimize_scalar_index(table => 'db.t', `column` => 'id')
    * }}}
    *
    * Each returns a single summary row (version/rows), so `CALL` results
    * are inspectable from SQL. */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    val name = (ident.namespace() :+ ident.name()).mkString(".").toLowerCase
    def pathOf(table: String): String = s"$warehouse/${table.replace('.', '/')}"
    name match {
      case "system.compact" => GraftProcedures.compact(pathOf)
      case "system.cluster" => GraftProcedures.cluster(pathOf)
      case "system.cleanup" => GraftProcedures.cleanup(pathOf)
      case "system.add_base" => GraftProcedures.addBase(pathOf)
      case "system.import_files" => GraftProcedures.importFiles(pathOf)
      case "system.tag" => GraftProcedures.tag(pathOf)
      case "system.tags" => GraftProcedures.tagsList(pathOf)
      case "system.delete_tag" => GraftProcedures.deleteTag(pathOf)
      case "system.update_tag" => GraftProcedures.updateTag(pathOf)
      case "system.analyze" => GraftProcedures.analyzeProc(pathOf)
      case "system.analyze_query" => GraftProcedures.analyzeQuery()
      case "system.explain_query" => GraftProcedures.explainQuery()
      case "system.branches" => GraftProcedures.branchesList(pathOf)
      case "system.create_branch" => GraftProcedures.createBranch(pathOf)
      case "system.delete_branch" => GraftProcedures.deleteBranch(pathOf)
      case "system.restore" => GraftProcedures.restore(pathOf)
      case "system.shallow_clone" => GraftProcedures.shallowCloneProc(pathOf)
      case "system.optimize_scalar_index" => GraftProcedures.optimizeScalarIndex(pathOf)
      case "system.create_index" => GraftProcedures.createIndex(pathOf)
      case "system.drop_index" => GraftProcedures.dropIndex(pathOf)
      case "system.indices" => GraftProcedures.indices(pathOf)
      case "system.fragments" => GraftProcedures.fragments(pathOf)
      case "system.optimize_index" => GraftProcedures.optimizeIndexProc(pathOf)
      case "system.stats" => GraftProcedures.stats(pathOf)
      case "system.data_stats" => GraftProcedures.dataStatsProc(pathOf)
      case "system.index_stats" => GraftProcedures.indexStats(pathOf)
      case "system.ivf_model" => GraftProcedures.ivfModel(pathOf)
      case "system.validate" => GraftProcedures.validateProc(pathOf)
      case "system.history" => GraftProcedures.history(pathOf)
      case "system.prewarm_index" => GraftProcedures.prewarmIndex(pathOf)
      case "system.fts_search" => GraftProcedures.ftsSearch(pathOf)
      case "system.knn_search" => GraftProcedures.knnSearch(pathOf)
      case "system.analyze_knn" => GraftProcedures.analyzeKnn(pathOf)
      case "system.analyze_fts" => GraftProcedures.analyzeFts(pathOf)
      case "system.blob_slice" => GraftProcedures.blobSlice(pathOf)
      case "system.wal_open" => GraftProcedures.walOpen(pathOf)
      case "system.wal_seal" => GraftProcedures.walSeal(pathOf)
      case "system.wal_flush" => GraftProcedures.walFlush(pathOf)
      case "system.wal_status" => GraftProcedures.walStatus(pathOf)
      case "system.wal_cleanup" => GraftProcedures.walCleanup(pathOf)
      case "system.wal_discard" => GraftProcedures.walDiscard(pathOf)
      case "system.cache_stats" => GraftProcedures.cacheStats()
      case "system.merge_index_metadata" => GraftProcedures.mergeIndexMetadata(pathOf)
      case "system.train_ivf_model" => GraftProcedures.trainIvfModel(pathOf)
      case "system.train_pq_model" => GraftProcedures.trainPqModel(pathOf)
      case "system.ivf_partition" => GraftProcedures.ivfPartition(pathOf)
      case other => throw new IllegalArgumentException(
        s"graft: unknown procedure $other (known: system.compact, system.cleanup, " +
          "system.tag, system.restore, system.optimize_scalar_index, " +
          "system.create_index, system.drop_index, system.indices, " +
          "system.stats, system.index_stats)")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array("compact", "cluster", "cleanup", "add_base", "import_files", "tag",
        "tags", "delete_tag", "update_tag", "analyze", "analyze_query",
        "explain_query", "branches",
        "create_branch", "delete_branch", "restore", "optimize_scalar_index",
        "create_index", "drop_index", "indices", "fragments", "optimize_index",
        "stats", "data_stats", "index_stats", "validate", "history",
        "prewarm_index", "fts_search", "knn_search", "analyze_knn",
        "analyze_fts", "ivf_model", "shallow_clone", "blob_slice",
        "wal_open", "wal_seal", "wal_flush", "wal_status", "wal_cleanup",
        "wal_discard", "cache_stats", "merge_index_metadata",
        "train_ivf_model", "train_pq_model", "ivf_partition")
      .map(Identifier.of(Array("system"), _))

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => Array(p.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = new Path((warehouse +: namespace).mkString("/"))
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = new Path((warehouse +: namespace).mkString("/"))
      fs(p).exists(p) && !isTable(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val p = new Path((warehouse +: namespace).mkString("/"))
    fs(p).mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft: ALTER NAMESPACE unsupported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace).mkString("/"))
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      if (!cascade && f.listStatus(p).nonEmpty)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(p, true)
    }
  }
}

/** A graft table as seen by the DSv2 catalog: pinned to the manifest loaded
  * at resolution time (snapshot isolation per statement, and the carrier for
  * `VERSION/TIMESTAMP AS OF`). */
class GraftSqlTable(val path: String, ident: String, val manifest: GraftManifest,
                    val pinned: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = ident
  override def schema(): StructType = manifest.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** Table config + snapshot facts for `SHOW TBLPROPERTIES` / DESCRIBE. */
  override def properties(): util.Map[String, String] =
    (manifest.config ++ Map(
      "graft.version" -> manifest.version.toString,
      "graft.operation" -> manifest.operation,
      "graft.fragments" -> manifest.fragments.size.toString,
      "graft.rows" -> manifest.liveRows.toString,
      "graft.deleted" -> manifest.numDeleted.toString)).asJava

  /** Snapshot read for this table's pinned manifest. */
  private[format] def snapshot(spark: SparkSession): DataFrame =
    GraftTable.readFragments(spark, path, manifest, manifest.fragments)

  /** Correctness fallback scan (V1, row-based) for sessions WITHOUT
    * GraftExtensions; with extensions, [[GraftSqlRule]] replaces the whole
    * relation with the native plan and this builder is never executed. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType =
        StructType(manifest.schema.fields.map(f =>
          org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable)))
      override def pruneColumns(requiredSchema: StructType): Unit =
        if (requiredSchema.nonEmpty) required = requiredSchema
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val req = required
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = req
            override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
              val df = snapshot(context.sparkSession)
              df.select(req.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*).rdd
            }
          }.asInstanceOf[T]
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              require(!pinned, s"cannot write to time-traveled table $ident")
              // WAL-routed ingest (MemWAL from SQL): a table configured with
              // graft.wal.region sends INSERT INTO through the commit-free
              // WAL append (auto-opening a generation); flush via
              // CALL g.system.wal_flush. INSERT OVERWRITE stays a real
              // commit — truncation must be transactional.
              val cfg = GraftTable.loadManifest(SparkSession.active, path).config
              cfg.get(GraftTable.WalRegionKey) match {
                case Some(region) if !overwrite =>
                  val owner = cfg.getOrElse(GraftTable.WalOwnerKey, "sql")
                  // auto-open with a bounded retry: two concurrent INSERTs
                  // can both see "no Open generation" — the exclusive .s0
                  // create picks one winner, the loser just appends into
                  // the winner's generation on the next attempt
                  var attempts = 0
                  var done = false
                  while (!done) {
                    attempts += 1
                    if (!WalIngest.generations(SparkSession.active, path, region)
                        .exists(_.state == "Open")) {
                      try WalIngest.open(SparkSession.active, path, region, owner)
                      catch {
                        case e @ (_: java.io.IOException | _: IllegalStateException)
                            if attempts < 5 => // another writer won the open
                      }
                    }
                    try {
                      WalIngest.append(SparkSession.active, path, region, owner, data)
                      done = true
                    } catch {
                      // the generation sealed/flushed between lookup and
                      // append: re-resolve (a fresh one will auto-open)
                      case e: IllegalArgumentException if attempts < 5 &&
                          e.getMessage != null && e.getMessage.contains("need Open") =>
                    }
                  }
                  // auto-flush: fold every N INSERTs into one commit
                  // (graft.wal.autoflush.batches — the SQL twin of the
                  // streaming sink's flushEvery)
                  cfg.get(GraftTable.WalAutoFlushKey).map { v =>
                    val n = scala.util.Try(v.toInt).getOrElse(
                      throw new IllegalArgumentException(
                        s"${GraftTable.WalAutoFlushKey} must be a positive integer, got '$v'"))
                    require(n >= 1,
                      s"${GraftTable.WalAutoFlushKey} must be >= 1, got $n")
                    n
                  }.foreach { n =>
                    val s = SparkSession.active
                    WalIngest.generations(s, path, region)
                      .find(_.state == "Open")
                      .filter(g => WalIngest.batchCount(s, path, region,
                        g.generation) >= n)
                      .foreach(_ => WalIngest.flush(s, path, region, owner))
                  }
                case _ =>
                  GraftTable.write(data, path, if (overwrite) "overwrite" else "append")
              }
            }
          }
      }
    }

  // `DELETE FROM t WHERE ...` → DV commit, no data rewrite
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftSqlTable.filterToSql(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!pinned, s"cannot delete from time-traveled table $ident")
    val pred =
      if (filters.isEmpty) "true"
      else filters.flatMap(GraftSqlTable.filterToSql).map(p => s"($p)").mkString(" AND ")
    GraftTable.delete(SparkSession.active, path, pred)
  }
}

/** Bound implementations of the `g.system.*` maintenance procedures. Each
  * returns one summary row through a [[org.apache.spark.sql.connector.read.LocalScan]]
  * so `CALL` is inspectable from SQL. */
private[format] object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{DataTypes => DT, StructField}

  private def spark = SparkSession.active

  /** UTF8String-coerce driver-side strings for InternalRow literals. */
  private def cell(v: Any): Any = v match {
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case a: Seq[_] =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(a.map(cell).toArray)
    case other => other
  }

  private def procRows(procName: String, params: Array[ProcedureParameter],
                       out: StructType)(run: InternalRow => Seq[Seq[Any]]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance procedure $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft maintenance procedure $procName"
        override def parameters(): Array[ProcedureParameter] = params
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val out0 = run(input).map(r => InternalRow.fromSeq(r.map(cell))).toArray
          val scan: Scan = new LocalScan {
            override def rows(): Array[InternalRow] = out0
            override def readSchema(): StructType = out
          }
          java.util.Collections.singletonList(scan).iterator()
        }
      }
    }

  private def proc(procName: String, params: Array[ProcedureParameter],
                   out: StructType)(run: InternalRow => Seq[Any]): UnboundProcedure =
    procRows(procName, params, out)(in => Seq(run(in)))

  private def p(n: String, t: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(n, t).build()
  private def pd(n: String, t: org.apache.spark.sql.types.DataType, d: String) =
    ProcedureParameter.in(n, t).defaultValue(d).build()

  def compact(pathOf: String => String): UnboundProcedure =
    proc("compact",
      Array(p("table", DT.StringType), pd("target_rows", DT.LongType, "1048576"),
        pd("materialize_deletions", DT.DoubleType, "0.1")),
      StructType(Seq(StructField("version", DT.LongType), StructField("rows", DT.LongType),
        StructField("fragments_removed", DT.LongType),
        StructField("fragments_added", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.compactFiles(spark, path, in.getLong(1), in.getDouble(2))
      // reference CompactionMetrics: the commit's stamped rewrite stats
      Seq(m.version, m.liveRows,
        m.opStats.getOrElse("fragments_removed", 0L),
        m.opStats.getOrElse("fragments_added", 0L))
    }

  /** `CALL g.system.cluster(table => 'db.t', columns => 'lang,n_chars',
    * curve => 'range'|'zorder')` — cluster the layout so zonemaps prune
    * ([[GraftTable.cluster]]); zorder tightens EVERY listed column's
    * zonemap at once. */
  def cluster(pathOf: String => String): UnboundProcedure =
    proc("cluster",
      Array(p("table", DT.StringType), p("columns", DT.StringType),
        pd("target_rows", DT.LongType, "1048576"),
        pd("curve", DT.StringType, "'range'")),
      StructType(Seq(StructField("version", DT.LongType), StructField("rows", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val cols = in.getUTF8String(1).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val m = GraftTable.cluster(spark, path, cols, in.getLong(2),
        in.getUTF8String(3).toString)
      Seq(m.version, m.liveRows)
    }

  def cleanup(pathOf: String => String): UnboundProcedure =
    proc("cleanup",
      Array(p("table", DT.StringType), pd("keep_last", DT.LongType, "3"),
        // reference `cleanup_old_versions(delete_unverified=...)`
        // (`cleanup.rs`): files referenced by NO manifest are normally
        // spared for 7 days (they may be a concurrent writer's staged
        // work); true sweeps them immediately — only safe when no write
        // is in flight, exactly as the reference documents
        pd("delete_unverified", DT.BooleanType, "false"),
        // reference `error_if_tagged_old_versions` (default true): a tag
        // protecting an old version fails the call instead of silently
        // retaining storage
        pd("error_if_tagged_old_versions", DT.BooleanType, "true")),
      StructType(Seq(StructField("latest_version", DT.LongType),
        StructField("old_versions_removed", DT.LongType),
        StructField("files_removed", DT.LongType),
        StructField("bytes_removed", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val grace = if (in.getBoolean(2)) 0L else 7L * 24 * 3600 * 1000
      val stats = GraftTable.cleanupOldVersions(spark, path, in.getLong(1).toInt,
        unverifiedGraceMillis = grace,
        errorIfTaggedOldVersions = in.getBoolean(3))
      Seq(GraftTable.loadManifest(spark, path).version,
        stats.oldVersionsRemoved, stats.filesRemoved, stats.bytesRemoved)
    }

  /** `CALL g.system.add_base(table => 'db.t', name => 'cold', path => '...')`
    * — register a multi-base storage location (reference Python
    * `add_bases`, `dataset.py:2154`). */
  def addBase(pathOf: String => String): UnboundProcedure =
    proc("add_base",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        p("path", DT.StringType)),
      StructType(Seq(StructField("version", DT.LongType),
        StructField("bases", DT.StringType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.addBases(spark, path,
        Map(in.getUTF8String(1).toString -> in.getUTF8String(2).toString))
      Seq(m.version, m.bases.keys.toSeq.sorted.mkString(","))
    }

  /** Commit-batched WAL ingest from SQL (the MemWAL surface, see
    * [[WalIngest]]): `wal_open` fences a generation, `INSERT INTO` on a
    * table with `graft.wal.region` set appends commit-free, `wal_flush`
    * folds the generation into ONE commit, `wal_status` inspects, and
    * `wal_cleanup` reclaims generations a compaction merged away. */
  def walOpen(pathOf: String => String): UnboundProcedure =
    proc("wal_open",
      Array(p("table", DT.StringType), p("region", DT.StringType),
        pd("owner", DT.StringType, "'sql'")),
      StructType(Seq(StructField("generation", DT.LongType)))) { in =>
      Seq(WalIngest.open(spark, pathOf(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString, in.getUTF8String(2).toString))
    }

  def walSeal(pathOf: String => String): UnboundProcedure =
    proc("wal_seal",
      Array(p("table", DT.StringType), p("region", DT.StringType),
        pd("owner", DT.StringType, "'sql'")),
      StructType(Seq(StructField("sealed", DT.BooleanType)))) { in =>
      WalIngest.seal(spark, pathOf(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString, in.getUTF8String(2).toString)
      Seq(true)
    }

  def walFlush(pathOf: String => String): UnboundProcedure =
    proc("wal_flush",
      Array(p("table", DT.StringType), p("region", DT.StringType),
        pd("owner", DT.StringType, "'sql'")),
      StructType(Seq(StructField("rows_flushed", DT.LongType),
        StructField("version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val rows = WalIngest.flush(spark, path,
        in.getUTF8String(1).toString, in.getUTF8String(2).toString)
      Seq(rows, GraftTable.loadManifest(spark, path).version)
    }

  def walStatus(pathOf: String => String): UnboundProcedure =
    procRows("wal_status",
      Array(p("table", DT.StringType), p("region", DT.StringType)),
      StructType(Seq(StructField("generation", DT.LongType),
        StructField("state", DT.StringType),
        StructField("owner", DT.StringType)))) { in =>
      WalIngest.generations(spark, pathOf(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString)
        .map(g => Seq[Any](g.generation, g.state, g.owner))
    }

  def walDiscard(pathOf: String => String): UnboundProcedure =
    proc("wal_discard",
      Array(p("table", DT.StringType), p("region", DT.StringType),
        pd("owner", DT.StringType, "'sql'")),
      StructType(Seq(StructField("generation_discarded", DT.LongType)))) { in =>
      Seq(WalIngest.discard(spark, pathOf(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString, in.getUTF8String(2).toString))
    }

  /** `CALL g.system.merge_index_metadata(table => 'db.t', uuid => '...',
    * index_type => 'BTREE'|'INVERTED', `column` => 'c')` — commit an
    * externally-built index by uuid (reference `merge_index_metadata`,
    * `python/dataset.py:3006`): workers staged disjoint fragment-slice
    * sub-indexes under `_indices/_staged/<uuid>/part-*` (via
    * `ScalarIndex.buildBtreePart` / `Fts.buildPartForTable`); this call
    * validates snapshot/coverage, merges the data, and makes the ONE
    * manifest commit. */
  def mergeIndexMetadata(pathOf: String => String): UnboundProcedure =
    proc("merge_index_metadata",
      Array(p("table", DT.StringType), p("uuid", DT.StringType),
        p("index_type", DT.StringType), p("column", DT.StringType),
        pd("id_col", DT.StringType, s"'${GraftTable.RowIdCol}'")),
      StructType(Seq(StructField("index_name", DT.StringType),
        StructField("rows_merged", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val uuid = in.getUTF8String(1).toString
      val column = in.getUTF8String(3).toString
      in.getUTF8String(2).toString.toUpperCase match {
        case "BTREE" =>
          val n = graft.index.ScalarIndex.mergeBtreeParts(spark, path, column, uuid)
          Seq(s"btree_$column", n)
        case "INVERTED" | "FTS" =>
          val n = graft.operators.Fts.mergePartsForTable(spark, path,
            in.getUTF8String(4).toString, column, uuid)
          Seq(s"fts_$column", n)
        case other => throw new IllegalArgumentException(
          s"merge_index_metadata supports BTREE and INVERTED, got $other " +
            "(matching the reference's supported set)")
      }
    }

  /** `CALL g.system.cache_stats()` — per-JVM index-cache observability
    * (reference `session.index_cache` size/hit-rate, `dataset.py:3039`):
    * entries vs configured budget and cumulative hits/misses for the
    * HNSW graph LRU (`spark.graft.cache.hnsw.indexes`), the IVF
    * centroid cache (`spark.graft.cache.centroids.indexes`; every IVF-
    * family model lookup counts, the Spark paths' and serving's alike),
    * the driver-local serve caches, and the driver-local take
    * (`take_local`: takes answered on the driver vs Spark fallbacks).
    * Every index row reports one [[graft.operators.ServeCache]]'s counters
    * (fts_serve: the two postings LRUs, which share theirs). */
  def cacheStats(): UnboundProcedure =
    procRows("cache_stats", Array.empty[ProcedureParameter],
      StructType(Seq(StructField("cache", DT.StringType),
        StructField("entries", DT.LongType),
        StructField("capacity", DT.LongType),
        StructField("hits", DT.LongType),
        StructField("misses", DT.LongType)))) { _ =>
      import graft.operators.{HnswIndex, IvfIndex}
      Seq(
        Seq[Any]("hnsw_graph", HnswIndex.cachedPaths().size.toLong,
          HnswIndex.currentCacheCapacity.toLong,
          HnswIndex.cacheHits.get(), HnswIndex.cacheMisses.get()),
        Seq[Any]("ivf_centroids", IvfIndex.centroidCacheSize.toLong,
          IvfIndex.currentCentroidCapacity.toLong,
          IvfIndex.centroidCacheHits.get(), IvfIndex.centroidCacheMisses.get()),
        // driver-local single-query serving caches (r14): entries are
        // resident PARTITIONS, not indexes
        Seq[Any]("hnsw_serve", HnswIndex.serveCacheSize.toLong,
          HnswIndex.currentServeCapacity.toLong,
          HnswIndex.serveHits.get(), HnswIndex.serveMisses.get()),
        Seq[Any]("ivf_serve", IvfIndex.serveCacheSize.toLong,
          IvfIndex.currentServeCapacity.toLong,
          IvfIndex.serveHits.get(), IvfIndex.serveMisses.get()),
        // IVF_PQ driver-local serving (r16): entries are resident per-
        // partition CODE arrays; refine vectors share the ivf_serve LRU
        Seq[Any]("pq_serve", graft.operators.PqIndex.serveCacheSize.toLong,
          graft.operators.PqIndex.currentServeCapacity.toLong,
          graft.operators.PqIndex.serveHits.get(),
          graft.operators.PqIndex.serveMisses.get()),
        // IVF_SQ driver-local serving (r16): same shape as pq_serve
        Seq[Any]("sq_serve", graft.operators.SqIndex.serveCacheSize.toLong,
          graft.operators.SqIndex.currentServeCapacity.toLong,
          graft.operators.SqIndex.serveHits.get(),
          graft.operators.SqIndex.serveMisses.get()),
        // IVF_RQ driver-local serving (r16): resident (codes, rnorm) rows
        Seq[Any]("rq_serve", graft.operators.RqIndex.serveCacheSize.toLong,
          graft.operators.RqIndex.currentServeCapacity.toLong,
          graft.operators.RqIndex.serveHits.get(),
          graft.operators.RqIndex.serveMisses.get()),
        // hamming binary IVF driver-local serving (r16): resident packed bits
        Seq[Any]("hamming_serve", graft.operators.BinaryIvfIndex.serveCacheSize.toLong,
          graft.operators.BinaryIvfIndex.currentServeCapacity.toLong,
          graft.operators.BinaryIvfIndex.serveHits.get(),
          graft.operators.BinaryIvfIndex.serveMisses.get()),
        // FTS driver-local serving (r15): entries are resident per-token
        // postings lists
        Seq[Any]("fts_serve", graft.operators.Fts.serveCacheSize.toLong,
          graft.operators.Fts.currentServeTermCapacity.toLong,
          graft.operators.Fts.serveHits.get(),
          graft.operators.Fts.serveMisses.get()),
        // driver-local bounded take: hits are takes read on the driver,
        // misses takes over the byte bound (the capacity) that ran as a
        // Spark scan; entries are the cached parquet readers
        Seq[Any]("take_local", LocalTake.readerCount.toLong, LocalTake.MaxBytes,
          LocalTake.localTakes.get(), LocalTake.sparkTakes.get()))
    }

  def walCleanup(pathOf: String => String): UnboundProcedure =
    proc("wal_cleanup",
      Array(p("table", DT.StringType), p("region", DT.StringType)),
      StructType(Seq(StructField("generations_merged", DT.LongType)))) { in =>
      Seq(WalIngest.cleanupMerged(spark, pathOf(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString).toLong)
    }

  /** `CALL g.system.import_files(table => 'db.t', paths => 'a.parquet,b.parquet')`
    * — zero-copy registration of existing parquet files as fragments
    * (reference external-write commit, `Fragment.create_from_file` +
    * `LanceDataset.commit`; see [[GraftTable.commitFiles]]). */
  def importFiles(pathOf: String => String): UnboundProcedure =
    proc("import_files",
      Array(p("table", DT.StringType), p("paths", DT.StringType),
        pd("mode", DT.StringType, "'append'")),
      StructType(Seq(StructField("version", DT.LongType),
        StructField("rows", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val files = in.getUTF8String(1).toString.split(",").map(_.trim).filter(_.nonEmpty)
      val m = GraftTable.commitFiles(spark, path, files.toSeq,
        in.getUTF8String(2).toString)
      Seq(m.version, m.liveRows)
    }

  def tag(pathOf: String => String): UnboundProcedure =
    proc("tag",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        pd("version", DT.LongType, "-1")),
      StructType(Seq(StructField("tagged_version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val v = in.getLong(2) match {
        case -1L => GraftTable.loadManifest(spark, path).version
        case x => x
      }
      GraftTable.tag(spark, path, in.getUTF8String(1).toString, v)
      Seq(v)
    }

  /** `CALL g.system.tags(table => 'db.t')` — the tag list, newest-tagged
    * version first (reference `Tags.list_ordered`, default desc). */
  def tagsList(pathOf: String => String): UnboundProcedure =
    procRows("tags",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("name", DT.StringType),
        StructField("version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      GraftTable.tags(spark, path).toSeq
        .sortBy { case (n, v) => (-v, n) }
        .map { case (n, v) => Seq(n, v) }
    }

  /** `CALL g.system.branches(table => 'db.t')` — branch inventory with each
    * branch's head version (reference `Branches.list`/`list_ordered`). */
  def branchesList(pathOf: String => String): UnboundProcedure =
    procRows("branches",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("name", DT.StringType),
        StructField("head_version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      GraftTable.branches(spark, path).toSeq.sorted.map { b =>
        Seq(b, GraftTable.loadManifest(spark, path, None, Some(b)).version)
      }
    }

  /** `CALL g.system.delete_tag(table => 'db.t', name => 'v1')` — reference
    * `Tags.delete`: the version loses its cleanup protection. */
  def deleteTag(pathOf: String => String): UnboundProcedure =
    proc("delete_tag",
      Array(p("table", DT.StringType), p("name", DT.StringType)),
      StructType(Seq(StructField("deleted", DT.StringType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val name = in.getUTF8String(1).toString
      GraftTable.deleteTag(spark, path, name)
      Seq(name)
    }

  /** `CALL g.system.analyze(table => 'db.t', predicate => 'id > 100',
    * columns => 'id,v')` — reference `analyze_plan` (`dataset.py`; scan
    * metrics `filtered_read.rs:208-230`): EXECUTES the scan and reports
    * what it did — fragments total/scanned/pruned, rows and bytes behind
    * the surviving fragments, DV rows masked, rows returned. The first
    * question a user debugging a slow scan asks ("how many fragments did
    * pruning actually skip?"), answerable from SQL. */
  def analyzeProc(pathOf: String => String): UnboundProcedure =
    procRows("analyze",
      Array(p("table", DT.StringType), pd("predicate", DT.StringType, "''"),
        pd("columns", DT.StringType, "''"),
        pd("version", DT.LongType, "-1")),
      StructType(Seq(StructField("metric", DT.StringType),
        StructField("value", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      // a debugging procedure fails with a clear message on explicit
      // NULLs, never an NPE (getUTF8String returns null for NULL input)
      val predicate = Option(in.getUTF8String(1)).map(_.toString)
        .filter(_.trim.nonEmpty)
      val cols = Option(in.getUTF8String(2)).map(_.toString).getOrElse("")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val version = in.getLong(3) match { case -1L => None; case v => Some(v) }
      ScanAnalyze.analyze(spark, path, predicate, cols, version)
        .map { case (k, v) => Seq(k, v) }
    }

  /** `CALL g.system.explain_query(query => '...', mode => 'formatted')` —
    * reference `explain_plan(verbose)` (`dataset.py`; `sql.rs` EXPLAIN):
    * the PLANNING twin of `analyze_query` — returns the plan WITHOUT
    * executing. Modes: simple | extended | formatted | codegen | cost. */
  def explainQuery(): UnboundProcedure =
    procRows("explain_query",
      Array(p("query", DT.StringType), pd("mode", DT.StringType, "'formatted'")),
      StructType(Seq(StructField("line", DT.StringType)))) { in =>
      val sql = Option(in.getUTF8String(0)).map(_.toString)
        .filter(_.trim.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          "explain_query: `query` must be a non-empty SQL string"))
      val mode = Option(in.getUTF8String(1)).map(_.toString)
        .filter(_.trim.nonEmpty).getOrElse("formatted")
      // validate the mode name up front (clear error), then go through the
      // EXPLAIN statement itself: since Spark 3.2 a top-level command
      // EXECUTES when spark.sql() builds the Dataset — planning an
      // INSERT/DROP via .queryExecution.explainString would run the
      // mutation. EXPLAIN wraps the parsed plan in ExplainCommand, which
      // plans with command execution SKIPPED, honoring the
      // "returns the plan WITHOUT executing" contract.
      val kw = org.apache.spark.sql.execution.ExplainMode.fromString(mode) match {
        case org.apache.spark.sql.execution.SimpleMode => ""
        case org.apache.spark.sql.execution.ExtendedMode => "EXTENDED"
        case org.apache.spark.sql.execution.CodegenMode => "CODEGEN"
        case org.apache.spark.sql.execution.CostMode => "COST"
        case _ => "FORMATTED"
      }
      spark.sql(s"EXPLAIN $kw $sql").collect()
        .flatMap(_.getString(0).split("\n")).toSeq.map(l => Seq[Any](l))
    }

  /** `CALL g.system.analyze_query(query => 'SELECT ... JOIN ...')` — the
    * arbitrary-plan twin of `analyze` (reference `analyze_plan` instruments
    * ANY plan, `sql.rs:226-281`): executes the SQL once and reports every
    * graft scan leaf's fragment pruning, so a multi-table join debugger
    * sees which side's pruning failed from one CALL. */
  def analyzeQuery(): UnboundProcedure =
    procRows("analyze_query",
      Array(p("query", DT.StringType)),
      StructType(Seq(StructField("scan", DT.IntegerType),
        StructField("table_path", DT.StringType),
        StructField("metric", DT.StringType),
        StructField("value", DT.LongType)))) { in =>
      val sql = Option(in.getUTF8String(0)).map(_.toString)
        .filter(_.trim.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          "analyze_query: `query` must be a non-empty SQL string"))
      ScanAnalyze.analyzeSql(spark, sql)
    }

  /** `CALL g.system.update_tag(table => 'db.t', name => 'prod', version => 7)`
    * — reference `Tags.update` (`dataset.py:4969`): retarget an existing tag
    * in one atomic replace (promote-to-prod without a missing-ref window).
    * version => -1 (default) retargets to the latest version. */
  def updateTag(pathOf: String => String): UnboundProcedure =
    proc("update_tag",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        pd("version", DT.LongType, "-1")),
      StructType(Seq(StructField("tagged_version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val v = in.getLong(2) match {
        case -1L => GraftTable.loadManifest(spark, path).version
        case x => x
      }
      GraftTable.updateTag(spark, path, in.getUTF8String(1).toString, v)
      Seq(v)
    }

  /** `CALL g.system.create_branch(table => 'db.t', name => 'exp', version => 3)`
    * — reference `create_branch`: metadata-only fork sharing data files.
    * version => -1 (default) branches from the latest version. */
  def createBranch(pathOf: String => String): UnboundProcedure =
    proc("create_branch",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        pd("version", DT.LongType, "-1")),
      StructType(Seq(StructField("head_version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val from = in.getLong(2) match { case -1L => None; case x => Some(x) }
      val m = GraftTable.createBranch(spark, path,
        in.getUTF8String(1).toString, from)
      Seq(m.version)
    }

  /** `CALL g.system.delete_branch(table => 'db.t', name => 'exp')` —
    * reference `Branches.delete` (`dataset.py:5010`): drops the branch
    * lineage; branch-only fragments become cleanup-eligible, shared data
    * survives. */
  def deleteBranch(pathOf: String => String): UnboundProcedure =
    proc("delete_branch",
      Array(p("table", DT.StringType), p("name", DT.StringType)),
      StructType(Seq(StructField("deleted", DT.StringType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val name = in.getUTF8String(1).toString
      GraftTable.deleteBranch(spark, path, name)
      Seq(name)
    }

  def restore(pathOf: String => String): UnboundProcedure =
    proc("restore",
      Array(p("table", DT.StringType), p("version", DT.LongType)),
      StructType(Seq(StructField("version", DT.LongType), StructField("rows", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.restore(spark, path, in.getLong(1))
      Seq(m.version, m.liveRows)
    }

  /** `CALL g.system.shallow_clone(table => 'db.t', dest => 'db.t2')` —
    * fork a table to a new catalog name sharing the source's data files
    * (reference `shallow_clone`, `dataset.py`): metadata-only, optional
    * `version` pins an old snapshot. The dest registers in the same
    * catalog namespace, so `SELECT ... FROM g.db.t2` works immediately. */
  def shallowCloneProc(pathOf: String => String): UnboundProcedure =
    proc("shallow_clone",
      Array(p("table", DT.StringType), p("dest", DT.StringType),
        pd("version", DT.LongType, "-1")),
      StructType(Seq(StructField("dest_path", DT.StringType),
        StructField("version", DT.LongType),
        StructField("rows", DT.LongType)))) { in =>
      val src = pathOf(in.getUTF8String(0).toString)
      val dst = pathOf(in.getUTF8String(1).toString)
      val v = in.getLong(2)
      val m = GraftTable.shallowClone(spark, src, dst,
        if (v >= 0) Some(v) else None)
      Seq(dst, m.version, m.liveRows)
    }

  def optimizeScalarIndex(pathOf: String => String): UnboundProcedure =
    proc("optimize_scalar_index",
      Array(p("table", DT.StringType), p("column", DT.StringType)),
      StructType(Seq(StructField("rows_indexed", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      Seq(graft.index.ScalarIndex.optimizeBtree(spark, path,
        in.getUTF8String(1).toString, s"$path/_indices"))
    }

  /** `CALL g.system.optimize_index(table => 'db.t', name => 'btree_id')` —
    * incremental maintenance dispatched from the manifest's committed
    * entry: the index family, column, and build parameters all come from
    * [[IndexMeta]], so the caller names the index and nothing else.
    * Returns the rows newly indexed (a full-rebuild family reports the
    * live row count). */
  def optimizeIndexProc(pathOf: String => String): UnboundProcedure =
    proc("optimize_index",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        pd("retrain", DT.BooleanType, "false"),
        // reference `OptimizeOptions.num_indices_to_merge`
        // (`optimize.rs:8-19`): cap the delta generations / segment files
        // kept after this optimize — 1 = merge everything into one delta,
        // 0 = the index family's default policy. Honored by the
        // delta-accumulating families (HNSW graphs, FTS segments); the
        // IVF families rewrite their deltas wholesale already.
        pd("max_deltas", DT.LongType, "0")),
      StructType(Seq(StructField("rows_indexed", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val idxName = in.getUTF8String(1).toString
      val retrain = in.getBoolean(2)
      val maxDeltas = in.getLong(3).toInt
      val m = GraftTable.loadManifest(spark, path)
      val e = m.indices.find(_.name == idxName).getOrElse(
        throw new IllegalArgumentException(
          s"no index '$idxName' in the manifest (known: ${m.indices.map(_.name).mkString(", ")})"))
      val column = m.logicalName(e.column)
      val idxDir = s"$path/_indices"
      def idCol = e.params.getOrElse("idCol",
        throw new IllegalArgumentException(s"index '$idxName' records no idCol"))
      // retrain (reference `OptimizeOptions.retrain`, `optimize.rs:24-35`):
      // re-learn centroids/codebooks/graphs over the CURRENT data and
      // rebuild the index in one piece — for when the data distribution
      // drifted past what delta appends with frozen quantizers can serve.
      // Build parameters re-dispatch from the manifest entry; supported for
      // the vector families, as in the reference.
      def runRetrain(): Long = {
        def pInt(k: String, dflt: Int) = e.params.get(k).map(_.toInt).getOrElse(dflt)
        def pStr(k: String, dflt: String) = e.params.getOrElse(k, dflt)
        val vectorFamilies = Set("IVF_FLAT", "IVF_PQ", "IVF_SQ", "IVF_RQ",
          "IVF_HNSW", "IVF_HNSW_SQ", "IVF_HNSW_PQ")
        if (!vectorFamilies.contains(e.indexType))
          throw new IllegalArgumentException(
            s"retrain supports the vector index families; '$idxName' is ${e.indexType}")
        // REFUSE legacy entries whose build predates param recording:
        // silently rebuilding a cosine nlist=64 index as l2 nlist=8 (the
        // defaults) would re-rank every subsequent ANN query wrongly with
        // no error anywhere. Such an index must be re-created explicitly.
        require(e.params.contains("nlist"),
          s"index '$idxName' predates build-parameter recording — its " +
            "original nlist/metric are unknown; re-create it with CALL " +
            "create_index instead of retrain")
        val ip = s"$idxDir/$idxName"
        e.indexType match {
          case "IVF_FLAT" if e.params.get("metric").contains("hamming") =>
            graft.operators.BinaryIvfIndex.buildForTable(spark, path, idCol,
              column, ip, pInt("nlist", 8))
          case "IVF_FLAT" =>
            graft.operators.IvfIndex.buildForTable(spark, path, idCol, column,
              ip, pInt("nlist", 8))
          case "IVF_PQ" =>
            graft.operators.PqIndex.buildForTable(spark, path, idCol, column,
              ip, pInt("nlist", 8), pInt("pqM", 8), pInt("pqK", 256),
              pStr("metric", "l2"), numBits = pInt("numBits", 8))
          case "IVF_SQ" =>
            graft.operators.SqIndex.buildForTable(spark, path, idCol, column,
              ip, pInt("nlist", 8), pStr("metric", "l2"))
          case "IVF_RQ" =>
            graft.operators.RqIndex.buildForTable(spark, path, idCol, column,
              ip, pInt("nlist", 8), pStr("metric", "l2"))
          case "IVF_HNSW" | "IVF_HNSW_SQ" | "IVF_HNSW_PQ" =>
            graft.operators.HnswIndex.buildForTable(spark, path, idCol, column,
              ip, pInt("nlist", 8), pInt("m", 16), pInt("efConstruction", 64),
              pStr("metric", "l2"), pStr("storage", "flat"),
              pInt("pqM", 8), pInt("pqK", 256), pqBits = pInt("numBits", 8))
          case other => throw new IllegalArgumentException(
            s"retrain supports the vector index families; '$idxName' is $other")
        }
        GraftTable.countRows(spark, path)
      }
      val n: Long = if (retrain) runRetrain() else e.indexType match {
        case "BTREE" => graft.index.ScalarIndex.optimizeBtree(spark, path, column, idxDir)
        case "JSON" => graft.index.ScalarIndex.optimizeJson(spark, path, column,
          e.params.getOrElse("path",
            throw new IllegalArgumentException(s"index '$idxName' records no json path")),
          idxDir)
        case "LABEL_LIST" =>
          graft.index.ScalarIndex.optimizeLabelList(spark, path, column, idxDir)
        case "BLOOMFILTER" => graft.index.BloomIndex.optimize(spark, path, column, idxDir)
        case "NGRAM" =>
          graft.index.ScalarIndex.optimizeNgram(spark, path, column, idxDir)
        case "IVF_FLAT" if e.params.get("metric").contains("hamming") =>
          graft.operators.BinaryIvfIndex.optimizeForTable(spark, path, idCol,
            column, s"$idxDir/$idxName")
        case "IVF_FLAT" =>
          graft.operators.IvfIndex.optimizeForTable(spark, path, idCol, column,
            s"$idxDir/$idxName")
        case "IVF_PQ" =>
          graft.operators.PqIndex.optimizeForTable(spark, path, idCol, column,
            s"$idxDir/$idxName")
        case "IVF_SQ" =>
          graft.operators.SqIndex.optimizeForTable(spark, path, idCol, column,
            s"$idxDir/$idxName")
        case "IVF_RQ" =>
          graft.operators.RqIndex.optimizeForTable(spark, path, idCol, column,
            s"$idxDir/$idxName")
        case "IVF_HNSW" | "IVF_HNSW_SQ" | "IVF_HNSW_PQ" =>
          // delta sub-graphs over uncovered fragments; compaction-retired
          // coverage is REMAPPED in place (addresses move, graphs don't —
          // graft.operators.IndexRemap), never a full rebuild
          graft.operators.HnswIndex.optimizeForTable(spark, path, idCol, column,
            s"$idxDir/$idxName", maxDeltas = maxDeltas)
        case "FTS" =>
          graft.operators.Fts.optimizeForTable(spark, path, idCol, column,
            maxDeltaFiles = maxDeltas)
        case other => graft.index.ScalarIndexRegistry.get(other) match {
          // registered third-party kind (r16, reference registry.rs)
          case Some(pl) => pl.optimize(spark, path, column, idxDir)
          case None => throw new IllegalArgumentException(
            s"index '$idxName' has unknown type $other")
        }
      }
      Seq(n)
    }

  /** `CALL g.system.create_index(table => 'db.t', `column` => 'id',
    * index_type => 'BTREE'|'BLOOMFILTER'|'LABEL_LIST'|'NGRAM')` — builds
    * under the table's own `_indices/` dir, so the build COMMITS its
    * [[IndexMeta]] into the manifest and the optimizer wires it in
    * automatically. */
  /** `CALL g.system.create_index(table, column, index_type, ...)` — every
    * index family the engine ships, creatable from SQL (reference Python
    * `create_index`/`create_scalar_index` cover both). Vector and FTS
    * builds key rows by `id_col` (default the stable `_rowid`, so no
    * caller-managed id column is needed) and commit their IndexMeta like
    * the scalar families — `optimize_index` then maintains any of them
    * from the manifest entry alone. */
  def createIndex(pathOf: String => String): UnboundProcedure =
    proc("create_index",
      Array(p("table", DT.StringType), p("column", DT.StringType),
        pd("index_type", DT.StringType, "'BTREE'"),
        pd("id_col", DT.StringType, s"'${GraftTable.RowIdCol}'"),
        pd("nlist", DT.LongType, "-1"),
        pd("pq_m", DT.LongType, "8"),
        pd("pq_k", DT.LongType, "256"),
        pd("metric", DT.StringType, "'l2'"),
        pd("m", DT.LongType, "16"),
        pd("ef_construction", DT.LongType, "64"),
        // PQ code width (reference num_bits, vector/pq.rs:44): 8 or 4
        pd("num_bits", DT.LongType, "8"),
        // precomputed models (reference ivf_centroids_file /
        // pq_codebook / train=False, dataset.py:2525-2541): paths saved
        // by train_ivf_model / train_pq_model; build skips training
        pd("ivf_centroids_file", DT.StringType, "''"),
        pd("pq_codebook_file", DT.StringType, "''"),
        // FTS tokenizer options as the stored-config JSON (reference
        // create_scalar_index tokenizer kwargs — base_tokenizer, language,
        // stem, remove_stop_words, ascii_folding...): e.g.
        // '{"stemming":true,"language":"german"}'
        pd("tokenizer_config", DT.StringType, "''")),
      StructType(Seq(StructField("index_name", DT.StringType),
        StructField("version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val column = in.getUTF8String(1).toString
      val idxDir = s"$path/_indices"
      val idCol = in.getUTF8String(3).toString
      // nlist <= 0 → auto-size ≈ sqrt(row count), the reference's default
      // partition sizing (`dataset.py:2832` num_partitions defaulting via
      // target partition size) — each IVF partition then holds ~sqrt(n)
      // vectors, balancing probe fan-out against partition scan cost
      lazy val autoNlist: Int = {
        val n = GraftTable.loadManifest(spark, path).liveRows
        math.max(1, math.min(65536, math.round(math.sqrt(n.toDouble)).toInt))
      }
      val nlistIn = in.getLong(4).toInt
      val nlist = if (nlistIn > 0) nlistIn else autoNlist
      val pqM = in.getLong(5).toInt
      val pqK = in.getLong(6).toInt
      val metric = in.getUTF8String(7).toString
      // Option BEFORE .toString: an explicit NULL argument arrives as a
      // null UTF8String and must read as absent, not NPE (ADVICE r13)
      val ivfCentsFile = Option(in.getUTF8String(11)).map(_.toString).filter(_.nonEmpty)
      val pqBookFile = Option(in.getUTF8String(12)).map(_.toString).filter(_.nonEmpty)
      val name = in.getUTF8String(2).toString.toUpperCase match {
        case "BTREE" =>
          graft.index.ScalarIndex.buildBtree(spark, path, column, idxDir)
          s"btree_$column"
        case "BLOOMFILTER" =>
          graft.index.BloomIndex.build(spark, path, column, idxDir)
          graft.index.BloomIndex.dirName(column)
        case "LABEL_LIST" =>
          graft.index.ScalarIndex.buildLabelList(spark, path, column, idxDir)
          s"labellist_$column"
        case "NGRAM" =>
          graft.index.ScalarIndex.buildNgram(spark, path, column, idxDir)
          s"ngram_$column"
        case "IVF_FLAT" if metric == "hamming" =>
          // binary-vector family (reference DistanceType::Hamming): the
          // column must hold packed binary vectors (e.g. PackSignBits)
          graft.operators.BinaryIvfIndex.buildForTable(spark, path, idCol,
            column, s"$idxDir/ivf_$column", nlist)
          s"ivf_$column"
        case "IVF_FLAT" =>
          graft.operators.IvfIndex.buildForTable(spark, path, idCol, column,
            s"$idxDir/ivf_$column", nlist, centroidsFile = ivfCentsFile)
          s"ivf_$column"
        case "IVF_PQ" =>
          graft.operators.PqIndex.buildForTable(spark, path, idCol, column,
            s"$idxDir/ivfpq_$column", nlist, pqM, pqK, metric,
            numBits = in.getLong(10).toInt,
            ivfCentroidsFile = ivfCentsFile, pqCodebookFile = pqBookFile)
          s"ivfpq_$column"
        case "IVF_SQ" =>
          graft.operators.SqIndex.buildForTable(spark, path, idCol, column,
            s"$idxDir/ivfsq_$column", nlist, metric)
          s"ivfsq_$column"
        case "IVF_RQ" =>
          graft.operators.RqIndex.buildForTable(spark, path, idCol, column,
            s"$idxDir/ivfrq_$column", nlist, metric)
          s"ivfrq_$column"
        case t @ ("IVF_HNSW" | "IVF_HNSW_SQ" | "IVF_HNSW_PQ") =>
          val storage = t match {
            case "IVF_HNSW_SQ" => "sq"
            case "IVF_HNSW_PQ" => "pq"
            case _ => "flat"
          }
          // graph shape knobs (reference create_index kwargs m /
          // ef_construction — `dataset.py:2640-2650`)
          graft.operators.HnswIndex.buildForTable(spark, path, idCol, column,
            s"$idxDir/hnsw_$column", nlist,
            m = in.getLong(8).toInt, efConstruction = in.getLong(9).toInt,
            metric = metric, storage = storage,
            pqM = pqM, pqK = pqK, pqBits = in.getLong(10).toInt)
          s"hnsw_$column"
        case "FTS" =>
          val tcfg = Option(in.getUTF8String(13)).map(_.toString)
            .filter(_.nonEmpty)
            .map(graft.operators.Fts.parseConfig)
            .getOrElse(graft.operators.FtsConfig())
          graft.operators.Fts.buildForTable(spark, path, idCol, column,
            config = tcfg)
          s"fts_$column"
        case other => graft.index.ScalarIndexRegistry.get(other) match {
          // registered third-party kind (r16, reference registry.rs):
          // tokenizer_config doubles as the plugin params string, the
          // reference's new_training_request(params) JSON channel
          case Some(pl) =>
            pl.build(spark, path, column, idxDir,
              Option(in.getUTF8String(13)).map(_.toString).getOrElse(""))
            pl.dirName(column)
          case None => throw new IllegalArgumentException(
            s"graft: unknown index_type $other (BTREE, BLOOMFILTER, LABEL_LIST, " +
              "NGRAM, IVF_FLAT, IVF_PQ, IVF_SQ, IVF_RQ, IVF_HNSW, IVF_HNSW_SQ, " +
              "IVF_HNSW_PQ, FTS, or a registered ScalarIndexRegistry kind)")
        }
      }
      Seq(name, GraftTable.loadManifest(spark, path).version)
    }

  /** `CALL g.system.drop_index(table => 'db.t', name => 'btree_id')` —
    * removes the manifest entry (its own commit) and deletes the dir. */
  def dropIndex(pathOf: String => String): UnboundProcedure =
    proc("drop_index",
      Array(p("table", DT.StringType), p("name", DT.StringType)),
      StructType(Seq(StructField("version", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val name = in.getUTF8String(1).toString
      val m = GraftTable.dropIndexEntry(spark, path, name)
      val dir = new Path(s"$path/_indices/$name")
      val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (f.exists(dir)) f.delete(dir, true)
      Seq(m.version)
    }

  /** `CALL g.system.indices(table => 'db.t')` — the manifest's committed
    * index inventory, one row per index. */
  /** `CALL g.system.stats(table => 'db.t')` — dataset statistics from the
    * manifest alone, zero data IO at any table size (reference
    * `dataset.stats.dataset_stats()`, `dataset.py:5046-5055`:
    * num_deleted_rows / num_fragments / num_small_files). "Small" =
    * fragments under `target_rows` — the same threshold `compact` takes, so
    * `num_small_files > 0` directly answers "would compaction help". */
  def stats(pathOf: String => String): UnboundProcedure =
    proc("stats",
      Array(p("table", DT.StringType), pd("target_rows", DT.LongType, "1048576")),
      StructType(Seq(StructField("num_rows", DT.LongType),
        StructField("num_deleted_rows", DT.LongType),
        StructField("num_fragments", DT.LongType),
        StructField("num_small_files", DT.LongType),
        StructField("version", DT.LongType)))) { in =>
      val m = GraftTable.loadManifest(spark, pathOf(in.getUTF8String(0).toString))
      val target = in.getLong(1)
      Seq(m.liveRows, m.numDeleted, m.fragments.length.toLong,
        m.fragments.count(_.rows < target).toLong, m.version)
    }

  /** `CALL g.system.data_stats(table => 'db.t')` — per-column compressed
    * bytes on disk (reference `statistics.rs` `calculate_data_stats`,
    * `FieldStatistics.bytes_on_disk`): one executor-parallel footer pass
    * ([[GraftTable.dataStats]]); result rows are column-count-sized. */
  def dataStatsProc(pathOf: String => String): UnboundProcedure =
    procRows("data_stats",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("column", DT.StringType),
        StructField("bytes_on_disk", DT.LongType)))) { in =>
      GraftTable.dataStats(spark, pathOf(in.getUTF8String(0).toString))
        .collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1)))
    }

  /** `CALL g.system.index_stats(table => 'db.t', name => 'btree_id')` —
    * index freshness from the manifest entry vs the live fragment set
    * (reference `index_statistics`, `dataset.py:649`: num_indexed_rows /
    * num_unindexed_rows / fragment counts). An index is stale-but-usable
    * while unindexed counts are nonzero (combined search flat-scans the
    * fresh fragments); `optimize_index` brings them back to zero. */
  def indexStats(pathOf: String => String): UnboundProcedure =
    proc("index_stats",
      Array(p("table", DT.StringType), p("name", DT.StringType)),
      StructType(Seq(StructField("index_type", DT.StringType),
        StructField("column", DT.StringType),
        StructField("indexed_version", DT.LongType),
        StructField("num_indexed_fragments", DT.LongType),
        StructField("num_unindexed_fragments", DT.LongType),
        StructField("num_indexed_rows", DT.LongType),
        StructField("num_unindexed_rows", DT.LongType)))) { in =>
      val m = GraftTable.loadManifest(spark, pathOf(in.getUTF8String(0).toString))
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      val covered = e.fragmentIds.toSet
      val (idx, fresh) = m.fragments.partition(f => covered.contains(f.id))
      Seq(e.indexType, e.column, e.indexedVersion,
        idx.length.toLong, fresh.length.toLong,
        idx.map(_.rows).sum, fresh.map(_.rows).sum)
    }

  /** `CALL g.system.ivf_model(table => 'db.t', name => 'ivf_vec')` —
    * inspect a vector index's trained IVF model (reference
    * `get_ivf_model` / `centroids` / `IvfModel.num_partitions`, Python
    * `dataset.py:3495-3543`): one row per partition with its centroid
    * and indexed-node count — the recall/skew debugging surface ("is one
    * partition hogging the corpus?"). Output is nlist rows; the size
    * pass is one count aggregate over the index's own row store
    * (IVF `vectors` or HNSW graph nodes incl. deltas), never the table.
    * The hamming family's packed sign-bit centroids unpack to ±1.0. */
  def ivfModel(pathOf: String => String): UnboundProcedure =
    procRows("ivf_model",
      Array(p("table", DT.StringType), p("name", DT.StringType)),
      StructType(Seq(StructField("partition_id", DT.IntegerType),
        StructField("size", DT.LongType),
        StructField("centroid", DT.createArrayType(DT.DoubleType))))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      require(e.indexType.startsWith("IVF"),
        s"index '$nm' (${e.indexType}) has no IVF model")
      val ip = s"$path/_indices/$nm"
      import org.apache.spark.sql.functions.{col, count, lit}
      val cdf = spark.read.parquet(s"$ip/centroids").orderBy("pid").collect()
      val cents: Seq[(Int, Seq[Double])] = cdf.toSeq.map { r =>
        val pid = r.getInt(0)
        pid -> (r.get(1) match {
          case bytes: Array[Byte] =>
            bytes.toSeq.flatMap(b =>
              (7 to 0 by -1).map(j => if (((b >> j) & 1) != 0) 1.0 else -1.0))
          case _ => r.getSeq[Float](1).map(_.toDouble)
        })
      }
      val stores: Seq[String] = ScanAnalyze.indexRowStores(spark, ip)
      val sizes: Map[Int, Long] =
        if (stores.isEmpty) Map.empty
        else spark.read.parquet(stores: _*)
          .groupBy(col(graft.operators.IvfIndex.PidCol)).agg(count(lit(1)))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      cents.map { case (pid, c) =>
        Seq(pid, sizes.getOrElse(pid, 0L), c)
      }
    }

  /** `CALL g.system.train_ivf_model(table => 'db.t', column => 'emb',
    * nlist => 64, dest => '/models/ivf64')` — train IVF centroids once and
    * persist them standalone (reference `IndicesBuilder.train_ivf` +
    * `IvfModel.save`, `python/lance/indices/builder.py:60`,
    * `indices/ivf.py:27`). `create_index(ivf_centroids_file => dest)` then
    * builds any number of indexes under the saved model WITHOUT retraining
    * (reference `create_index(ivf_centroids=..., train=False)`,
    * `dataset.py:2525,2541`) — at 100 TB the training sample is bounded
    * either way, but the saved model makes rebuilds/branches/clones
    * byte-identical and training a one-time cost. */
  def trainIvfModel(pathOf: String => String): UnboundProcedure =
    proc("train_ivf_model",
      Array(p("table", DT.StringType), p("column", DT.StringType),
        p("nlist", DT.LongType), p("dest", DT.StringType),
        pd("id_col", DT.StringType, s"'${GraftTable.RowIdCol}'"),
        pd("metric", DT.StringType, "'l2'")),
      StructType(Seq(StructField("dest", DT.StringType),
        StructField("nlist", DT.IntegerType),
        StructField("dim", DT.IntegerType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val (nlist, dim) = graft.operators.IvfIndex.trainModelToPath(spark, path,
        in.getUTF8String(4).toString, in.getUTF8String(1).toString,
        in.getLong(2).toInt, in.getUTF8String(5).toString,
        in.getUTF8String(3).toString)
      Seq(in.getUTF8String(3).toString, nlist, dim)
    }

  /** `CALL g.system.train_pq_model(table => 'db.t', column => 'emb',
    * pq_m => 8, pq_k => 256, dest => '/models/pq8',
    * ivf_centroids_file => '/models/ivf64')` — train a PQ codebook once
    * and persist it standalone (reference `IndicesBuilder.train_pq` +
    * `PqModel.save`). With `ivf_centroids_file` the codebook is trained in
    * RESIDUAL space relative to those centroids (and `create_index` will
    * demand the same file back); without it, raw space. */
  def trainPqModel(pathOf: String => String): UnboundProcedure =
    proc("train_pq_model",
      Array(p("table", DT.StringType), p("column", DT.StringType),
        p("pq_m", DT.LongType), p("pq_k", DT.LongType),
        p("dest", DT.StringType),
        pd("id_col", DT.StringType, s"'${GraftTable.RowIdCol}'"),
        pd("metric", DT.StringType, "'l2'"),
        pd("ivf_centroids_file", DT.StringType, "''")),
      StructType(Seq(StructField("dest", DT.StringType),
        StructField("pq_m", DT.IntegerType),
        StructField("pq_k", DT.IntegerType),
        StructField("variant", DT.StringType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val centFile = Option(in.getUTF8String(7)).map(_.toString).filter(_.nonEmpty)
      val (m, k, variant) = graft.operators.PqIndex.trainCodebookToPath(spark,
        path, in.getUTF8String(5).toString, in.getUTF8String(1).toString,
        in.getLong(2).toInt, in.getLong(3).toInt,
        in.getUTF8String(6).toString, in.getUTF8String(4).toString, centFile)
      Seq(in.getUTF8String(4).toString, m, k, variant)
    }

  /** `CALL g.system.ivf_partition(table => 'db.t', name => 'ivf_emb',
    * pid => 0)` — the rows an IVF-family index filed under one partition
    * (reference `VectorIndexReader.read_partition`, `dataset.py:5404` —
    * with `num_partitions`/`centroids` served by `ivf_model`): the
    * distributed-inspection surface ("which ids landed in the skewed
    * partition?"). Output is the partition's ids + addresses — one
    * directory-pruned scan of that partition, never the index.
    *
    * The result is DRIVER-MATERIALIZED (procedure rows), so it is capped:
    * `max_rows` (default 100k) bounds the collect — a skewed partition on
    * a 100 TB table can hold millions of rows, and an inspection call must
    * not OOM the driver (ADVICE r13). Ordered by id, so the cap is a
    * deterministic prefix; full-partition extraction belongs to a table
    * scan filtered on the partition's id set, not a procedure result. */
  def ivfPartition(pathOf: String => String): UnboundProcedure =
    procRows("ivf_partition",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        p("pid", DT.LongType), pd("max_rows", DT.LongType, "100000")),
      StructType(Seq(StructField("id", DT.LongType),
        StructField("rowaddr", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val pid = in.getLong(2).toInt
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      require(e.indexType.startsWith("IVF"),
        s"index '$nm' (${e.indexType}) has no IVF partitions")
      val ip = s"$path/_indices/$nm"
      val stores = ScanAnalyze.indexRowStores(spark, ip)
      require(stores.nonEmpty, s"index '$nm' has no row store")
      import org.apache.spark.sql.functions.col
      val idCol = e.params.getOrElse("idCol", GraftTable.RowIdCol)
      val rows = spark.read.parquet(stores: _*)
      require(rows.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"index id column '$idCol' is ${rows.schema(idCol).dataType.simpleString} — " +
          "ivf_partition reports numeric ids only (indexes keyed by _rowid qualify)")
      val maxRows = in.getLong(3).toInt
      require(maxRows > 0, s"max_rows must be positive, got $maxRows")
      rows.filter(col(graft.operators.IvfIndex.PidCol) === pid)
        .select(col(idCol).cast(DT.LongType).as("id"),
          col(GraftTable.RowAddrCol).as("rowaddr"))
        .orderBy(col("id"))
        .limit(maxRows)
        .collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))
    }

  /** `CALL g.system.prewarm_index(table => 'db.t', name => 'hnsw_vec')` —
    * load an index's query-time in-memory structure ahead of the first
    * query (reference `prewarm_index`, `dataset.py:2991`). Graph families
    * (IVF_HNSW*) build + persist their partitioned graph cache — the cold
    * cost their first search would otherwise pay. Other families have no
    * resident structure on this engine (their reads are pushdown-pruned
    * parquet scans served by the FS/OS cache), so prewarming them is a
    * documented no-op — returning `warmed = false` rather than faking a
    * persist the query path would never consult. */
  def prewarmIndex(pathOf: String => String): UnboundProcedure =
    proc("prewarm_index",
      Array(p("table", DT.StringType), p("name", DT.StringType)),
      StructType(Seq(StructField("index_type", DT.StringType),
        StructField("warmed", DT.BooleanType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      val warmed = e.indexType match {
        case t if t.startsWith("IVF_HNSW") =>
          graft.operators.HnswIndex.warm(spark, s"$path/_indices/${e.name}")
          true
        case _ => false
      }
      Seq(e.indexType, warmed)
    }

  /** `CALL g.system.fts_search(table => 'db.t', name => 'fts_text',
    * query => 'spark engine', k => 10)` — BM25 top-k from SQL, the
    * Spark-side shape of the reference's FTS table function
    * (`rust/lance/src/dataset/udtf.rs` FtsTableProvider): SQL-only users
    * get full-text search without touching the Scala API. The result is
    * top-k (k rows reach the driver — k-sized by construction, never
    * corpus-sized); ids are whatever the index was keyed on (`_rowid` for
    * `CALL create_index` defaults). */
  /** `filter` is the reference's prefiltered FTS: the predicate runs over
    * the live table's columns and the matching ids semi-join the scored
    * postings BEFORE the top-k cut — true BM25 top-k of the matching docs,
    * never a post-filtered short list (and never a silent fallback to the
    * unfiltered ranking).
    *
    * Delete/append-safe like `knn_search` (reference applies a deletion
    * prefilter to FTS too, `prefilter.rs`): when the snapshot carries
    * deletion vectors, the scored postings are semi-joined to the live
    * DV-subtracted id set before the cut (zero overhead when
    * `numDeleted == 0`); rows appended since the build are flat-scored
    * under the index's stored tokenizer config ([[graft.operators.Fts
    * .matchFlat]] — the fresh leg computes BM25 from its own corpus stats,
    * the same contract as the reference's FlatMatchQuery fallback) and
    * merged before the final top-k. */
  def ftsSearch(pathOf: String => String): UnboundProcedure =
    procRows("fts_search",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        p("query", DT.StringType), pd("k", DT.LongType, "10"),
        pd("filter", DT.StringType, "''"),
        pd("query_type", DT.StringType, "'match'"),
        pd("fuzziness", DT.LongType, "1"),
        pd("slop", DT.LongType, "0")),
      StructType(Seq(StructField("id", DT.LongType), StructField("score", DT.DoubleType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      require(e.indexType == "FTS", s"index $nm is ${e.indexType}, not FTS")
      val q = in.getUTF8String(2).toString
      val k = in.getLong(3).toInt
      import org.apache.spark.sql.functions.{col, expr}
      val idCol = e.params.getOrElse("idCol",
        throw new IllegalArgumentException(s"index $nm records no idCol"))
      val withId = idCol == GraftTable.RowIdCol
      val userPred = Option(in.getUTF8String(4)).map(_.toString.trim)
        .filter(_.nonEmpty)
      // DV subtraction: a user filter already routes through the live
      // (DV-subtracted) read; otherwise add the live id set as the allowed
      // mask only when the snapshot actually has deletions.
      val allowed = userPred.map { pred =>
        GraftTable.read(spark, path, withRowId = withId)
          .filter(expr(pred)).select(col(idCol))
      }.orElse {
        if (m.numDeleted > 0L)
          Some(GraftTable.read(spark, path, withRowId = withId).select(col(idCol)))
        else None
      }
      val indexPath = s"$path/_indices/${e.name}"
      val queryType = in.getUTF8String(5).toString.toLowerCase
      val freshFrags = ftsFresh(m, e)
      // structured query types from SQL (reference FullTextQuery —
      // PhraseQuery / MatchQuery(fuzziness), `python/lance/query.py`):
      // phrase ranks the phrase-containing docs by BM25 (phrase membership
      // intersects the allowed mask BEFORE the cut); fuzzy expands the
      // dictionary once and scores expansions. Both stay DV/prefilter-safe
      // through the same allowed mask; both require full index coverage
      // (run optimize_index after appends) — fail fast, never wrong.
      val merged =
        if (queryType != "match") {
          require(Seq("phrase", "fuzzy").contains(queryType),
            s"query_type must be match | phrase | fuzzy: $queryType")
          require(freshFrags.isEmpty,
            s"$queryType search needs full index coverage — run " +
              s"CALL g.system.optimize_index(table, '${e.name}') first")
          val allowedEff = intersectMasks(allowed,
            ftsServableMask(spark, path, m, e, idCol))
          queryType match {
            case "phrase" =>
              val docs = graft.operators.Fts.phraseQuery(spark, indexPath, Seq(q),
                in.getLong(7).toInt)
              graft.operators.Fts.matchQuery(spark, indexPath, Seq(q), k,
                allowedDocs = intersectMasks(Some(docs), allowedEff))
            case _ =>
              graft.operators.Fts.fuzzyQuery(spark, indexPath, Seq(q),
                in.getLong(6).toInt, prefixLength = 0, k, allowedDocs = allowedEff)
          }
        } else ftsMatchCombined(spark, path, m, e, q, k, allowed, userPred)
      // Seq[Any] — an untyped Seq(Long, Double) literal unifies to
      // Seq[Double] and silently widens the id
      merged.collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getDouble(1)))
    }

  /** `CALL g.system.blob_slice(table => 'db.t', `column` => 'payload',
    * addr => 42, offset => 0, length => 4096)` — ranged read of one lazy
    * blob from SQL (reference `take_blobs` + `BlobFile.read`,
    * `blob.rs:42-168`): resolves the row's descriptor without touching
    * payload bytes, then ONE seek+read of exactly the requested span.
    * `addr` is the row's `_rowaddr`. Returns the descriptor alongside the
    * bytes so a caller can page through a multi-GB blob with repeated
    * slices. */
  def blobSlice(pathOf: String => String): UnboundProcedure =
    proc("blob_slice",
      Array(p("table", DT.StringType), p("column", DT.StringType),
        p("addr", DT.LongType), pd("offset", DT.LongType, "0"),
        pd("length", DT.LongType, "65536")),
      StructType(Seq(StructField("addr", DT.LongType),
        StructField("blob_length", DT.LongType),
        StructField("bytes", DT.BinaryType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val colName = in.getUTF8String(1).toString
      val addr = in.getLong(2)
      val offset = in.getLong(3)
      val length = in.getLong(4)
      require(length >= 0 && length <= Int.MaxValue,
        s"length must be in [0, ${Int.MaxValue}], got $length")
      val refs = BlobStore.takeBlobRefs(spark, path, Seq(addr), colName)
      require(refs.nonEmpty,
        s"row $addr has no blob in '$colName' (missing row or null payload)")
      val ref = refs.head
      Seq(ref.addr, ref.length,
        BlobStore.readRange(spark, path, ref, offset, length.toInt))
    }

  /** BM25 match search with the fresh-fragment flat leg: fragments the
    * index does not cover yet are flat-scored under the stored tokenizer
    * config and merged before the final cut. Shared by `fts_search` and
    * `analyze_fts`. */
  /** Fragments an FTS search's FLAT leg must cover. Postings are id-keyed,
    * so a content-preserving rewrite (compaction/clustering) whose sources
    * the index covered keeps serving FROM THE POSTINGS — its outputs must
    * NOT ride the flat leg, or every surviving doc would surface TWICE
    * (indexed + re-scored flat) between the rewrite and the next
    * optimize_index. Same manifest-only partition as the vector families'
    * deferred serving. */
  private[format] def ftsFresh(m: GraftManifest, e: IndexMeta)
      : Seq[graft.format.FragmentMeta] =
    graft.operators.IvfIndex.deferServingById(m, e.fragmentIds.toSet)._2

  /** Doc-id mask for the INDEXED leg when postings may contain ids whose
    * rows died or moved out of index-served state: rows materialized-
    * deleted anywhere on a content-preserving lineage (`lossyLineage` —
    * per-generation DV sidecars can't say this once intermediate
    * generations are gone), or retired coverage NOT accounted by
    * translatable outputs (a value-changing update moved the ids to
    * uncovered fragments — the indexed leg would score the STALE version
    * while the flat leg scores the new one: duplicate ids). The mask is
    * the ids still residing in index-served fragments; None in the common
    * states (fresh index, pure compaction chains, plain appends), so the
    * zero-IO deferred path stays zero-IO. */
  private[format] def ftsServableMask(spark: SparkSession, path: String,
      m: GraftManifest, e: IndexMeta, idCol: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    val covered = e.fragmentIds.toSet
    val liveIds = m.fragments.map(_.id).toSet
    val (translatable, _) =
      graft.operators.IvfIndex.deferServingById(m, covered)
    val unaccounted = covered.diff(liveIds)
      .diff(translatable.flatMap(f => f.srcFragIds ++ f.rootFragIds).toSet)
    // any LIVE uncovered fragment with a lossy lineage threatens the
    // postings: materializing compactions (dead ids) and update/merge/cast
    // rewrites (ids whose content changed) both stamp it
    val lossy = m.fragments.exists(f =>
      !covered.contains(f.id) && f.lossyLineage)
    if (unaccounted.isEmpty && !lossy) None
    else {
      val servable =
        m.fragments.filter(f => covered.contains(f.id)) ++ translatable
      Some(GraftTable.readFragments(spark, path, m, servable,
          withRowId = idCol == GraftTable.RowIdCol)
        .select(col(idCol)))
    }
  }

  /** Intersect optional doc-id masks (semi-join on the first's id column). */
  private def intersectMasks(a: Option[org.apache.spark.sql.DataFrame],
                             b: Option[org.apache.spark.sql.DataFrame])
      : Option[org.apache.spark.sql.DataFrame] = (a, b) match {
    case (Some(x), Some(y)) =>
      import org.apache.spark.sql.functions.col
      Some(x.join(y.select(col(y.columns.head).as(x.columns.head)),
        Seq(x.columns.head), "left_semi"))
    case _ => a.orElse(b)
  }

  private[format] def ftsMatchCombined(spark: SparkSession, path: String,
      m: GraftManifest, e: IndexMeta, q: String, k: Int,
      allowed: Option[org.apache.spark.sql.DataFrame],
      userPred: Option[String],
      // precomputed servable-fragment doc mask — lets analyze_fts report
      // the SAME mask the search actually ran under instead of rebuilding
      // one (possibly under a different id column)
      servable: Option[Option[org.apache.spark.sql.DataFrame]] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val indexPath = s"$path/_indices/${e.name}"
    val idCol = e.params.getOrElse("idCol",
      throw new IllegalArgumentException(s"index ${e.name} records no idCol"))
    val freshFrags = ftsFresh(m, e)
    val allowedEff = intersectMasks(allowed,
      servable.getOrElse(ftsServableMask(spark, path, m, e, idCol)))
    val indexed = graft.operators.Fts.matchQuery(spark, indexPath, Seq(q), k,
      allowedDocs = allowedEff)
    if (freshFrags.isEmpty) indexed else {
      val cfg = graft.operators.Fts.loadConfig(spark, indexPath)
      val fresh0 = GraftTable.readFragments(spark, path, m, freshFrags,
        withRowId = idCol == GraftTable.RowIdCol)
      val fresh = userPred.map(p => fresh0.filter(expr(p))).getOrElse(fresh0)
      val flat = graft.operators.Fts.matchFlat(fresh, idCol, e.column,
        Seq(q), k, config = cfg)
      indexed.unionByName(flat)
        .orderBy(col("_score").desc, col("doc_id")).limit(k)
    }
  }

  /** `CALL g.system.analyze_fts(table => 'db.t', name => 'fts_text',
    * query => 'spark engine', k => 10)` — the FTS twin of `analyze` /
    * `analyze_knn`: EXECUTES the match search and reports how much of the
    * inverted index the query actually touched — analyzed terms, matched
    * dictionary terms, postings rows behind them vs the index total
    * (dictionary-sized aggregates — `df` per token IS its postings-row
    * count), the fresh-fragment flat-leg volume, DV masking, and rows
    * returned. The question behind slow or surprising BM25 results ("did
    * my query hit a stop word? one enormous posting list?"), from SQL. */
  def analyzeFts(pathOf: String => String): UnboundProcedure =
    procRows("analyze_fts",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        p("query", DT.StringType), pd("k", DT.LongType, "10")),
      StructType(Seq(StructField("metric", DT.StringType),
        StructField("value", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      require(e.indexType == "FTS", s"index $nm is ${e.indexType}, not FTS")
      val q = in.getUTF8String(2).toString
      val k = in.getLong(3).toInt
      import org.apache.spark.sql.functions.col
      val idCol = e.params.getOrElse("idCol",
        throw new IllegalArgumentException(s"index $nm records no idCol"))
      val allowed =
        if (m.numDeleted > 0L)
          Some(GraftTable.read(spark, path,
            withRowId = idCol == GraftTable.RowIdCol).select(col(idCol)))
        else None
      // ONE mask, under the index's required idCol, shared by the search
      // and the metric — so servable_mask_engaged describes the search
      // that actually ran
      val mask = ftsServableMask(spark, path, m, e, idCol)
      val rows = ftsMatchCombined(spark, path, m, e, q, k, allowed, None,
        servable = Some(mask)).count()
      val (deferred, fresh) =
        graft.operators.IvfIndex.deferServingById(m, e.fragmentIds.toSet)
      graft.operators.Fts.matchMetrics(spark, s"$path/_indices/${e.name}", Seq(q))
        .map { case (n, v) => Seq[Any](n, v) } ++ Seq(
        Seq[Any]("fresh_rows_scanned", fresh.map(_.rows).sum),
        // rewrite outputs served from the postings (deferred) + whether
        // the servable-fragment doc mask is active (dead/moved ids the
        // DV count no longer reflects — see ftsServableMask)
        Seq[Any]("deferred_rows_served", deferred.map(_.rows).sum),
        Seq[Any]("servable_mask_engaged", if (mask.isDefined) 1L else 0L),
        Seq[Any]("dv_rows_masked", m.numDeleted),
        Seq[Any]("rows_returned", rows))
    }

  /** `CALL g.system.knn_search(table => 'db.t', name => 'ivf_vec',
    * query => array(0.1D, ...), k => 10, nprobes => 8,
    * filter => 'label = 3')` — ANN top-k from SQL through the family's
    * delete-safe combined search (fresh fragments unioned, DVs
    * subtracted). Dispatches on the manifest-committed index type like
    * `optimize_index`; k rows reach the driver. `filter` is the
    * reference's prefiltered ANN from SQL: applied BEFORE the top-k cut,
    * so the result is the true top-k of the matching rows. IVF families
    * filter the probed candidates directly; HNSW broadcasts the matching
    * id set as a routing-only dead-mask into the beam (see
    * [[graft.operators.HnswIndex.searchCombined]]). */
  def knnSearch(pathOf: String => String): UnboundProcedure =
    procRows("knn_search",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        p("query", DT.createArrayType(DT.DoubleType)),
        pd("k", DT.LongType, "10"), pd("nprobes", DT.LongType, "8"),
        pd("filter", DT.StringType, "''"),
        pd("min_dist", DT.DoubleType, "CAST('NaN' AS DOUBLE)"),
        pd("max_dist", DT.DoubleType, "CAST('NaN' AS DOUBLE)"),
        pd("max_nprobes", DT.LongType, "-1"),
        // reference `nearest(refine_factor=...)` (`dataset.py:4429`): the
        // quantized families rank k·refine_factor candidates before the
        // exact re-rank — the recall/cost dial from SQL
        pd("refine_factor", DT.LongType, "10"),
        // HNSW search-time beam width (reference `ef`/`ef_search`)
        pd("ef", DT.LongType, "64")),
      StructType(Seq(StructField("id", DT.LongType), StructField("distance", DT.DoubleType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      val q = in.getArray(2).toDoubleArray().map(_.toFloat)
      val k = in.getLong(3).toInt
      val nprobes = in.getLong(4).toInt
      val prefilter = Option(in.getUTF8String(5)).map(_.toString.trim)
        .filter(_.nonEmpty)
        .map(org.apache.spark.sql.functions.expr)
      // distance_range from SQL (reference scanner.rs:1087): either bound
      // may stay NaN = unbounded
      val lo = in.getDouble(6); val hi = in.getDouble(7)
      val range: Option[(Double, Double)] =
        if (lo.isNaN && hi.isNaN) None
        else Some((if (lo.isNaN) Double.NegativeInfinity else lo,
                   if (hi.isNaN) Double.PositiveInfinity else hi))
      val maxNprobes = in.getLong(8).toInt
      val refineFactor = in.getLong(9).toInt
      require(refineFactor >= 1, s"refine_factor must be >= 1, got $refineFactor")
      val ef = in.getLong(10).toInt
      val column = m.logicalName(e.column)
      val idCol = e.params.getOrElse("idCol",
        throw new IllegalArgumentException(s"index $nm records no idCol"))
      val idxPath = s"$path/_indices/${e.name}"
      import graft.operators._
      def run(np: Int): Seq[Seq[Any]] =
        knnDispatch(spark, path, e, q, k, np, refineFactor, ef, prefilter, range)
          .select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col(Knn.DistanceCol).cast("double"))
          .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getDouble(1)))
      // adaptive probe widening (reference Query minimum_nprobes /
      // maximum_nprobes, `lance-index/src/vector.rs:72-116`): the cheap
      // setting serves the common query; only when a selective prefilter /
      // distance bound starves the result below k does a single second
      // pass probe `max_nprobes` partitions. Never escalates when the
      // first pass already probed every partition (recorded nlist) — a
      // table with genuinely fewer than k matching rows must not pay the
      // search twice for the same answer.
      val recordedNlist = e.params.get("nlist").map(_.toInt)
      val first = run(nprobes)
      if (first.length >= k || maxNprobes <= nprobes ||
          recordedNlist.exists(nprobes >= _)) first
      else run(maxNprobes)
    }

  /** Family dispatch for an index-assisted ANN search: the one place that
    * maps a manifest-committed vector IndexMeta to its family's
    * delete-safe combined search. Shared by `knn_search` and
    * `analyze_knn`. */
  private[format] def knnDispatch(spark: SparkSession, path: String,
      e: IndexMeta, q: Array[Float], k: Int, np: Int,
      refineFactor: Int, ef: Int,
      prefilter: Option[org.apache.spark.sql.Column],
      range: Option[(Double, Double)]): org.apache.spark.sql.DataFrame = {
    import graft.operators._
    val m = GraftTable.loadManifest(spark, path)
    val column = m.logicalName(e.column)
    val idCol = e.params.getOrElse("idCol",
      throw new IllegalArgumentException(s"index ${e.name} records no idCol"))
    val idxPath = s"$path/_indices/${e.name}"
    lazy val flatMetric =
      if (e.indexType == "IVF_FLAT") IvfIndex.readVectorMeta(spark, idxPath)
      else "l2"
    e.indexType match {
      case "IVF_FLAT" if flatMetric == "hamming" =>
        // hamming family: the float query's SIGN BITS are the binary
        // query (the packing the index column was built with)
        require(range.isEmpty,
          "distance_range is not supported for hamming indexes")
        BinaryIvfIndex.searchCombined(spark, path, idxPath, idCol, column,
          BinaryIvfIndex.packQuery(q), k, np, prefilter = prefilter)
      case "IVF_FLAT" => IvfIndex.searchCombined(spark, path, idxPath, idCol,
        column, q, k, np, metric = flatMetric,
        prefilter = prefilter, distanceRange = range)
      case "IVF_PQ" => PqIndex.searchCombined(spark, path, idxPath, idCol,
        column, q, k, np, refineFactor = refineFactor,
        prefilter = prefilter, distanceRange = range)
      case "IVF_SQ" => SqIndex.searchCombined(spark, path, idxPath, idCol,
        column, q, k, np, refineFactor = refineFactor,
        prefilter = prefilter, distanceRange = range)
      case "IVF_RQ" => RqIndex.searchCombined(spark, path, idxPath, idCol,
        column, q, k, np, refineFactor = refineFactor,
        prefilter = prefilter, distanceRange = range)
      case t if t.startsWith("IVF_HNSW") => HnswIndex.searchCombined(spark,
        path, idxPath, idCol, column, q, k, np, ef = ef,
        refineFactor = refineFactor, prefilter = prefilter,
        distanceRange = range)
      case other => throw new IllegalArgumentException(
        s"index ${e.name} ($other) is not a vector index")
    }
  }

  /** `CALL g.system.analyze_knn(table => 'db.t', name => 'ivf_vec',
    * query => array(...), k => 10, nprobes => 2)` — the ANN twin of
    * `analyze` (reference `analyze_plan` covers index scans too,
    * `sql.rs:226-281`): EXECUTES the family's combined search and reports
    * the pruning story — partitions probed vs total, index nodes behind
    * the probed partitions vs total, the fresh-fragment flat-leg volume,
    * DV masking, and rows returned. The first question a user debugging
    * ANN latency or recall asks ("how much of the index did this probe
    * setting actually touch, and how much unindexed data rode along?"). */
  def analyzeKnn(pathOf: String => String): UnboundProcedure =
    procRows("analyze_knn",
      Array(p("table", DT.StringType), p("name", DT.StringType),
        p("query", DT.createArrayType(DT.DoubleType)),
        pd("k", DT.LongType, "10"), pd("nprobes", DT.LongType, "8"),
        pd("refine_factor", DT.LongType, "10"), pd("ef", DT.LongType, "64")),
      StructType(Seq(StructField("metric", DT.StringType),
        StructField("value", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      val m = GraftTable.loadManifest(spark, path)
      val nm = in.getUTF8String(1).toString
      val e = m.indices.find(_.name == nm).getOrElse(
        throw new IllegalArgumentException(
          s"no index $nm (known: ${m.indices.map(_.name).mkString(",")})"))
      val q = in.getArray(2).toDoubleArray().map(_.toFloat)
      val k = in.getLong(3).toInt
      val np = in.getLong(4).toInt
      val refineFactor = in.getLong(5).toInt
      val ef = in.getLong(6).toInt
      val rows = knnDispatch(spark, path, e, q, k, np, refineFactor, ef,
        prefilter = None, range = None).count()
      ScanAnalyze.knnMetrics(spark, path, m, e, q, np) :+
        Seq[Any]("rows_returned", rows)
    }

  /** `CALL g.system.history(table => 'db.t')` — the commit log from
    * retained manifests (reference `get_transactions`): one row per
    * version with its operation, commit time, parent, row counts, and the
    * commit's stamped DML statistics (`op_stats` as `k=v` pairs — the
    * reference's merge/update result counts, recorded durably per commit).
    * Driver-side manifest reads only — the retained-version count is
    * bounded by the cleanup policy, never by data size. */
  def history(pathOf: String => String): UnboundProcedure =
    procRows("history",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("version", DT.LongType),
        StructField("operation", DT.StringType),
        StructField("commit_ts_millis", DT.LongType),
        StructField("parent", DT.LongType),
        StructField("num_rows", DT.LongType),
        StructField("num_deleted", DT.LongType),
        StructField("num_fragments", DT.LongType),
        StructField("op_stats", DT.StringType),
        StructField("txn_properties", DT.StringType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      GraftTable.versions(spark, path).map { v =>
        val m = GraftTable.loadManifest(spark, path, Some(v))
        val stats = m.opStats.toSeq.sortBy(_._1)
          .map { case (k, n) => s"$k=$n" }.mkString(",")
        // JSON, not k=v pairs: free-form property VALUES may contain ','
        // or '=' (commit messages), which a delimiter encoding mis-parses
        val props =
          if (m.txnProperties.isEmpty) ""
          else org.json4s.jackson.Serialization.write(
            scala.collection.immutable.TreeMap(m.txnProperties.toSeq: _*))(
            org.json4s.DefaultFormats)
        Seq(m.version, m.operation, m.commitTsMillis, m.parent,
          m.liveRows, m.numDeleted, m.fragments.length.toLong, stats, props)
      }
    }

  /** `CALL g.system.validate(table => 'db.t')` — integrity check
    * ([[GraftTable.validate]]): one row per problem found, zero rows =
    * valid. */
  def validateProc(pathOf: String => String): UnboundProcedure =
    procRows("validate",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("issue", DT.StringType)))) { in =>
      GraftTable.validate(spark, pathOf(in.getUTF8String(0).toString)).map(Seq(_))
    }

  /** `CALL g.system.fragments(table => 'db.t')` — per-fragment metadata
    * (reference `get_fragments` / `Fragment.metadata`, Python
    * `fragment.py`): id, path, rows, on-disk bytes, adding version, stable
    * row-id start. Driver-side manifest read only — no data IO. */
  def fragments(pathOf: String => String): UnboundProcedure =
    procRows("fragments",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("id", DT.LongType),
        StructField("path", DT.StringType),
        StructField("rows", DT.LongType),
        StructField("size_bytes", DT.LongType),
        StructField("added_version", DT.LongType),
        StructField("row_id_start", DT.LongType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      GraftTable.loadManifest(spark, path).fragments.sortBy(_.id).map(f =>
        Seq(f.id, f.path, f.rows, f.sizeBytes, f.addedVersion, f.rowIdStart))
    }

  def indices(pathOf: String => String): UnboundProcedure =
    procRows("indices",
      Array(p("table", DT.StringType)),
      StructType(Seq(StructField("name", DT.StringType),
        StructField("index_type", DT.StringType),
        StructField("column", DT.StringType),
        StructField("indexed_version", DT.LongType),
        StructField("fragments", DT.LongType),
        StructField("uuid", DT.StringType)))) { in =>
      val path = pathOf(in.getUTF8String(0).toString)
      GraftTable.loadManifest(spark, path).indices.sortBy(_.name).map(e =>
        Seq(e.name, e.indexType, e.column, e.indexedVersion,
          e.fragmentIds.length.toLong, e.uuid))
    }
}

object GraftSqlTable {
  private def lit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case b: Boolean => Some(b.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      Some(n.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: java.sql.Date => Some(s"DATE'$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP'$t'")
    case _ => None
  }

  private def q(attr: String): String = s"`${attr.replace("`", "``")}`"

  /** Translate a V1 source Filter to graft predicate SQL (None = can't). */
  private[format] def filterToSql(f: Filter): Option[String] = f match {
    case sources.EqualTo(a, v) => lit(v).map(l => s"${q(a)} = $l")
    case sources.EqualNullSafe(a, v) => lit(v).map(l => s"${q(a)} <=> $l")
    case sources.GreaterThan(a, v) => lit(v).map(l => s"${q(a)} > $l")
    case sources.GreaterThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} >= $l")
    case sources.LessThan(a, v) => lit(v).map(l => s"${q(a)} < $l")
    case sources.LessThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} <= $l")
    case sources.In(a, vs) =>
      val ls = vs.toSeq.map(lit)
      if (ls.forall(_.isDefined) && ls.nonEmpty)
        Some(s"${q(a)} IN (${ls.flatten.mkString(", ")})")
      else None
    case sources.IsNull(a) => Some(s"${q(a)} IS NULL")
    case sources.IsNotNull(a) => Some(s"${q(a)} IS NOT NULL")
    case sources.StringStartsWith(a, v) => lit(v).map(l => s"startswith(${q(a)}, $l)")
    case sources.StringEndsWith(a, v) => lit(v).map(l => s"endswith(${q(a)}, $l)")
    case sources.StringContains(a, v) => lit(v).map(l => s"contains(${q(a)}, $l)")
    case sources.And(l, r) =>
      for (ls <- filterToSql(l); rs <- filterToSql(r)) yield s"($ls AND $rs)"
    case sources.Or(l, r) =>
      for (ls <- filterToSql(l); rs <- filterToSql(r)) yield s"($ls OR $rs)"
    case sources.Not(c) => filterToSql(c).map(s => s"(NOT $s)")
    case sources.AlwaysTrue() => Some("true")
    case sources.AlwaysFalse() => Some("false")
    case _ => None
  }
}
