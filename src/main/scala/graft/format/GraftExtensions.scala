package graft.format

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Catalyst integration for the graft format (SURVEY §4 "custom rules").
  *
  * [[GraftDvRule]] rewrites any `format("graft")` relation whose snapshot
  * carries deletion vectors into the DV anti-join plan that
  * [[GraftTable.read]] builds — so with the extension installed,
  * `spark.read.format("graft")` is fully correct on mutated tables, and SQL
  * over graft temp views inherits the same semantics. The rewrite preserves
  * the relation's output attribute ids (parents of the node are untouched).
  *
  * Install: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.format.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(session => new GraftDvRule(session))
    e.injectResolutionRule(session => new GraftSqlRule(session))
    // optimizer (not resolution) rule: after predicate pushdown the filter
    // sits directly on the relation in EVERY read path (GraftTable.read,
    // format("graft"), SQL views) — including DV snapshots, where the
    // anti-join plan wraps the relation at load() time, before any filter
    // exists for a resolution rule to see.
    e.injectOptimizerRule(session => new GraftScalarIndexRule(session))
    e.injectOptimizerRule(session => new GraftAddrPruneRule(session))
    // after the index rules: an index-rewritten plan no longer matches the
    // late-mat shape, so index acceleration takes priority; the late-mat
    // phase-1 sub-query gets index acceleration on its own pass instead
    e.injectOptimizerRule(session => new GraftLateMatRule(session))
    // opt-in packed group-key rewrite (r15): no-op unless
    // spark.graft.agg.packedStringKeys lists columns
    e.injectOptimizerRule(session => new graft.plans.GraftPackedKeyAggRule(session))
    // SQL faces of the expression kernels (distance, BPE, sketches) —
    // every one a native Catalyst expression, never a Scala UDF
    graft.functions.GraftFunctions.inject(e)
  }
}

/** Filter → scalar-index rewrite (SURVEY §2.7 / reference
  * `apply_scalar_indices`, `lance-index/src/scalar/expression.rs:1549`):
  *
  * `Filter(cond, graftRelation)` where some conjunct of `cond` is sargable
  * on a column with a USABLE btree index (`<table>/_indices/btree_<col>`)
  * becomes
  *
  * `Filter(cond, SemiJoin(relation+addr, indexLookup(conjunct)))`
  *
  * i.e. the index produces a row-address mask (the reference's
  * `IndexExprResult` exact mask); the ORIGINAL filter stays on top as the
  * refine step, so the rewrite is correctness-preserving by construction.
  *
  * Usable = the fragments the index covers (those of the indexed version)
  * all still exist in the snapshot. Fragments appended SINCE the build scan
  * flat and union in — the reference's `fragment_bitmap` partial coverage —
  * with the refine filter supplying exactness. A stale (compacted-away) or
  * absent index leaves the plan untouched.
  *
  * Runs in the OPTIMIZER, after predicate pushdown has planted the filter
  * directly on the relation; the rewrite is a pure mask semi-join (plus the
  * flat-fresh union), so it composes under whatever DV anti-join /
  * supplemental-column merge the analyzer-time plans already built above it
  * — the mask may name deleted addresses, but the outer anti-join removes
  * them. `_metadata` is threaded through when the surrounding plan consumes
  * it (the DV plan derives `_rowaddr` from it above this node).
  */
class GraftScalarIndexRule(session: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  private val JoinKey = "__graft_mask_addr"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // reference ScannerBuilder.use_scalar_index(false): the corner-case
    // escape hatch when an index rewrite would hurt a particular query
    if (GraftConf.isDisabled(session, "graft.scan.use_scalar_index"))
      return plan
    plan.transformUp {
      case f @ Filter(cond,
          lr @ LogicalRelation(HadoopFsRelation(gfi: GraftFileIndex, _, _, _, _, _), _, _, _, _))
          if !gfi.maskApplied =>
        findBtree(cond, gfi).orElse(findLabelList(cond, gfi))
          .orElse(findJson(cond, gfi)).orElse(findNgram(cond, gfi))
          .orElse(findPlugin(cond, gfi)) match {
          case Some((covered, mask)) => rewrite(f, lr, gfi, covered, mask)
          case None => findBloom(cond, gfi) match {
            case Some(keepFrags) => rewriteFragmentPrune(f, lr, gfi, keepFrags)
            case None => f
          }
        }
    }
  }

  /** Equality/IN conjunct on a column with a usable BLOOMFILTER index
    * (reference `scalar/bloomfilter.rs`): per-fragment blooms give an
    * *at-most* fragment set — fragments whose bloom rejects every probe
    * value definitively lack it; the refine filter on top covers false
    * positives. Fragments appended since the build are kept (scanned flat).
    * Returns None when nothing would be pruned. Restricted to integral and
    * string columns, where build-side cast-to-string and probe-side literal
    * rendering agree exactly. */
  private def findBloom(cond: Expression, gfi: GraftFileIndex): Option[Seq[FragmentMeta]] =
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      bloomShape(p).flatMap { case (colName, values) =>
        val dirs = candidateNames(gfi, colName)
          .map(n => s"${gfi.tablePath}/_indices/" + graft.index.BloomIndex.dirName(n))
        firstUsable(gfi, colName, dirs).flatMap { case (dir, covered) =>
          val cands = GraftScalarIndexRule.cachedBloom(session, dir, values.map(String.valueOf)) {
            graft.index.BloomIndex.candidateFragments(session, dir, values)
          }
          val keep = gfi.manifest.fragments.filter(fr =>
            !covered.contains(fr.id) || cands.contains(fr.id))
          if (keep.length < gfi.manifest.fragments.length) Some(keep) else None
        }
      }
    }.nextOption()

  /** `col = lit` / `col IN (lits)` on an integral or string column. */
  private def bloomShape(p: Expression): Option[(String, Seq[Any])] = {
    import org.apache.spark.sql.types._
    def ok(a: AttributeReference): Boolean = a.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
    p match {
      case EqualTo(a: AttributeReference, v) if ok(a) && v.foldable && v.eval() != null =>
        Some((a.name, Seq(toScala(v))))
      case EqualTo(v, a: AttributeReference) if ok(a) && v.foldable && v.eval() != null =>
        Some((a.name, Seq(toScala(v))))
      case In(a: AttributeReference, vs) if ok(a) && vs.nonEmpty &&
          vs.forall(v => v.foldable && v.eval() != null) =>
        Some((a.name, vs.map(toScala)))
      case _ => None
    }
  }

  /** Swap the relation for one scanning only `keep` fragments, original
    * filter on top (the refine step). `maskApplied` stops re-probing. */
  private def rewriteFragmentPrune(f: Filter, lr: LogicalRelation, gfi: GraftFileIndex,
                                   keep: Seq[FragmentMeta]): LogicalPlan = {
    val m = gfi.manifest
    val relation = HadoopFsRelation(
      location = new GraftFileIndex(session, gfi.tablePath, m.copy(fragments = keep),
        dvApplied = gfi.dvApplied, maskApplied = true),
      partitionSchema = new StructType(), dataSchema = m.physicalSchema,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(session)
    val base = ColumnBridge.ofRows(session, LogicalRelation(relation, isStreaming = false))
      .select(lr.output.map(a => col(a.name)): _*)
    val analyzed = base.queryExecution.analyzed
    val out: Seq[NamedExpression] = lr.output.zip(analyzed.output).map {
      case (orig, fresh) => Alias(fresh, orig.name)(exprId = orig.exprId)
    }
    Filter(f.condition, Project(out, analyzed))
  }

  /** first conjunct sargable on one column with a usable BTREE index →
    * (covered fragment ids, address mask) */
  private def findBtree(cond: Expression, gfi: GraftFileIndex)
      : Option[(Set[Long], org.apache.spark.sql.DataFrame)] =
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      if (p.references.size == 1 && sargableShape(p)) {
        val colName = p.references.head.name
        firstUsable(gfi, colName, candidateNames(gfi, colName).map(indexDir(gfi, _))).map {
          case (dir, covered) =>
            val idx = session.read.parquet(dir)
            val vAttr = idx.queryExecution.analyzed.output.find(_.name == "v").get
            val predOnV = p.transform { case _: AttributeReference => vAttr }
            val mask = ColumnBridge.ofRows(session,
                Filter(predOnV, idx.queryExecution.analyzed))
              .select(col(GraftTable.RowAddrCol).as(JoinKey))
            (covered, mask)
        }
      } else None
    }.nextOption()

  /** first `array_contains(col, lit)` / `arrays_overlap(col, lit-array)`
    * conjunct with a usable LABEL_LIST index (reference `label_list.rs`,
    * parser `expression.rs:439`) → postings-intersection/union mask */
  private def findLabelList(cond: Expression, gfi: GraftFileIndex)
      : Option[(Set[Long], org.apache.spark.sql.DataFrame)] =
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      labelShape(p).flatMap { case (colName, labels, requireAll) =>
        firstUsable(gfi, colName, candidateNames(gfi, colName).map(labelDir(gfi, _))).map {
          case (dir, covered) =>
          val want = labels.distinct
          val post = session.read.parquet(dir)
            .filter(col("label").isin(want: _*))
          // dedup via groupBy/agg, NOT .distinct(): this plan is injected by
          // an optimizer rule AFTER ReplaceDeduplicateWithAggregate has run,
          // so a Deduplicate node would survive to planning and fail there
          val mask =
            if (!requireAll || want.size <= 1)
              post.groupBy(col(GraftTable.RowAddrCol))
                .agg(count(lit(1)).as("__nl"))
                .select(col(GraftTable.RowAddrCol))
            else post.groupBy(col(GraftTable.RowAddrCol))
              .agg(countDistinct(col("label")).as("__nl"))
              .filter(col("__nl") === want.size)
              .select(col(GraftTable.RowAddrCol))
          (covered, mask.select(col(GraftTable.RowAddrCol).as(JoinKey)))
        }
      }
    }.nextOption()

  /** first conjunct sargable around a single `get_json_object(col, 'path')`
    * subtree with a usable JSON path index (reference `scalar/json.rs`):
    * the subtree is substituted by the index's pre-extracted `v` column —
    * the per-query JSON parse over the corpus disappears entirely. */
  private def findJson(cond: Expression, gfi: GraftFileIndex)
      : Option[(Set[Long], org.apache.spark.sql.DataFrame)] =
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      jsonTarget(p).flatMap { case (g, colName, path) =>
        val dirs = candidateNames(gfi, colName).map(n =>
          s"${gfi.tablePath}/_indices/" + graft.index.ScalarIndex.jsonDirName(n, path))
        firstUsable(gfi, colName, dirs).map { case (dir, covered) =>
          val idx = session.read.parquet(dir)
          val vAttr = idx.queryExecution.analyzed.output.find(_.name == "v").get
          val predOnV = p.transform { case x if x.semanticEquals(g) => vAttr }
          val mask = ColumnBridge.ofRows(session,
              Filter(predOnV, idx.queryExecution.analyzed))
            .select(col(GraftTable.RowAddrCol).as(JoinKey))
          (covered, mask)
        }
      }
    }.nextOption()

  /** p must be a comparison/In between one `get_json_object(attr, lit-path)`
    * subtree and foldable values → (subtree, column name, path). */
  private def jsonTarget(p: Expression): Option[(Expression, String, String)] = {
    val subtrees = p.collect {
      case g @ GetJsonObject(a: AttributeReference, pa) if pa.foldable &&
          toScala(pa) != null =>
        (g: Expression, a.name, toScala(pa).toString)
    }
    subtrees.distinct match {
      case Seq((g, c, path)) if jsonSargable(p, g) => Some((g, c, path))
      case _ => None
    }
  }

  private def jsonSargable(e: Expression, g: Expression): Boolean = {
    def isGSide(x: Expression): Boolean = x.semanticEquals(g) || (x match {
      case c: Cast => isGSide(c.child)
      case _ => false
    })
    e match {
      case And(l, r) => jsonSargable(l, g) && jsonSargable(r, g)
      case Or(l, r) => jsonSargable(l, g) && jsonSargable(r, g)
      case b: BinaryComparison =>
        (isGSide(b.left) && b.right.foldable) || (isGSide(b.right) && b.left.foldable)
      case In(x, vs) if isGSide(x) => vs.forall(_.foldable)
      case _ => false
    }
  }

  /** `contains(col, lit)` / `col LIKE '%lit%'` conjunct on a column with a
    * usable NGRAM index (reference `scalar/ngram.rs`): rows containing ALL
    * the needle's trigrams form an at-most candidate mask (built from the
    * lowercased index, so it is a superset of the case-sensitive match);
    * the original filter on top verifies exactly. Needles under 3 chars
    * have no trigram and stay full-scan. */
  private def findNgram(cond: Expression, gfi: GraftFileIndex)
      : Option[(Set[Long], org.apache.spark.sql.DataFrame)] =
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      ngramShape(p).flatMap { case (colName, needle) =>
        val grams = needle.toLowerCase.sliding(3).filter(_.length == 3).toSeq.distinct
        // epoch-memoized crash recovery for the compaction swap: without
        // it a crashed optimize leaves the dir missing and a warm marker
        // cache would fail every contains() query on a dead path
        candidateNames(gfi, colName).foreach(n =>
          graft.index.ScalarIndex.recoverNgramSwapMemo(
            session, s"${gfi.tablePath}/_indices/ngram_$n"))
        if (grams.isEmpty) None
        else firstUsable(gfi, colName,
            candidateNames(gfi, colName).map(n => s"${gfi.tablePath}/_indices/ngram_$n"))
          .map { case (dir, covered) =>
            val mask = session.read.parquet(dir)
              .filter(col("gram").isin(grams: _*))
              .groupBy(col(GraftTable.RowAddrCol))
              .agg(countDistinct(col("gram")).as("__ng"))
              .filter(col("__ng") === grams.length)
              .select(col(GraftTable.RowAddrCol).as(JoinKey))
            (covered, mask)
          }
      }
    }.nextOption()

  private def ngramShape(p: Expression): Option[(String, String)] = p match {
    case Contains(a: AttributeReference, v) if v.foldable && v.eval() != null =>
      Some((a.name, v.eval().toString))
    case _ => None
  }

  /** `array_contains(attr, lit)` ⇒ all-of([lit]); `arrays_overlap(attr,
    * lit-array)` ⇒ any-of(elements). */
  private def labelShape(e: Expression): Option[(String, Seq[Any], Boolean)] = e match {
    case ArrayContains(a: AttributeReference, v) if v.foldable =>
      Some((a.name, Seq(toScala(v)), true))
    case ArraysOverlap(a: AttributeReference, v) if v.foldable =>
      Some((a.name, arrayToScala(v), false))
    case ArraysOverlap(v, a: AttributeReference) if v.foldable =>
      Some((a.name, arrayToScala(v), false))
    case _ => None
  }

  private def toScala(v: Expression): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v.eval(), v.dataType)

  private def arrayToScala(v: Expression): Seq[Any] =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v.eval(), v.dataType)
      .asInstanceOf[scala.collection.Seq[Any]].toSeq

  /** At the relation level a column carries its PHYSICAL (on-file) name;
    * index dirs are keyed by the name given at BUILD time — physical for
    * pre-rename builds, logical for post-rename builds. Try both. */
  private def candidateNames(gfi: GraftFileIndex, physName: String): Seq[String] =
    Seq(physName, gfi.manifest.logicalName(physName)).distinct

  /** First usable index among candidate dirs → (dir, covered fragment ids).
    * `physCol` is the filtered column's name at the RELATION level (its
    * physical, on-file name): an index whose marker records a different
    * column identity is rejected — after rename chains reuse a name, a
    * same-named directory may hold another column's values (ADVICE r4). */
  private def firstUsable(gfi: GraftFileIndex, physCol: String, dirs: Seq[String])
      : Option[(String, Set[Long])] =
    dirs.iterator.flatMap { d =>
      coveredFragmentIds(gfi, d).collect {
        case (covered, idxCol) if idxCol.forall(_ == physCol) => (d, covered)
      }
    }.nextOption()

  /** Fragment ids the index at `dir` covers, when the index is usable for
    * this snapshot. None = missing/stale index. Also returns the column
    * identity recorded at build time (None on legacy markers).
    *
    * Two regimes (reference: index metadata lives IN the manifest,
    * `lance-table/src/format/index.rs`):
    *
    *  - **Manifest-authoritative** (any index build has committed metadata
    *    into this lineage): inventory, coverage, and column identity come
    *    from the manifest the scan already holds — zero filesystem probing
    *    and zero extra manifest loads at plan time, and builds are visible
    *    across sessions/processes the moment their commit lands. The only
    *    I/O is ONE memoized marker read verifying the dir still holds the
    *    entry's build (uuid): an old snapshot's entry pointing at a later
    *    rebuild, or a cloned/restored manifest whose dirs did not travel,
    *    vetoes cleanly instead of serving another build's rows.
    *  - **Legacy** (pre-manifest tables): directory markers, memoized per
    *    (epoch, table, snapshot version, dir); in-JVM builds bump the epoch
    *    (cross-process same-version builds stay invisible — the manifest
    *    path is the fix). */
  private def coveredFragmentIds(gfi: GraftFileIndex, dir: String)
      : Option[(Set[Long], Option[String])] = {
    val m = gfi.manifest
    if (m.indicesAuthoritative) {
      val name = dir.substring(dir.lastIndexOf('/') + 1)
      m.indices.find(_.name == name).flatMap { e =>
        val current = m.fragments.map(_.id).toSet
        val ids = e.fragmentIds.toSet
        if (!ids.subsetOf(current)) None // compacted away — dormant until optimize
        else {
          val markerUuid = GraftScalarIndexRule.cachedUuid(
              session, gfi.tablePath.toString, m.version, dir) {
            GraftScalarIndexRule.fsProbes.incrementAndGet()
            graft.index.ScalarIndex.readMarkerUuid(session, dir)
          }
          if (markerUuid.contains(e.uuid)) Some((ids, Some(e.column))) else None
        }
      }
    } else GraftScalarIndexRule.cached(session, gfi.tablePath.toString, m.version, dir) {
      GraftScalarIndexRule.fsProbes.incrementAndGet()
      graft.index.ScalarIndex.readMarker(session, dir).flatMap { case (vi, idxCol, _) =>
        val current = m.fragments.map(_.id).toSet
        val cov =
          if (vi == m.version) Some(current)
          else if (vi > m.version) None // index from the future of this snapshot (time travel)
          else scala.util.Try(GraftTable.loadManifest(session, gfi.tablePath.toString, Some(vi)))
            .toOption.map(_.fragments.map(_.id).toSet)
            .filter(_.subsetOf(current))
        cov.map(c => (c, idxCol))
      }
    }
  }

  // At resolution time literals are usually wrapped in Cast, so accept any
  // foldable non-column side; the column side may itself be cast-wrapped.
  private def sargableShape(e: Expression): Boolean = e match {
    case And(l, r) => sargableShape(l) && sargableShape(r)
    case Or(l, r) => sargableShape(l) && sargableShape(r)
    case b: BinaryComparison =>
      (isAttrSide(b.left) && b.right.foldable) || (isAttrSide(b.right) && b.left.foldable)
    case In(a, vs) if isAttrSide(a) => vs.forall(_.foldable)
    case _ => false
  }

  private def isAttrSide(e: Expression): Boolean = e match {
    case _: AttributeReference => true
    case c: Cast => isAttrSide(c.child)
    case _ => false
  }

  /** Registered-plugin finder (r16, reference `registry.rs` — the
    * `new_query_parser` participation hook): for each single-column
    * conjunct, ask each registered plugin whose index dir is usable for
    * this snapshot (same [[firstUsable]] coverage/column-identity/uuid
    * discipline as the built-ins) for an address mask. The rewrite keeps
    * the original filter as the refine step, so plugin masks only need
    * to be over-approximate to be CORRECT. */
  private def findPlugin(cond: Expression, gfi: GraftFileIndex)
      : Option[(Set[Long], org.apache.spark.sql.DataFrame)] = {
    val plugins = graft.index.ScalarIndexRegistry.all
    if (plugins.isEmpty) return None
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      if (p.references.size == 1) {
        val colName = p.references.head.name
        plugins.iterator.flatMap { pl =>
          firstUsable(gfi, colName, candidateNames(gfi, colName)
              .map(n => s"${gfi.tablePath}/_indices/${pl.dirName(n)}"))
            .flatMap { case (dir, covered) =>
              pl.candidatesFor(session, dir, colName, p).map { m =>
                (covered, m.select(col(GraftTable.RowAddrCol).as(JoinKey)))
              }
            }
        }.nextOption()
      } else None
    }.nextOption()
  }

  private def indexDir(gfi: GraftFileIndex, colName: String): String =
    s"${gfi.tablePath}/_indices/btree_$colName"

  private def labelDir(gfi: GraftFileIndex, colName: String): String =
    s"${gfi.tablePath}/_indices/labellist_$colName"

  private def rewrite(f: Filter, lr: LogicalRelation, gfi: GraftFileIndex,
                      covered: Set[Long],
                      mask: org.apache.spark.sql.DataFrame): LogicalPlan = {
    val m = gfi.manifest
    val joinKey = JoinKey

    // the replacement must reproduce lr's exact output surface (the DV plan
    // above may consume `_metadata` to derive `_rowaddr`)
    val outNames = lr.output.map(_.name)

    // fragment-subset scan carrying lr's columns + a local mask-join key.
    // This node sits at the RELATION level — below any rename projection —
    // so it must carry the physical (on-file) schema, matching lr's output.
    def scan(frags: Seq[FragmentMeta]): org.apache.spark.sql.DataFrame = {
      val relation = HadoopFsRelation(
        location = new GraftFileIndex(session, gfi.tablePath, m.copy(fragments = frags),
          dvApplied = gfi.dvApplied, maskApplied = true),
        partitionSchema = new StructType(), dataSchema = m.physicalSchema,
        bucketSpec = None, fileFormat = new ParquetFileFormat,
        options = Map.empty)(session)
      val base = ColumnBridge.ofRows(session, LogicalRelation(relation, isStreaming = false))
      val addr = shiftleft(regexp_extract(col("_metadata.file_name"),
        "frag-(\\d+)(?:_\\d+)?\\.parquet$", 1).cast("long"), 32)
        .plus(col("_metadata.row_index"))
      base.select(outNames.map(col) :+ addr.as(joinKey): _*)
    }

    // covered fragments: mask semi-join; fragments appended since the index
    // build: flat scan (refine filter on top keeps exactness)
    val coveredScan = scan(m.fragments.filter(fr => covered.contains(fr.id)))
      .join(mask, Seq(joinKey), "left_semi")
    val freshFrags = m.fragments.filterNot(fr => covered.contains(fr.id))
    val combined =
      if (freshFrags.isEmpty) coveredScan
      else coveredScan.unionByName(scan(freshFrags))
    val analyzed = combined.drop(joinKey).queryExecution.analyzed
    val out: Seq[NamedExpression] = lr.output.zip(analyzed.output).map {
      case (orig, fresh) => Alias(fresh, orig.name)(exprId = orig.exprId)
    }
    // original filter stays on top = refine step (exactness guaranteed)
    Filter(f.condition, Project(out, analyzed))
  }
}

object GraftScalarIndexRule {
  /** Bumped on every in-JVM index-marker write: the caches below hold
    * their entries under the epoch they were loaded in and drop an index
    * dir's entries when a lookup passes a newer one. Cross-process builds at the
    * SAME table version are not seen until the next version (the reference
    * avoids this by committing index metadata into the manifest; our builds
    * do not commit a table version). */
  private val epoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Count of actual filesystem probes (cache misses) — observability for
    * specs asserting the optimizer stops re-probing per query. */
  private[graft] val fsProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  def invalidateCache(): Unit = epoch.incrementAndGet()

  /** Current cache epoch — lets index-side memos (e.g. the ngram swap
    * recovery probe) share this cache's invalidation discipline. */
  def cacheEpoch: Long = epoch.get()

  // Three index-dir-keyed index caches ([[graft.operators.ServeCache]]);
  // the identity they are loaded under is the epoch above.
  private val Cap = 512
  private val cache =
    new graft.operators.ServeCache[String, Option[(Set[Long], Option[String])]](None, Cap)

  private[format] def cached(spark: SparkSession, tablePath: String, version: Long, dir: String)(
      compute: => Option[(Set[Long], Option[String])]): Option[(Set[Long], Option[String])] =
    cache.getOrLoad(spark, dir, epoch.get().toString, s"$tablePath|$version")(compute)

  /** Marker-uuid verification for manifest-committed index entries: ONE
    * filesystem read per (epoch, table, snapshot version, dir), then pure
    * in-memory comparison against each entry's uuid. */
  private val uuidCache = new graft.operators.ServeCache[String, Option[String]](None, Cap)

  private[format] def cachedUuid(spark: SparkSession, tablePath: String, version: Long,
                                 dir: String)(compute: => Option[String]): Option[String] =
    uuidCache.getOrLoad(spark, dir, epoch.get().toString, s"$tablePath|$version")(compute)

  /** Bloom candidate-fragment sets are probe-value-dependent: cache per
    * (epoch, dir, values) so re-running the same query does not re-run the
    * one-row-per-fragment membership job at plan time. */
  private val bloomCache = new graft.operators.ServeCache[String, Set[Long]](None, Cap)

  private[format] def cachedBloom(spark: SparkSession, dir: String, values: Seq[String])(
      compute: => Set[Long]): Set[Long] =
    // Length-prefixed + separator-joined: an ambiguous encoding would let two
    // distinct probe sets (e.g. IN ('ab','c') vs IN ('a','bc')) share a key and
    // reuse each other's candidate-fragment mask — fragments wrongly pruned here
    // are never scanned, so the refine filter cannot recover the missing rows.
    bloomCache.getOrLoad(spark, dir, epoch.get().toString,
      values.sorted.map(v => s"${v.length}:$v").mkString(" "))(compute)
}

/** Snapshot-semantics rule for `format("graft")` relations: applies the DV
  * anti-join AND the supplemental-column merge (no-rewrite add_columns) that
  * [[GraftTable.read]] builds, so plain DataFrame/SQL reads see exactly the
  * committed snapshot. */
/** `_rowaddr` point-lookup rewrite (reference `Dataset::take` pushdown,
  * `take.rs:103`): after predicate pushdown, a filter pinning the derived
  * row-address expression (`fragId << 32 | row_index`) to literals sits
  * directly on the graft relation. This rule decodes the fragment ids from
  * the literal addresses and swaps the relation's [[GraftFileIndex]] for one
  * pruned to exactly those fragments — a k-address lookup scans ≤k fragments
  * no matter the table size, with zero plan-shape surgery (the filter stays
  * and selects rows within the fragments).
  *
  * The match is STRUCTURAL on the address expression (shiftleft ∘
  * regexp_extract(file_name) + row_index) — an arbitrary user expression
  * never triggers pruning, so the rewrite cannot change results.
  */
class GraftAddrPruneRule(session: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        lr @ LogicalRelation(rel @ HadoopFsRelation(gfi: GraftFileIndex, _, _, _, _, _), _, _, _, _))
        if !gfi.addrPruned =>
      wantedFragIds(cond) match {
        case Some(ids) =>
          val pruned = gfi.manifest.copy(
            fragments = gfi.manifest.fragments.filter(fr => ids.contains(fr.id)))
          val idx = new GraftFileIndex(session, gfi.tablePath, pruned,
            dvApplied = gfi.dvApplied, maskApplied = gfi.maskApplied, addrPruned = true)
          Filter(cond, lr.copy(relation = rel.copy(location = idx)(session)))
        case None => f
      }
  }

  /** Fragment ids addressed by some conjunct `addrExpr = lit` / `addrExpr IN
    * (lits)`; None when no conjunct pins the address expression. */
  private def wantedFragIds(cond: Expression): Option[Set[Long]] = {
    splitConjunctivePredicates(cond).iterator.map {
      case EqualTo(AddrExpr(), Literal(v: Long, _)) => Some(Set(v >>> 32))
      case EqualTo(Literal(v: Long, _), AddrExpr()) => Some(Set(v >>> 32))
      case In(AddrExpr(), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(_.asInstanceOf[Literal].value.asInstanceOf[Long] >>> 32).toSet)
      case InSet(AddrExpr(), vs) =>
        Some(vs.map(_.asInstanceOf[Long] >>> 32).toSet)
      case _ => None
    }.collectFirst { case Some(ids) => ids }
  }

  /** Structural matcher for the derived row-address expression. */
  private object AddrExpr {
    def unapply(e: Expression): Boolean = e match {
      case Add(l, r, _) => (isShiftedFragId(l) && isRowIndex(r)) ||
        (isShiftedFragId(r) && isRowIndex(l))
      case _ => false
    }
    private def isShiftedFragId(e: Expression): Boolean = e match {
      case ShiftLeft(c, Literal(32, _)) => c match {
        case Cast(re: RegExpExtract, _, _, _) => isFragRegex(re)
        case re: RegExpExtract => isFragRegex(re)
        case _ => false
      }
      case _ => false
    }
    private def isFragRegex(re: RegExpExtract): Boolean = re.regexp match {
      case Literal(s, _) => s != null && s.toString.contains("frag-(\\d+)")
      case _ => false
    }
    private def isRowIndex(e: Expression): Boolean = e match {
      case g: GetStructField => g.name.contains("row_index") ||
        g.childSchema(g.ordinal).name == "row_index"
      case a: AttributeReference => a.name == "row_index" || a.name == "_metadata.row_index"
      case _ => false
    }
  }
}

class GraftDvRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case lr @ LogicalRelation(
        HadoopFsRelation(gfi: GraftFileIndex, _, _, _, _, _), _, _, _, _)
        if (gfi.manifest.dvFiles.nonEmpty || gfi.manifest.columnFiles.nonEmpty ||
          gfi.manifest.hasIndirection) && !gfi.dvApplied =>
      rewrite(lr, gfi)
  }

  private def rewrite(lr: LogicalRelation, gfi: GraftFileIndex): LogicalPlan = {
    // the full snapshot plan (physical→logical rename projection, DV
    // anti-join, supplemental-column merge) is what GraftTable.read builds;
    // its relation is marked dvApplied so this rule does not re-trigger
    val m = gfi.manifest
    val snapshot = GraftTable.readFragments(session, gfi.tablePath.toString, m, m.fragments)
    val analyzed = snapshot.queryExecution.analyzed
    // restore the original relation's attribute ids for the parents
    val out: Seq[NamedExpression] = lr.output.zip(analyzed.output).map {
      case (orig, fresh) => Alias(fresh, orig.name)(exprId = orig.exprId)
    }
    Project(out, analyzed)
  }
}

/** SQL-surface rule for [[GraftCatalog]] relations (analysis-time):
  *
  *  1. **Row-level DML** — `DELETE FROM` / `UPDATE` / `MERGE INTO` over a
  *     graft catalog table become eager commands driving the native
  *     mutations ([[GraftTable.delete]]/[[GraftTable.update]]/
  *     [[GraftTable.mergeInsert]]) — one CAS commit each, DV-based, no
  *     row-level-operation plumbing needed. Runs top-down BEFORE the read
  *     rewrite so the DML target is still a v2 relation when matched.
  *  2. **Reads** — remaining `DataSourceV2Relation(GraftSqlTable)` nodes are
  *     replaced by the native snapshot plan (vectorized parquet scan,
  *     pushdown, zonemap + scalar-index pruning, DV anti-join), preserving
  *     the relation's output attribute ids. Write commands hold their target
  *     as a field (not a child), so INSERT targets are untouched.
  */
class GraftSqlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val afterDml = plan.transformDown {
      case d @ DeleteFromTable(target, condition) if d.resolved =>
        graftTable(target) match {
          case Some(t) =>
            GraftDeleteCommand(t.path, exprSql(condition))
          case None => d
        }
      case u: UpdateTable if u.resolved && graftTable(u.table).isDefined =>
        val t = graftTable(u.table).get
        val set = u.assignments.map(a => attrName(a.key) -> exprSql(a.value)).toMap
        GraftUpdateCommand(t.path, set, u.condition.map(exprSql))
      case m: MergeIntoTable if m.resolved && graftTable(m.targetTable).isDefined =>
        toMergeCommand(m)
    }
    // While a row-level DML node is still present (typically: not yet
    // resolved, so transformDown above could not convert it), do NOT rewrite
    // reads — replacing the DML target's relation mid-resolution would leave
    // Spark's own DML analysis without a table to resolve against. The rule
    // runs to fixed point, so reads are rewritten on a later pass once the
    // DML is converted; any relation never rewritten stays correct through
    // the V1 fallback scan.
    val pendingDml = afterDml.exists {
      case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable => true
      case _ => false
    }
    if (pendingDml) afterDml
    else afterDml.transformUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        val t = r.table.asInstanceOf[GraftSqlTable]
        val analyzed = t.snapshot(session).queryExecution.analyzed
        val out: Seq[NamedExpression] = r.output.zip(analyzed.output).map {
          case (orig, fresh) => Alias(fresh, orig.name)(exprId = orig.exprId)
        }
        Project(out, analyzed)
    }
  }

  private def graftTable(plan: LogicalPlan): Option[GraftSqlTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        r.table.asInstanceOf[GraftSqlTable]
    }

  /** SQL text of a RESOLVED expression, with attribute qualifiers stripped so
    * it re-parses against the bare snapshot DataFrame. */
  private def exprSql(e: Expression): String =
    e.transform { case a: AttributeReference => a.withQualifier(Nil) }.sql

  private def attrName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case other => throw new UnsupportedOperationException(
      s"graft: UPDATE of nested field ${other.sql} unsupported")
  }

  /** MERGE mapped to the reference's merge_insert semantics
    * (`merge_insert.rs:204-299`): WHEN MATCHED THEN UPDATE SET * /
    * WHEN NOT MATCHED THEN INSERT * / WHEN NOT MATCHED BY SOURCE [AND cond]
    * THEN DELETE, on an equi-join key set. */
  private def toMergeCommand(m: MergeIntoTable): LogicalPlan = {
    val t = graftTable(m.targetTable).get
    val targetIds = m.targetTable.outputSet
    val sourceIds = m.sourceTable.outputSet

    def onCols(c: Expression): Seq[String] = c match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => onCols(l) ++ onCols(r)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            ((targetIds.contains(a) && sourceIds.contains(b)) ||
             (targetIds.contains(b) && sourceIds.contains(a))) => Seq(a.name)
      case other => throw new UnsupportedOperationException(
        "graft MERGE needs an equi-join ON over same-named columns; got: " + other.sql)
    }
    val on = onCols(m.mergeCondition)

    // the analyzer expands `SET *` / `INSERT *` into explicit same-named
    // column-to-column assignments before this rule runs; accept both the
    // unexpanded star action and its expansion. A star expansion covers
    // EVERY target column — a partial same-named assignment list (e.g.
    // `UPDATE SET t.a = s.a` on a multi-column table) must NOT be treated as
    // star, or untouched target columns get overwritten from the source.
    def starAssignments(assigns: Seq[Assignment]): Boolean = {
      val sameNamed = assigns.nonEmpty && assigns.forall { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference) =>
            k.name.equalsIgnoreCase(v.name) &&
              targetIds.contains(k) && sourceIds.contains(v)
          case _ => false
        }
      }
      val allCols = m.targetTable.output.map(_.name.toLowerCase).toSet
      sameNamed &&
        assigns.map(_.key.asInstanceOf[AttributeReference].name.toLowerCase).toSet == allCols
    }
    // matched-update conditions may reference BOTH sides (reference
    // `when_matched_update_all(condition)` — e.g. `source.last_update >
    // target.last_update`): at run time the condition filters the
    // classified join where source columns carry the `__s_` prefix, so
    // source attribute references rewrite to their prefixed names here
    // (precise, attribute-identity-based — no textual ambiguity)
    def condSql(cond: Option[Expression]): Option[String] = cond.map { c =>
      if (!c.references.subsetOf(targetIds ++ sourceIds))
        throw new UnsupportedOperationException(
          "graft MERGE: WHEN MATCHED AND <cond> may reference only target/source columns; got: " + c.sql)
      exprSql(c.transform {
        case a: AttributeReference if sourceIds.contains(a) =>
          a.withName(s"__s_${a.name}")
      })
    }
    val (updateAll, matchedCond) = m.matchedActions match {
      case Seq() => (false, None)
      case Seq(UpdateStarAction(cond)) => (true, condSql(cond))
      case Seq(u: UpdateAction) if starAssignments(u.assignments) =>
        (true, condSql(u.condition))
      case other => throw new UnsupportedOperationException(
        "graft MERGE supports WHEN MATCHED [AND cond] THEN UPDATE SET *; got: " + other)
    }
    val insertAll = m.notMatchedActions match {
      case Seq() => false
      case Seq(InsertStarAction(None)) => true
      case Seq(i: InsertAction) if i.condition.isEmpty && starAssignments(i.assignments) => true
      case other => throw new UnsupportedOperationException(
        "graft MERGE supports WHEN NOT MATCHED THEN INSERT * (unconditional); got: " + other)
    }
    val (deleteNotMatchedBySource, deleteCond) = m.notMatchedBySourceActions match {
      case Seq() => (false, None)
      case Seq(DeleteAction(cond)) => (true, cond.map(exprSql))
      case other => throw new UnsupportedOperationException(
        "graft MERGE supports WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE; got: " + other)
    }
    GraftMergeCommand(t.path, m.sourceTable, on, updateAll, insertAll,
      deleteNotMatchedBySource, deleteCond, matchedCond)
  }
}

/** Shared result surface for graft DML commands: one row of affected-row
  * counts read from the commit's stamped [[GraftManifest.opStats]]
  * (reference DML results — `merge_insert`/`update` return
  * num_inserted/updated/deleted rows, `dataset.py:91-138,2046`). */
private[format] object GraftDmlOutput {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.LongType
  def attrs(names: String*): Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())
  def row(m: GraftManifest, names: String*): Seq[org.apache.spark.sql.Row] =
    Seq(org.apache.spark.sql.Row.fromSeq(names.map(m.opStats.getOrElse(_, 0L))))
}

/** `DELETE FROM <graft table> WHERE cond` — DV commit, no rewrite. Returns
  * the deleted-row count. */
case class GraftDeleteCommand(path: String, condition: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDmlOutput.attrs("num_deleted_rows")
  override def run(sparkSession: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val m = GraftTable.delete(sparkSession, path, condition)
    GraftDmlOutput.row(m, "num_deleted_rows")
  }
}

/** `UPDATE <graft table> SET ... WHERE cond` — rewrite-matching + DV in one
  * commit. Returns the updated-row count (reference `UpdateResult`). */
case class GraftUpdateCommand(path: String, set: Map[String, String],
                              condition: Option[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDmlOutput.attrs("num_updated_rows")
  override def run(sparkSession: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val m = GraftTable.update(sparkSession, path, set, condition)
    GraftDmlOutput.row(m, "num_updated_rows")
  }
}

/** `MERGE INTO <graft table>` — full-outer-join classify + one commit. The
  * captured source plan re-enters analysis at run time, so graft sources are
  * themselves rewritten to native reads. */
case class GraftMergeCommand(path: String,
                             source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                             on: Seq[String], updateAll: Boolean, insertAll: Boolean,
                             deleteNotMatchedBySource: Boolean, deleteCondition: Option[String],
                             matchedCondition: Option[String] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(source)
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDmlOutput.attrs("num_inserted_rows", "num_updated_rows", "num_deleted_rows")
  override def run(sparkSession: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val m = GraftTable.mergeInsert(sparkSession, path,
      ColumnBridge.ofRows(sparkSession, source), on,
      whenMatchedUpdateAll = updateAll,
      matchedCondition = matchedCondition,
      whenNotMatchedInsertAll = insertAll,
      whenNotMatchedBySourceDelete = deleteNotMatchedBySource,
      deleteCondition = deleteCondition)
    GraftDmlOutput.row(m, "num_inserted_rows", "num_updated_rows", "num_deleted_rows")
  }
}

/** Automatic late materialization (reference `MaterializationStyle`,
  * `rust/lance/src/dataset/scanner.rs:176-220` — the scanner defaults wide
  * columns to late materialization): when a pushed filter touches only
  * NARROW columns but the projection carries WIDE ones (binary / array
  * blobs, or strings whose observed zonemap values are long), scanning the
  * wide columns for every row wastes almost all the IO — at 100 TB the
  * difference between reading terabytes of blobs and reading the narrow
  * predicate columns plus the blobs of matching fragments.
  *
  * The rule rewrites `Project(wide, Filter(narrowPred, graftRelation))`
  * into the [[GraftTable.readLate]] two-phase shape, fully automatically:
  *
  *  1. phase 1 (plan-time, memoized per (table, version, predicate)): a
  *     column-pruned narrow scan evaluates the predicate and checkpoints
  *     the matching row addresses;
  *  2. phase 2 (the returned plan): a full-width scan of ONLY the
  *     fragments containing matches, semi-joined to the address list, with
  *     the original filter kept on top as a refine step.
  *
  * When the matches span every fragment the rewrite is abandoned — a
  * single-pass scan is strictly better then — and the memoized verdict
  * makes the give-up free on re-planning. Phase 1 runs a (narrow, cheap)
  * job during optimization; that is the same cost an explicit
  * `readLate` caller pays, traded for never re-reading blobs. */
class GraftLateMatRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  import org.apache.spark.sql.types._

  private val JoinKey = "__graft_late_addr"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case pr @ Project(projList, f @ Filter(_,
        lr @ LogicalRelation(HadoopFsRelation(gfi: GraftFileIndex, _, _, _, _, _), _, _, _, _)))
        if eligible(projList, f.condition, gfi) =>
      scala.util.Try(rewrite(pr.projectList, f, lr, gfi)).getOrElse(pr)
  }

  /** Longest observed string per zonemap — the "avg value size" proxy the
    * schema alone cannot supply. Absent stats read as narrow. */
  private def colWide(name: String, dt: DataType, m: GraftManifest): Boolean = dt match {
    case BinaryType => true
    case _: ArrayType => true
    case StringType => m.fragments.flatMap(_.stats.get(name)).exists(st =>
      st.kind == "string" && st.max != null && st.max.length > GraftLateMatRule.WideStringLen)
    case _ => false
  }

  private def eligible(projList: Seq[NamedExpression], cond: Expression,
                       gfi: GraftFileIndex): Boolean = {
    val m = gfi.manifest
    if (gfi.maskApplied || m.fragments.length < 2 || !cond.deterministic) return false
    val condAttrs = cond.references.toSeq
    condAttrs.nonEmpty &&
      !condAttrs.exists(a => a.name == "_metadata" || colWide(a.name, a.dataType, m)) &&
      projList.flatMap(_.references.toSeq)
        .exists(a => a.name != "_metadata" && colWide(a.name, a.dataType, m))
  }

  private def rewrite(projList: Seq[NamedExpression], f: Filter,
                      lr: LogicalRelation, gfi: GraftFileIndex): LogicalPlan = {
    val m = gfi.manifest
    val outNames = lr.output.map(_.name)

    def scan(frags: Seq[FragmentMeta], cols: Seq[String]): org.apache.spark.sql.DataFrame = {
      val relation = HadoopFsRelation(
        location = new GraftFileIndex(session, gfi.tablePath, m.copy(fragments = frags),
          dvApplied = gfi.dvApplied, maskApplied = true),
        partitionSchema = new StructType(), dataSchema = m.physicalSchema,
        bucketSpec = None, fileFormat = new ParquetFileFormat,
        options = Map.empty)(session)
      val base = ColumnBridge.ofRows(session, LogicalRelation(relation, isStreaming = false))
      val addr = shiftleft(regexp_extract(col("_metadata.file_name"),
        "frag-(\\d+)(?:_\\d+)?\\.parquet$", 1).cast("long"), 32)
        .plus(col("_metadata.row_index"))
      base.select(cols.map(col) :+ addr.as(JoinKey): _*)
    }

    // name-based key: exprIds differ across fresh reads of the same table,
    // so canonicalized/toString would defeat the memo; .sql renders by name.
    // commitTsMillis is in the key because (path, version) alone is NOT an
    // identity: a table dropped and recreated at the same path restarts at
    // the same version number, and a memo hit would then serve phase-1
    // match addresses computed against the DELETED incarnation's fragments
    // (r14, found by the bench reps protocol re-running the gate against a
    // recreated table).
    val key = s"${gfi.tablePath}|${m.version}|${m.commitTsMillis}|" +
      scala.util.Try(f.condition.sql).getOrElse(f.condition.toString)
    val (fragIds, matches) = GraftLateMatRule.cached(key) {
      GraftLateMatRule.phase1Runs.incrementAndGet()
      val narrowCols = f.condition.references.map(_.name).toSeq.distinct
      val p1 = scan(m.fragments, narrowCols).queryExecution.analyzed
      val byName = p1.output.map(a => a.name -> a).toMap
      val rebased = f.condition.transform {
        case a: AttributeReference => byName(a.name)
      }
      val mt = ColumnBridge.ofRows(session, Filter(rebased, p1))
        .select(col(JoinKey)).localCheckpoint()
      val ids = mt.select(shiftrightunsigned(col(JoinKey), 32).as("f"))
        .distinct().collect().map(_.getLong(0)).toSet
      (ids, mt)
    }
    // matches in every fragment ⇒ nothing to prune; single-pass scan wins.
    // Oversized match sets can't ship as a broadcast mask — and a
    // shuffled semi-join would move the BLOB rows, the exact IO the
    // rewrite exists to avoid — so they bail to the single-pass plan too.
    if (fragIds.size >= m.fragments.size ||
        matches.limit(GraftLateMatRule.MaxMatches + 1).count() > GraftLateMatRule.MaxMatches)
      return Project(projList, f)
    val pruned = m.fragments.filter(fr => fragIds.contains(fr.id))
    val combined = scan(pruned, outNames)
      .join(matches, Seq(JoinKey), "left_semi").drop(JoinKey)
    // broadcast the address list (bounded by MaxMatches): the semi-join
    // must never reshuffle the wide phase-2 rows. A `broadcast()` hint
    // would inject a ResolvedHint node — illegal after hint resolution, so
    // mid-optimizer the hint goes directly on the Join.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint}
    val analyzed = combined.queryExecution.analyzed.transformUp {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi =>
        j.copy(hint = JoinHint(leftHint = None,
          rightHint = Some(HintInfo(strategy = Some(BROADCAST)))))
    }
    val out: Seq[NamedExpression] = lr.output.zip(analyzed.output).map {
      case (orig, fresh) => Alias(fresh, orig.name)(exprId = orig.exprId)
    }
    // original filter stays on top (refine): exactness by construction
    Project(projList, Filter(f.condition, Project(out, analyzed)))
  }
}

object GraftLateMatRule {
  /** Strings whose observed zonemap max exceeds this are "wide". */
  val WideStringLen = 1024

  /** Largest match set the rewrite will broadcast (≈ 32 MB of longs). */
  val MaxMatches = 4 * 1000 * 1000

  /** Phase-1 executions (cache misses) — spec observability. */
  private[graft] val phase1Runs = new java.util.concurrent.atomic.AtomicLong(0L)

  private val Cap = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Set[Long], org.apache.spark.sql.DataFrame)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Set[Long], org.apache.spark.sql.DataFrame)]): Boolean =
        size > Cap
    })

  private[format] def cached(key: String)(
      compute: => (Set[Long], org.apache.spark.sql.DataFrame)): (Set[Long], org.apache.spark.sql.DataFrame) = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val v = compute
      cache.put(key, v)
      v
    }
  }
}
