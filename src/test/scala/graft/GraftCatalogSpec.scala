package graft

import java.nio.file.Files
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{GraftExtensions, GraftTable}

/** The pure-SQL surface (VERDICT r4 task #2): every operation in this spec
  * goes through `spark.sql(...)` only — CREATE TABLE / INSERT / SELECT,
  * `VERSION AS OF` (number, tag, branch), `TIMESTAMP AS OF`, DELETE /
  * UPDATE / MERGE INTO, ALTER TABLE ADD/RENAME/DROP COLUMN — plus the
  * no-extensions V1 fallback read. Reference: the Lance Spark connector's
  * `CREATE TABLE ... USING lance` catalog path.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private val warehouse = Files.createTempDirectory("graft_cat_wh_").toString

  /** Session with GraftExtensions AND the graft catalog installed. */
  private lazy val s: SparkSession = {
    TestSpark.spark // ensure a context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sess = SparkSession.builder()
      .master("local[4]")
      .appName("graft-catalog-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.g", "graft.format.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", warehouse)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    sess.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    sess
  }

  /** Same catalog, NO extensions: reads must fall back to the V1 scan. */
  private lazy val plain: SparkSession = {
    s // force init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sess = SparkSession.builder()
      .master("local[4]")
      .appName("graft-catalog-plain")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.g", "graft.format.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", warehouse)
      .getOrCreate()
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    sess
  }

  private var n = 0
  private def freshName(): String = { n += 1; s"t$n" }

  private def ids(sess: SparkSession, sql: String): Set[Long] =
    sess.sql(sql).collect().map(_.getLong(0)).toSet

  test("CREATE TABLE / INSERT INTO / SELECT round trip") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 3)
    assert(ids(s, s"SELECT id FROM g.db.$t WHERE v >= 'b'") == Set(2L, 3L))
    // second INSERT appends a new version
    s.sql(s"INSERT INTO g.db.$t VALUES (4, 'd')")
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 4)
    // INSERT OVERWRITE truncates
    s.sql(s"INSERT OVERWRITE g.db.$t VALUES (9, 'z')")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(9L))
  }

  test("SHOW TABLES / DROP TABLE / table existence") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft")
    val listed = s.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).toSet
    assert(listed.contains(t))
    s.sql(s"DROP TABLE g.db.$t")
    val after = s.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).toSet
    assert(!after.contains(t))
  }

  test("VERSION AS OF: number, tag, and branch") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1, 'a')") // version 2
    s.sql(s"INSERT INTO g.db.$t VALUES (2, 'b')") // version 3
    val path = s"$warehouse/db/$t"
    val v2 = GraftTable.loadManifest(s, path).version - 1
    // numeric version
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF $v2") == Set(1L))
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
    // tag
    GraftTable.tag(s, path, "first", v2)
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'first'") == Set(1L))
    // branch: created at v2, diverges with its own append
    GraftTable.createBranch(s, path, "exp", Some(v2))
    import s.implicits._
    GraftTable.writeBranch(Seq((7L, "x")).toDF("id", "v"), path, "exp")
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'exp'") == Set(1L, 7L))
    // main lineage untouched by the branch append
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
    // branch inventory procedure (reference Branches.list)
    val br = s.sql(s"CALL g.system.branches(table => 'db.$t')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(br.map(_._1) == Seq("exp") && br.head._2 > v2, br.mkString(","))
    // unknown ref fails
    intercept[Exception] { s.sql(s"SELECT * FROM g.db.$t VERSION AS OF 'nope'").collect() }
  }

  test("TIMESTAMP AS OF resolves the version at that commit time") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1)")
    Thread.sleep(1100) // commit timestamps have second-ish granularity margins
    val between = Instant.now()
    Thread.sleep(1100)
    s.sql(s"INSERT INTO g.db.$t VALUES (2)")
    val tsLit = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(ZoneOffset.UTC).format(between)
    assert(ids(s, s"SELECT id FROM g.db.$t TIMESTAMP AS OF '$tsLit'") == Set(1L))
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
  }

  test("TIMESTAMP AS OF survives file-mtime skew (commit ts is in the manifest)") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1)")
    Thread.sleep(1100)
    val between = Instant.now()
    Thread.sleep(1100)
    s.sql(s"INSERT INTO g.db.$t VALUES (2)")
    // simulate a table copy/rsync: clobber every manifest's mtime to NOW —
    // mtime-based resolution would now pick the LATEST version for any
    // past timestamp request
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/db/$t/_manifests")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    fs.listStatus(dir).foreach(st => fs.setTimes(st.getPath, System.currentTimeMillis(), -1))
    val tsLit = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(ZoneOffset.UTC).format(between)
    assert(ids(s, s"SELECT id FROM g.db.$t TIMESTAMP AS OF '$tsLit'") == Set(1L))
  }

  test("DELETE FROM commits a deletion vector, no rewrite") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e')")
    val res = s.sql(s"DELETE FROM g.db.$t WHERE id IN (2, 4)").collect()
    // reference DML results: the command reports its affected-row count
    assert(res.map(_.getLong(0)).toSeq == Seq(2L), res.mkString(","))
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 3L, 5L))
    val m = GraftTable.loadManifest(s, s"$warehouse/db/$t")
    assert(m.operation == "delete" && m.dvFiles.nonEmpty)
    // writing-side fragments untouched (DV, not rewrite)
    assert(m.fragments.map(_.rows).sum == 5)
  }

  test("UPDATE rewrites matching rows in one commit") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b'), (3,'c')")
    val res = s.sql(s"UPDATE g.db.$t SET v = concat(v, '!') WHERE id >= 2").collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(2L), res.mkString(","))
    val got = s.sql(s"SELECT id, v FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "a", 2L -> "b!", 3L -> "c!"))
  }

  test("MERGE INTO: update-all + insert-all + not-matched-by-source delete") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b'), (3,'c')")
    import s.implicits._
    Seq((2L, "B"), (4L, "D")).toDF("id", "v").createOrReplaceTempView("src")
    val res = s.sql(
      s"""MERGE INTO g.db.$t AS tg USING src AS sr ON tg.id = sr.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND tg.id = 3 THEN DELETE
         |""".stripMargin).collect()
    // (inserted, updated, deleted) — reference merge_insert result counts
    assert(res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 1L)), res.mkString(","))
    val got = s.sql(s"SELECT id, v FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "a", 2L -> "B", 4L -> "D"))
  }

  test("MERGE INTO: WHEN MATCHED AND <cond> updates only qualifying rows") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b'), (3,'c')")
    import s.implicits._
    Seq((1L, "A"), (2L, "B")).toDF("id", "v").createOrReplaceTempView("src_cond")
    val res = s.sql(
      s"""MERGE INTO g.db.$t AS tg USING src_cond AS sr ON tg.id = sr.id
         |WHEN MATCHED AND tg.id = 2 THEN UPDATE SET *
         |""".stripMargin).collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 1L, 0L)), res.mkString(","))
    val got = s.sql(s"SELECT id, v FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "a", 2L -> "B", 3L -> "c"))
    // conditions may reference SOURCE columns (reference
    // when_matched_update_all(condition) — source attrs rewrite to the
    // classified join's prefixed names, never mis-resolve)
    s.sql(
      s"""MERGE INTO g.db.$t AS tg USING src_cond AS sr ON tg.id = sr.id
         |WHEN MATCHED AND sr.v = 'A' THEN UPDATE SET *
         |""".stripMargin)
    val got2 = s.sql(s"SELECT id, v FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got2 == Seq(1L -> "A", 2L -> "B", 3L -> "c"), got2.toString)
    // cross-side comparison — the canonical newer-wins upsert condition
    Seq((1L, "zz"), (2L, "AA")).toDF("id", "v").createOrReplaceTempView("src_cmp")
    s.sql(
      s"""MERGE INTO g.db.$t AS tg USING src_cmp AS sr ON tg.id = sr.id
         |WHEN MATCHED AND sr.v > tg.v THEN UPDATE SET *
         |""".stripMargin)
    val got3 = s.sql(s"SELECT id, v FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got3 == Seq(1L -> "zz", 2L -> "B", 3L -> "c"), got3.toString)
  }

  test("MERGE INTO: partial same-named UPDATE SET is rejected, not silently star") {
    // ADVICE r5 (high): `UPDATE SET tg.v = sr.v` on a 3-column table is a
    // same-named attribute-to-attribute assignment list, but it does NOT
    // cover every target column — treating it as SET * would overwrite the
    // untouched `w` column from the source, silently corrupting data.
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING, w BIGINT) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a',10), (2,'b',20)")
    import s.implicits._
    Seq((2L, "B", 999L)).toDF("id", "v", "w").createOrReplaceTempView("src_partial")
    val e = intercept[Exception] {
      s.sql(
        s"""MERGE INTO g.db.$t AS tg USING src_partial AS sr ON tg.id = sr.id
           |WHEN MATCHED THEN UPDATE SET tg.v = sr.v
           |""".stripMargin)
    }
    assert(e.getMessage.contains("UPDATE SET *"), s"unexpected error: ${e.getMessage}")
    // data untouched — in particular w was NOT overwritten from the source
    val got = s.sql(s"SELECT id, v, w FROM g.db.$t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("ALTER TABLE ADD / RENAME / DROP COLUMN, then read back") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b')")
    s.sql(s"ALTER TABLE g.db.$t ADD COLUMN w DOUBLE")
    assert(s.sql(s"SELECT w FROM g.db.$t").collect().forall(_.isNullAt(0)))
    s.sql(s"ALTER TABLE g.db.$t RENAME COLUMN v TO label")
    val got = s.sql(s"SELECT id, label FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "a", 2L -> "b"))
    s.sql(s"ALTER TABLE g.db.$t DROP COLUMN w")
    assert(!s.sql(s"SELECT * FROM g.db.$t").columns.contains("w"))
    // data still intact after the metadata churn
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
    // column comments land as field metadata and show through DESCRIBE
    s.sql(s"ALTER TABLE g.db.$t ALTER COLUMN label COMMENT 'the doc label'")
    val desc = s.sql(s"DESCRIBE TABLE g.db.$t")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc.get("label").contains("the doc label"), s"got $desc")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
    // nullability (reference AlterColumn.nullable): Spark's analyzer only
    // admits RELAXING through SQL (`Cannot change nullable column to
    // non-nullable` is a CheckAnalysis rule) — tighten first via the API
    // (which proves no nulls exist), then DROP NOT NULL relaxes via SQL
    GraftTable.alterNullability(s, s"$warehouse/db/$t", Map("label" -> false))
    assert(!GraftTable.loadManifest(s, s"$warehouse/db/$t").schema("label").nullable)
    s.sql(s"ALTER TABLE g.db.$t ALTER COLUMN label DROP NOT NULL")
    assert(GraftTable.loadManifest(s, s"$warehouse/db/$t").schema("label").nullable)
    s.sql(s"INSERT INTO g.db.$t VALUES (3, NULL)")
    val en = intercept[Exception] {
      GraftTable.alterNullability(s, s"$warehouse/db/$t", Map("label" -> false))
    }
    assert(en.getMessage.contains("null values exist"), en.getMessage)
  }

  test("ALTER TABLE RENAME / DROP a NESTED column") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, meta STRUCT<a: BIGINT, b: STRING>) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1, named_struct('a', 10L, 'b', 'x')), " +
      "(2, named_struct('a', 20L, 'b', 'y'))")
    s.sql(s"ALTER TABLE g.db.$t RENAME COLUMN meta.a TO alpha")
    val got = s.sql(s"SELECT id, meta.alpha FROM g.db.$t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(1L -> 10L, 2L -> 20L))
    s.sql(s"ALTER TABLE g.db.$t DROP COLUMN meta.b")
    val shape = s.sql(s"SELECT meta FROM g.db.$t").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(shape == Seq("alpha"))
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
  }

  test("CALL maintenance procedures: compact, tag, restore, cleanup") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft") // v1
    s.sql(s"INSERT INTO g.db.$t VALUES (1), (2), (3)")     // v2
    s.sql(s"INSERT INTO g.db.$t VALUES (4), (5)")          // v3
    s.sql(s"DELETE FROM g.db.$t WHERE id = 2")             // v4
    val c = s.sql(s"CALL g.system.compact(table => 'db.$t', target_rows => 2)")
      .head() // v5: materializes the delete
    assert(c.getLong(1) == 4, s"live rows after compact: $c")
    // CompactionMetrics columns (fragments removed/added by the rewrite)
    assert(c.getLong(2) >= 1 && c.getLong(3) >= 1, s"compaction metrics: $c")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 3L, 4L, 5L))
    // layout clustering through SQL: content unchanged, one new version
    val cl = s.sql(s"CALL g.system.cluster(table => 'db.$t', columns => 'id', target_rows => 2)")
      .head()
    assert(cl.getLong(1) == 4, s"live rows after cluster: $cl")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 3L, 4L, 5L))
    // tag without explicit version tags the latest, readable via VERSION AS OF
    s.sql(s"CALL g.system.tag(table => 'db.$t', name => 'stable')")
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'stable'") == Set(1L, 3L, 4L, 5L))
    // tag inventory (reference Tags.list_ordered) + delete_tag lifecycle
    s.sql(s"CALL g.system.tag(table => 'db.$t', name => 'old', version => 2)")
    val tagRows = s.sql(s"CALL g.system.tags(table => 'db.$t')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tagRows.head._1 == "stable" && tagRows.map(_._1).toSet == Set("stable", "old"),
      tagRows.mkString(","))
    assert(tagRows.map(_._2).reverse == tagRows.map(_._2).sorted, "desc by version")
    s.sql(s"CALL g.system.delete_tag(table => 'db.$t', name => 'old')")
    assert(s.sql(s"CALL g.system.tags(table => 'db.$t')").count() == 1)
    // restore the pre-append snapshot as a new commit (v6)
    val r = s.sql(s"CALL g.system.restore(table => 'db.$t', version => 2)").head()
    assert(r.getLong(1) == 3)
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L, 3L))
    // cleanup keeps the last versions + the tag; restored data stays readable
    s.sql(s"CALL g.system.cleanup(table => 'db.$t', keep_last => 2)")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L, 3L))
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'stable'") == Set(1L, 3L, 4L, 5L))
    // unknown procedure errors clearly
    val e = intercept[Exception] { s.sql(s"CALL g.system.nope(table => 'db.$t')") }
    assert(e.getMessage.contains("nope") || e.getMessage.contains("PROCEDURE"))
  }

  test("update_tag retargets atomically; create/delete branch lifecycle") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft") // v1
    s.sql(s"INSERT INTO g.db.$t VALUES (1)")               // v2
    s.sql(s"INSERT INTO g.db.$t VALUES (2)")               // v3
    val path = s"$warehouse/db/$t"
    val vHead = GraftTable.loadManifest(s, path).version
    val v2 = vHead - 1
    s.sql(s"CALL g.system.tag(table => 'db.$t', name => 'prod', version => $v2)")
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'prod'") == Set(1L))
    // promote prod to the new head in ONE atomic retarget (reference
    // Tags.update) — no delete+recreate window with the ref missing
    val up = s.sql(s"CALL g.system.update_tag(table => 'db.$t', name => 'prod')").head()
    assert(up.getLong(0) == vHead)
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'prod'") == Set(1L, 2L))
    intercept[Exception] {
      s.sql(s"CALL g.system.update_tag(table => 'db.$t', name => 'ghost')").collect()
    }
    // create over an existing tag errors (reference Tags.create)
    intercept[Exception] {
      s.sql(s"CALL g.system.tag(table => 'db.$t', name => 'prod')").collect()
    }

    // branch lifecycle through SQL (reference create_branch/Branches.delete)
    val b = s.sql(s"CALL g.system.create_branch(table => 'db.$t', name => 'exp', version => $v2)").head()
    assert(b.getLong(0) == v2)
    import s.implicits._
    GraftTable.writeBranch(Seq(9L).toDF("id"), path, "exp")
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'exp'") == Set(1L, 9L))
    val branchOnly = GraftTable.loadManifest(s, path, None, Some("exp"))
      .fragments.map(_.path).toSet --
      GraftTable.loadManifest(s, path).fragments.map(_.path).toSet
    assert(branchOnly.nonEmpty, "branch append must add a branch-only fragment")
    s.sql(s"CALL g.system.delete_branch(table => 'db.$t', name => 'exp')")
    assert(s.sql(s"CALL g.system.branches(table => 'db.$t')").count() == 0)
    intercept[Exception] { s.sql(s"SELECT * FROM g.db.$t VERSION AS OF 'exp'").collect() }
    intercept[Exception] {
      s.sql(s"CALL g.system.delete_branch(table => 'db.$t', name => 'exp')").collect()
    }
    // the branch-only fragment is now referenced by NO lineage →
    // cleanup-eligible; data shared with main must survive the sweep
    // (keepLast = 2 keeps v2+v3 — both tagged/current reads — while
    // letting the sweep run; cleanup no-ops when nothing drops)
    GraftTable.cleanupOldVersions(s, path, keepLast = 2, unverifiedGraceMillis = 0L)
    val p0 = new org.apache.hadoop.fs.Path(path, branchOnly.head)
    val fsys = p0.getFileSystem(s.sessionState.newHadoopConf())
    assert(!fsys.exists(p0), "branch-only fragment must be swept after delete_branch")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
    assert(ids(s, s"SELECT id FROM g.db.$t VERSION AS OF 'prod'") == Set(1L, 2L))
  }

  test("system.analyze reports fragment pruning from an executed scan") {
    val t = freshName()
    val path = s"$warehouse/db/$t"
    import s.implicits._
    // 8 fragments with disjoint id ranges → zonemap-prunable
    for (i <- 0 until 8)
      GraftTable.write((i * 100L until (i + 1) * 100L).toDF("id")
        .withColumn("v", org.apache.spark.sql.functions.col("id") * 2).coalesce(1),
        path, if (i == 0) "overwrite" else "append")
    GraftTable.delete(s, path, "id = 650")
    val m = s.sql(
      s"CALL g.system.analyze(table => 'db.$t', predicate => 'id >= 600', columns => 'id')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("fragments_total") == 8L)
    assert(m("fragments_scanned") < m("fragments_total"),
      s"zonemap pruning must skip fragments: $m")
    assert(m("fragments_scanned") == 2L, s"ids >= 600 live in 2 of 8 fragments: $m")
    assert(m("fragments_pruned") == 6L)
    assert(m("rows_in_scanned_fragments") == 200L)
    assert(m("bytes_in_scanned_fragments") > 0L)
    assert(m("dv_rows_masked") == 1L)
    assert(m("rows_returned") == 199L, s"200 candidates minus the deleted row: $m")
    // unfiltered analyze scans everything
    val all = s.sql(s"CALL g.system.analyze(table => 'db.$t')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all("fragments_scanned") == 8L && all("rows_returned") == 799L)
    // constant-false predicate: the optimizer folds the scan away entirely
    // (the perfect prune) — report zeros, never error from a debug tool
    val nil = s.sql(s"CALL g.system.analyze(table => 'db.$t', predicate => '1 = 0')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nil("fragments_scanned") == 0L && nil("rows_returned") == 0L, nil.toString)
    // time-travel analyze: the pre-delete version masks no DV rows
    val v0 = GraftTable.loadManifest(s, path).version - 1
    val old = s.sql(s"CALL g.system.analyze(table => 'db.$t', version => $v0)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(old("dv_rows_masked") == 0L && old("rows_returned") == 800L, old.toString)
    // dv_rows_masked counts DVs behind the SCANNED fragments, not the
    // table-global numDeleted: id < 600 prunes away the deletion-heavy
    // fragment (the deleted row is id 650) → 0 masked, though the table
    // has 1 deletion
    val pruned = s.sql(
      s"CALL g.system.analyze(table => 'db.$t', predicate => 'id < 600')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned("fragments_scanned") == 6L, pruned.toString)
    assert(pruned("dv_rows_masked") == 0L,
      s"scan prunes the fragment holding the DV row: $pruned")
    assert(pruned("rows_returned") == 600L, pruned.toString)
  }

  test("CREATE TABLE CLUSTERED BY stores the bucket spec; INSERTs land bucketed") {
    val t = freshName()
    s.sql(s"""CREATE TABLE g.db.$t (id BIGINT, v DOUBLE) USING graft
             |CLUSTERED BY (id) INTO 4 BUCKETS""".stripMargin)
    s.sql(s"INSERT INTO g.db.$t SELECT id, id * 1.5 FROM range(2000)")
    val path = s"$warehouse/db/$t"
    val m = GraftTable.loadManifest(s, path)
    assert(m.config.get(GraftTable.BucketNumKey).contains("4"), m.config.toString)
    assert(m.config.get(GraftTable.BucketColsKey).contains("id"), m.config.toString)
    assert(m.fragments.nonEmpty &&
      m.fragments.forall(_.path.matches(".*frag-\\d+_\\d+\\.parquet")),
      m.fragments.map(_.path).toString)
    // the read attaches the spec: groupBy on the bucket column plans no
    // exchange on it
    val plan = GraftTable.read(s, path).groupBy("id").count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange hashpartitioning(id"), plan)
    assert(s.sql(s"SELECT sum(v) FROM g.db.$t").head().getDouble(0)
      == (0L until 2000L).map(_ * 1.5).sum)
  }

  test("INSERT OVERWRITE keeps the DDL-declared bucket layout; CLUSTERED BY is case-insensitive") {
    val t = freshName()
    // CLUSTERED BY (ID) on a column named id must resolve (Spark identifier
    // resolution is case-insensitive) and store the canonical casing
    s.sql(s"""CREATE TABLE g.db.$t (id BIGINT, v DOUBLE) USING graft
             |CLUSTERED BY (ID) INTO 4 BUCKETS""".stripMargin)
    s.sql(s"INSERT INTO g.db.$t SELECT id, id * 1.5 FROM range(2000)")
    val path = s"$warehouse/db/$t"
    assert(GraftTable.loadManifest(s, path).config
      .get(GraftTable.BucketColsKey).contains("id"))
    // the reported hazard: INSERT OVERWRITE goes through the V1 truncate
    // fallback — it must NOT silently de-bucket the table
    s.sql(s"INSERT OVERWRITE g.db.$t SELECT id, id * 2.0 FROM range(1000)")
    val m = GraftTable.loadManifest(s, path)
    assert(m.config.get(GraftTable.BucketNumKey).contains("4"), m.config.toString)
    assert(m.config.get(GraftTable.BucketColsKey).contains("id"), m.config.toString)
    assert(m.fragments.nonEmpty &&
      m.fragments.forall(_.path.matches(".*frag-\\d+_\\d+\\.parquet")),
      s"overwrite fragments must keep the bucket suffix: " +
        m.fragments.map(_.path).toString)
    // and a LATER append still lands bucketed
    s.sql(s"INSERT INTO g.db.$t SELECT id, 0.0 FROM range(1000, 1500)")
    val m2 = GraftTable.loadManifest(s, path)
    assert(m2.fragments.forall(_.path.matches(".*frag-\\d+_\\d+\\.parquet")),
      m2.fragments.map(_.path).toString)
    val plan = GraftTable.read(s, path).groupBy("id").count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") &&
      !plan.contains("Exchange hashpartitioning(id"), plan)
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 1500L)
  }

  test("WAL from SQL: config-routed INSERT appends commit-free; wal_flush folds to one commit") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v DOUBLE) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, id * 1.0 FROM range(100)")
    val path = s"$warehouse/db/$t"
    val v0 = GraftTable.loadManifest(s, path).version
    // route subsequent INSERTs through the WAL
    s.sql(s"ALTER TABLE g.db.$t SET TBLPROPERTIES (" +
      "'graft.wal.region' = 'sqlwal', 'graft.wal.owner' = 'etl')")
    val v1 = GraftTable.loadManifest(s, path).version // config commit
    s.sql(s"INSERT INTO g.db.$t SELECT id, 0.0 FROM range(100, 150)")
    s.sql(s"INSERT INTO g.db.$t SELECT id, 0.0 FROM range(150, 200)")
    assert(GraftTable.loadManifest(s, path).version == v1,
      "WAL-routed INSERTs must not move the manifest")
    // committed reads don't see the WAL tail yet
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 100L)
    val st = s.sql(s"CALL g.system.wal_status(table => 'db.$t', region => 'sqlwal')")
      .collect()
    assert(st.length == 1 && st(0).getString(1) == "Open" &&
      st(0).getString(2) == "etl", st.mkString(","))
    val fl = s.sql(s"CALL g.system.wal_flush(table => 'db.$t', " +
      "region => 'sqlwal', owner => 'etl')").head()
    assert(fl.getLong(0) == 100L, s"rows_flushed = ${fl.getLong(0)}")
    assert(GraftTable.loadManifest(s, path).version == v1 + 1,
      "two WAL INSERTs must fold into ONE commit")
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 200L)
    assert(s.sql(s"SELECT sum(id) FROM g.db.$t").head().getLong(0)
      == (0L until 200L).sum)
    assert(v0 + 1 == v1)
    // auto-flush: every 2 INSERTs fold into one commit without a CALL
    s.sql(s"ALTER TABLE g.db.$t SET TBLPROPERTIES (" +
      "'graft.wal.autoflush.batches' = '2')")
    val v2 = GraftTable.loadManifest(s, path).version
    s.sql(s"INSERT INTO g.db.$t SELECT id, 0.0 FROM range(200, 220)")
    assert(GraftTable.loadManifest(s, path).version == v2,
      "first batch stays commit-free")
    s.sql(s"INSERT INTO g.db.$t SELECT id, 0.0 FROM range(220, 240)")
    assert(GraftTable.loadManifest(s, path).version == v2 + 1,
      "second batch triggers the auto-flush commit")
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 240L)
  }

  test("system.explain_query returns the plan without executing") {
    val t = freshName()
    val path = s"$warehouse/db/$t"
    import s.implicits._
    GraftTable.write((0L until 100L).toDF("id").coalesce(1), path, "overwrite")
    val lines = s.sql(
      s"CALL g.system.explain_query(query => 'SELECT id FROM g.db.$t WHERE id > 50', mode => 'formatted')")
      .collect().map(_.getString(0))
    assert(lines.exists(_.contains("Physical Plan")), lines.mkString("\n"))
    assert(lines.exists(_.contains("PushedFilters")), "pushdown must be visible:\n" + lines.mkString("\n"))
    // simple mode works too; bad mode errors clearly
    assert(s.sql(s"CALL g.system.explain_query(query => 'SELECT 1', mode => 'simple')").count() > 0)
    intercept[Exception] {
      s.sql(s"CALL g.system.explain_query(query => 'SELECT 1', mode => 'nope')").collect()
    }
    // the contract's sharp edge: explaining a MUTATION must not run it
    // (since Spark 3.2, spark.sql() executes top-level commands eagerly —
    // the procedure must plan with command execution skipped)
    val ins = s.sql(s"CALL g.system.explain_query(" +
        s"query => 'INSERT INTO g.db.$t SELECT id + 1000 FROM range(0, 5)')")
      .collect().map(_.getString(0))
    assert(ins.exists(_.contains("Physical Plan")), ins.mkString("\n"))
    assert(s.sql(s"SELECT count(*) FROM g.db.$t").head().getLong(0) == 100L,
      "explain_query executed the INSERT it was asked to explain")
  }

  test("system.analyze_query: one CALL reports both sides of a two-table join") {
    val t1 = freshName(); val t2 = freshName()
    val p1 = s"$warehouse/db/$t1"; val p2 = s"$warehouse/db/$t2"
    import s.implicits._
    // 4 fragments each, disjoint id ranges → zonemap-prunable on both sides
    for (i <- 0 until 4) {
      GraftTable.write((i * 100L until (i + 1) * 100L).toDF("id")
        .withColumn("a", org.apache.spark.sql.functions.col("id") * 2).coalesce(1),
        p1, if (i == 0) "overwrite" else "append")
      GraftTable.write((i * 100L until (i + 1) * 100L).toDF("id")
        .withColumn("b", org.apache.spark.sql.functions.col("id") * 3).coalesce(1),
        p2, if (i == 0) "overwrite" else "append")
    }
    val rows = s.sql(
      s"""CALL g.system.analyze_query(query =>
         | 'SELECT l.id, l.a, r.b FROM g.db.$t1 l JOIN g.db.$t2 r ON l.id = r.id
         |  WHERE l.id >= 300 AND r.id >= 300')""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val q = rows.filter(_._1 == -1).map(r => r._3 -> r._4).toMap
    assert(q("rows_returned") == 100L, rows.mkString(","))
    assert(q("graft_scans") == 2L, rows.mkString(","))
    // both tables' pruning stories from one CALL, keyed by table path
    val byTable = rows.filter(_._1 >= 0)
      .groupBy(_._2).map { case (tbl, rs) =>
        tbl -> rs.map(r => r._3 -> r._4).toMap }
    assert(byTable.size == 2, byTable.toString)
    byTable.foreach { case (tbl, m) =>
      assert(m("fragments_total") == 4L, s"$tbl: $m")
      assert(m("fragments_scanned") == 1L, s"id >= 300 lives in 1 of 4: $tbl $m")
      assert(m("fragments_pruned") == 3L, s"$tbl: $m")
      assert(m("rows_in_scanned_fragments") == 100L, s"$tbl: $m")
    }
    // per-operator EXPLAIN-ANALYZE rows from the executed plan: the join
    // itself reports its measured output rows, and scan-stage row counts
    // reflect the pruned read (100 rows per side, not 400)
    val ops = rows.filter(r => r._1 == -1 && r._2 == "(operator)")
    assert(ops.nonEmpty, rows.mkString(","))
    assert(ops.exists(o => o._3.toLowerCase.contains("join") && o._4 == 100L),
      ops.mkString(","))
    assert(ops.exists(o => o._3.toLowerCase.contains("scan") && o._4 == 100L),
      ops.mkString(","))
    // explicit NULL query: clear error, not an NPE
    val e = intercept[Exception] {
      s.sql("CALL g.system.analyze_query(query => CAST(NULL AS STRING))").collect()
    }
    assert(e.getMessage.contains("analyze_query") ||
      Option(e.getCause).exists(_.getMessage.contains("analyze_query")), e.getMessage)
  }

  test("analyze_query: self-joined view attributes pruning per scan leaf") {
    val t = freshName()
    val p = s"$warehouse/db/$t"
    import s.implicits._
    for (i <- 0 until 4)
      GraftTable.write((i * 100L until (i + 1) * 100L).toDF("id").coalesce(1),
        p, if (i == 0) "overwrite" else "append")
    // a temp view over ONE DataFrame: the self-join inlines the SAME
    // LogicalRelation (and GraftFileIndex instance) into both leaves —
    // per-leaf metrics must still attribute each side's pruning, not
    // whichever side listed files last
    GraftTable.read(s, p).createOrReplaceTempView("aq_selfjoin_v")
    val rows = s.sql(
      """CALL g.system.analyze_query(query =>
        | 'SELECT a.id FROM aq_selfjoin_v a JOIN aq_selfjoin_v b
        |  ON a.id = b.id - 300 WHERE a.id < 100 AND b.id >= 300')""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(2), r.getLong(3)))
    val q = rows.filter(_._1 == -1).map(r => r._2 -> r._3).toMap
    assert(q("graft_scans") == 2L, rows.mkString(","))
    assert(q("rows_returned") == 100L, rows.mkString(","))
    val byScan = rows.filter(_._1 >= 0)
      .groupBy(_._1).map { case (i, rs) => i -> rs.map(r => r._2 -> r._3).toMap }
    assert(byScan.size == 2, byScan.toString)
    // each side scans exactly its 1 of 4 fragments; the shared-instance bug
    // reported one side's fragment set for both
    byScan.values.foreach { m =>
      assert(m("fragments_scanned") == 1L && m("fragments_pruned") == 3L,
        byScan.toString)
    }
  }

  test("f16 vector lifecycle through SQL: f16_pack INSERT, create_index, knn_search") {
    val t = freshName()
    val path = s"$warehouse/db/$t"
    import org.apache.spark.sql.functions.col
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, emb BINARY) USING graft")
    // f16_pack is registered by GraftExtensions: half-precision from SQL
    s.sql(s"""INSERT INTO g.db.$t
      |SELECT id, f16_pack(transform(sequence(0, 63),
      |  j -> CAST(sin(id * 131 + j * 17) AS FLOAT)))
      |FROM range(300)""".stripMargin)
    s.sql(s"CALL g.system.create_index(table => 'db.$t', column => 'emb', " +
      "index_type => 'IVF_FLAT', id_col => 'id', nlist => 4)")
    // the index dataset keeps the PACKED bytes (half the probe IO)
    assert(s.read.parquet(s"$path/_indices/ivf_emb/vectors").schema("emb")
      .dataType == org.apache.spark.sql.types.BinaryType)
    val qSql = (0 until 64)
      .map(j => s"CAST(CAST(sin(5 * 131 + $j * 17) AS FLOAT) AS DOUBLE)")
      .mkString("array(", ",", ")")
    val r = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      s"name => 'ivf_emb', query => $qSql, k => 3, nprobes => 4)").collect()
    assert(r.head.getLong(0) == 5L && r.head.getDouble(1) < 0.05,
      s"self-query must rank first within f16 precision: ${r.mkString(",")}")
    // l2_distance_f16 is SQL-callable over the stored column
    val d = s.sql(s"SELECT l2_distance_f16(a.emb, b.emb) FROM g.db.$t a " +
      s"JOIN g.db.$t b ON a.id = 3 AND b.id = 3").head().getDouble(0)
    assert(d == 0.0)
  }

  test("hamming index lifecycle through SQL: create_index, knn_search, optimize, retrain") {
    val t = freshName()
    val path = s"$warehouse/db/$t"
    import org.apache.spark.sql.functions.{col, expr, lit}
    import org.apache.spark.sql.graftshim.ColumnBridge
    import graft.operators.PackSignBits
    val vecs = s.range(0, 300).toDF("id")
      .withColumn("emb",
        expr("transform(sequence(0, 63), j -> CAST(sin(id * 131 + j * 17) AS FLOAT))"))
    val packed = vecs.withColumn("bvec",
      ColumnBridge.column(PackSignBits(ColumnBridge.expression(col("emb")))))
      .select(col("id"), col("bvec"))
    GraftTable.write(packed, path, "overwrite")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'bvec', " +
      "index_type => 'IVF_FLAT', metric => 'hamming', nlist => 4, id_col => 'id')")
    val qSql = vecs.filter(col("id") === 5L).select(col("emb")).head()
      .getSeq[Float](0).map(v => s"CAST($v AS DOUBLE)").mkString("array(", ",", ")")
    def knn(k: Int) = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      s"name => 'ivf_bvec', query => $qSql, k => $k, nprobes => 4)").collect()
    val r = knn(3)
    assert(r.head.getLong(0) == 5L && r.head.getDouble(1) == 0.0, r.mkString(","))
    // ivf_model unpacks the k-majority sign-bit centroids to ±1 doubles
    val model = s.sql(s"CALL g.system.ivf_model(table => 'db.$t', name => 'ivf_bvec')")
      .collect()
    assert(model.length == 4 && model.map(_.getLong(1)).sum == 300L, model.mkString(","))
    assert(model.forall(_.getSeq[Double](2).forall(v => v == 1.0 || v == -1.0)))
    assert(model.forall(_.getSeq[Double](2).length == 64))
    // append a twin, optimize incrementally, search again — indexed fresh
    GraftTable.write(packed.filter(col("id") === 5L).withColumn("id", lit(7777L)),
      path, "append")
    s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'ivf_bvec')")
    val r2 = knn(5).map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(r2.contains((7777L, 0.0)) && r2.contains((5L, 0.0)), r2.toString)
    // retrain re-learns the k-majority centroids from current data
    s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'ivf_bvec', retrain => true)")
    val r3 = knn(5).map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(r3.contains((7777L, 0.0)) && r3.contains((5L, 0.0)), r3.toString)
  }

  test("CALL optimize_index(max_deltas): generation budget from SQL") {
    val t = freshName()
    val path = s"$warehouse/db/$t"
    import org.apache.spark.sql.functions.{col, expr, lit}
    val vecs = s.range(0, 200).toDF("id")
      .withColumn("vec",
        expr("transform(sequence(0, 7), j -> CAST(sin(id * 31 + j * 7) AS FLOAT))"))
    GraftTable.write(vecs, path, "overwrite")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_HNSW', nlist => 2, id_col => 'id')")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    def gens(): Int = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_indices/hnsw_vec"))
      .count(_.getPath.getName.startsWith("graph_delta_"))
    // two append→optimize cycles under the default policy: 2 generations
    for (i <- 1 to 2) {
      GraftTable.write(vecs.limit(10).withColumn("id", col("id") + lit(10000L * i)),
        path, "append")
      s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'hnsw_vec')")
    }
    assert(gens() == 2, s"expected 2 delta generations, got ${gens()}")
    // reference OptimizeOptions.num_indices_to_merge: with NO new appends,
    // max_deltas => 1 compacts the existing generations into one
    s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'hnsw_vec', " +
      "max_deltas => 1)")
    assert(gens() == 1, s"expected 1 delta generation after merge, got ${gens()}")
    // appended rows still reachable through the indexed path
    val qSql = vecs.filter(col("id") === 3L).select(col("vec")).head()
      .getSeq[Float](0).map(v => s"CAST($v AS DOUBLE)").mkString("array(", ",", ")")
    val r = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      s"name => 'hnsw_vec', query => $qSql, k => 3, nprobes => 2, " +
      "ef => 400, refine_factor => 50)").collect()
    assert(r.map(_.getLong(0)).toSet == Set(3L, 10003L, 20003L), r.mkString(","))
    // FTS takes the same budget: segment files compact down on request
    s.sql(s"ALTER TABLE g.db.$t ADD COLUMN body STRING")
    s.sql(s"UPDATE g.db.$t SET body = concat('term', CAST(id % 5 AS STRING))")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      "index_type => 'FTS')")
    for (i <- 3 to 4) {
      GraftTable.write(vecs.limit(5)
        .withColumn("id", col("id") + lit(10000L * i))
        .withColumn("body", lit("term1 fresh")), path, "append")
      s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'fts_body')")
    }
    def postingFiles(): Int = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_indices/fts_body/postings"))
      .count(_.getPath.getName.endsWith(".parquet"))
    val before = postingFiles()
    s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'fts_body', " +
      "max_deltas => 1)")
    assert(postingFiles() < before,
      s"segment budget must compact postings files: $before -> ${postingFiles()}")
    val hits = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'fresh', k => 20)").collect()
    assert(hits.length == 10, s"appended docs searchable after merge: ${hits.length}")
  }

  test("CALL shallow_clone: fork to a new catalog name, shared data, version pin") {
    val t = freshName(); val t2 = freshName(); val t3 = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1), (2)")
    s.sql(s"INSERT INTO g.db.$t VALUES (3)")
    val r = s.sql(s"CALL g.system.shallow_clone(table => 'db.$t', dest => 'db.$t2')")
      .head()
    assert(r.getLong(2) == 3L, r.toString)
    assert(ids(s, s"SELECT id FROM g.db.$t2") == Set(1L, 2L, 3L))
    // pin an old snapshot (v2 = after the first INSERT)
    s.sql(s"CALL g.system.shallow_clone(table => 'db.$t', dest => 'db.$t3', " +
      "version => 2)")
    assert(ids(s, s"SELECT id FROM g.db.$t3") == Set(1L, 2L))
    // clone mutations land under the clone; the source never moves
    s.sql(s"DELETE FROM g.db.$t2 WHERE id = 1")
    assert(ids(s, s"SELECT id FROM g.db.$t2") == Set(2L, 3L))
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L, 3L))
  }

  test("CALL cleanup(delete_unverified): reclaims a dead writer's staged file") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1)")
    s.sql(s"INSERT INTO g.db.$t VALUES (2)")
    val path = s"$warehouse/db/$t"
    // a parquet file under data/ that no manifest references — a crashed
    // writer's staged work
    val staged = new java.io.File(path, "data/txn-dead")
    staged.mkdirs()
    s.range(1).coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(staged, "part").getAbsolutePath)
    def inflight() = new java.io.File(staged, "part").exists()
    // default: unverified files inside the 7-day grace survive
    s.sql(s"CALL g.system.cleanup(table => 'db.$t', keep_last => 1)")
    assert(inflight(), "young unreferenced files survive the default sweep")
    // reference delete_unverified=true: sweep them now
    s.sql(s"CALL g.system.cleanup(table => 'db.$t', keep_last => 1, " +
      "delete_unverified => true)")
    assert(!inflight(), "delete_unverified sweeps staged orphans")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L))
  }

  test("CALL blob_slice: ranged lazy-blob read from SQL") {
    val t = freshName()
    val path = s"$warehouse/db/$t"
    val payload = Array.tabulate(100000)(i => ((i * 131) & 0xFF).toByte)
    import s.implicits._
    val df = Seq((1L, payload), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    GraftTable.write(
      graft.format.BlobStore.packBlobs(df, path, "payload"), path, "overwrite")
    val addr = GraftTable.read(s, path, withRowAddr = true)
      .filter($"id" === 1L)
      .select(org.apache.spark.sql.functions.col(GraftTable.RowAddrCol))
      .head().getLong(0)
    val r = s.sql(s"CALL g.system.blob_slice(table => 'db.$t', " +
      s"`column` => 'payload', addr => $addr, offset => 1000, length => 64)")
      .head()
    assert(r.getLong(1) == 100000L, r.toString)
    assert(r.getAs[Array[Byte]](2).toSeq == payload.slice(1000, 1064).toSeq)
    // a null payload has no blob to hand out — clear error, not a NPE
    val nullAddr = GraftTable.read(s, path, withRowAddr = true)
      .filter($"id" === 2L)
      .select(org.apache.spark.sql.functions.col(GraftTable.RowAddrCol))
      .head().getLong(0)
    val err = intercept[Exception] {
      s.sql(s"CALL g.system.blob_slice(table => 'db.$t', " +
        s"`column` => 'payload', addr => $nullAddr)").collect()
    }
    assert(err.getMessage.contains("no blob"), err.getMessage)
  }

  test("CALL analyze_fts: postings touched vs total, stop-word visibility") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, body STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "CASE WHEN id < 20 THEN 'needle in a stack' " +
      "ELSE concat('plain filler document ', id) END FROM range(0, 200)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      "index_type => 'FTS')")
    def metrics(q: String): Map[String, Long] =
      s.sql(s"CALL g.system.analyze_fts(table => 'db.$t', name => 'fts_body', " +
        s"query => '$q', k => 5)")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m1 = metrics("needle")
    assert(m1("query_terms") == 1L && m1("terms_matched") == 1L, m1.toString)
    assert(m1("postings_rows_scanned") == 20L, m1.toString)
    assert(m1("postings_rows_total") > m1("postings_rows_scanned"), m1.toString)
    assert(m1("fresh_rows_scanned") == 0L, m1.toString)
    assert(m1("rows_returned") == 5L, m1.toString)
    // a term absent from the dictionary — the metrics SHOW the query
    // analyzed to one term but touched zero postings
    val m2 = metrics("zzzmissing")
    assert(m2("query_terms") == 1L && m2("terms_matched") == 0L, m2.toString)
    assert(m2("postings_rows_scanned") == 0L && m2("rows_returned") == 0L,
      m2.toString)
    // fresh append rides the flat leg until the next optimize_index
    s.sql(s"INSERT INTO g.db.$t SELECT id + 1000, 'needle fresh' " +
      "FROM range(0, 7)")
    val m3 = metrics("needle")
    assert(m3("fresh_rows_scanned") == 7L, m3.toString)
    assert(m3("rows_returned") == 5L, m3.toString)
  }

  test("create_index FTS accepts tokenizer_config JSON (language round-trips) (r14)") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, body STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1, 'kinder spielen gern'), " +
      "(2, 'das kind spielt'), (3, 'voellig anderes thema')")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      """index_type => 'FTS', tokenizer_config => '{"stemming":true,"language":"german"}')""")
    val cfg = graft.operators.Fts.loadConfig(s,
      s"$warehouse/db/$t/_indices/fts_body")
    assert(cfg.stemming && cfg.language == "german", cfg.toString)
    // German analysis end-to-end: the plural query stems to the indexed stem
    // index keyed by the default _rowid: rows 0 and 1 hold the kinder/kind
    // docs; the plural query only hits both if it stems under German rules
    val hits = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'kindern', k => 5)")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(0L, 1L), hits.toString)
  }

  test("CALL analyze_knn: probe pruning, fresh-leg volume, measured rows") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, vec ARRAY<FLOAT>) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, array(CAST(id % 17 AS FLOAT), " +
      "CAST(id % 5 AS FLOAT)) FROM range(0, 400)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_FLAT', nlist => 8)")
    def metrics(np: Int): Map[String, Long] =
      s.sql(s"CALL g.system.analyze_knn(table => 'db.$t', name => 'ivf_vec', " +
        s"query => array(3.0D, 2.0D), k => 5, nprobes => $np)")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m1 = metrics(2)
    assert(m1("partitions_total") == 8L, m1.toString)
    assert(m1("partitions_probed") == 2L, m1.toString)
    assert(m1("index_nodes_total") == 400L, m1.toString)
    assert(m1("index_nodes_scanned") < 400L && m1("index_nodes_scanned") > 0L,
      m1.toString)
    assert(m1("fresh_rows_scanned") == 0L, m1.toString)
    assert(m1("rows_returned") == 5L, m1.toString)
    // fresh append rides the flat leg until the next optimize_index
    s.sql(s"INSERT INTO g.db.$t SELECT id + 1000, array(50.0F, 50.0F) " +
      "FROM range(0, 30)")
    val m2 = metrics(8)
    assert(m2("partitions_probed") == 8L, m2.toString)
    assert(m2("index_nodes_scanned") == 400L, m2.toString)
    assert(m2("fresh_rows_scanned") == 30L, m2.toString)
    assert(m2("deferred_rows_served") == 0L, m2.toString)
    // a compaction retires the covered fragments, but their rewrite output
    // serves DEFERRED from the index; the never-covered appends (their own
    // coverage-signature group) stay on the flat leg
    s.sql(s"CALL g.system.compact(table => 'db.$t')")
    val m3 = metrics(8)
    assert(m3("deferred_rows_served") == 400L, m3.toString)
    assert(m3("fresh_rows_scanned") == 30L, m3.toString)
    assert(m3("rows_returned") == 5L, m3.toString)
  }

  test("CALL ivf_model: per-partition centroids and sizes (reference get_ivf_model)") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, vec ARRAY<FLOAT>) USING graft")
    // two tight clusters at (0,0) and (10,10): nlist=2 must split them
    s.sql(s"INSERT INTO g.db.$t SELECT id, CASE WHEN id < 40 " +
      "THEN array(CAST(id % 3 AS FLOAT) * 0.01F, 0.0F) " +
      "ELSE array(10.0F, 10.0F + CAST(id % 3 AS FLOAT) * 0.01F) END " +
      "FROM range(0, 100)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_FLAT', nlist => 2)")
    val rows = s.sql(s"CALL g.system.ivf_model(table => 'db.$t', name => 'ivf_vec')")
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 2, rows.mkString(","))
    assert(rows.map(_.getLong(1)).sum == 100L, rows.mkString(","))
    assert(rows.map(_.getLong(1)).toSet == Set(40L, 60L), rows.mkString(","))
    val cents = rows.map(_.getSeq[Double](2))
    assert(cents.forall(_.length == 2))
    // one centroid near the origin cluster, one near (10,10)
    assert(cents.exists(c => math.abs(c.head) < 1.0) &&
      cents.exists(c => math.abs(c.head - 10.0) < 1.0), cents.toSeq.toString)
    // non-IVF index refuses
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'id', " +
      "index_type => 'BTREE')")
    val err = intercept[Exception] {
      s.sql(s"CALL g.system.ivf_model(table => 'db.$t', name => 'btree_id')").collect()
    }
    assert(err.getMessage.contains("IVF") ||
      Option(err.getCause).exists(_.getMessage.contains("IVF")))
  }

  test("CREATE TABLE AS SELECT and CREATE OR REPLACE") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t USING graft AS SELECT id, id * 2 AS dbl FROM range(5)")
    assert(ids(s, s"SELECT id FROM g.db.$t") == (0L to 4L).toSet)
    s.sql(s"CREATE OR REPLACE TABLE g.db.$t USING graft AS SELECT id FROM range(3)")
    assert(ids(s, s"SELECT id FROM g.db.$t") == (0L to 2L).toSet)
    assert(!s.sql(s"SELECT * FROM g.db.$t").columns.contains("dbl"))
  }

  test("CALL fragments / add_base / import_files: storage surface via SQL") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b')")
    // fragment introspection: one row per fragment, metadata only
    val fr = s.sql(s"CALL g.system.fragments(table => 'db.$t')").collect()
    assert(fr.nonEmpty && fr.forall(_.getLong(2) > 0), s"rows per fragment: ${fr.toSeq}")
    // add_base registers; import_files registers external parquet in place
    val base = Files.createTempDirectory("graft_cat_base_").toString
    val v = s.sql(s"CALL g.system.add_base(table => 'db.$t', name => 'cold', path => '$base')")
      .head()
    assert(v.getString(1) == "cold")
    val ext = Files.createTempDirectory("graft_cat_ext_").toString
    s.range(3, 6).selectExpr("id", "CAST(concat('v', id) AS STRING) AS v")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    val file = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val imp = s.sql(s"CALL g.system.import_files(table => 'db.$t', paths => '$file')").head()
    assert(imp.getLong(1) == 5L, s"live rows after import: $imp")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("CALL create_index / indices / drop_index: manifest-committed inventory via SQL") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, concat('row-', id) FROM range(0, 500)")
    val created = s.sql(
      s"CALL g.system.create_index(table => 'db.$t', `column` => 'id')").head()
    assert(created.getString(0) == "btree_id")
    // inventory lists the committed entry
    val inv = s.sql(s"CALL g.system.indices(table => 'db.$t')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(inv == Seq(("btree_id", "BTREE", "id")), inv.toString)
    // the optimizer wires the fresh index in for a plain SQL filter
    val q = s.sql(s"SELECT v FROM g.db.$t WHERE id = 123")
    assert(q.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      q.queryExecution.optimizedPlan.toString)
    assert(q.head().getString(0) == "row-123")
    // a second family appears alongside
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'v', " +
      "index_type => 'BLOOMFILTER')")
    assert(s.sql(s"CALL g.system.indices(table => 'db.$t')").count() == 2)
    // drop removes the entry; the rewrite disappears, results stay exact
    s.sql(s"CALL g.system.drop_index(table => 'db.$t', name => 'btree_id')")
    val inv2 = s.sql(s"CALL g.system.indices(table => 'db.$t')").collect()
      .map(_.getString(0)).toSeq
    assert(inv2 == Seq(graft.index.BloomIndex.dirName("v")))
    val q2 = s.sql(s"SELECT v FROM g.db.$t WHERE id = 123")
    assert(!q2.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(q2.head().getString(0) == "row-123")
  }

  test("CALL optimize_index dispatches from the manifest entry") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, concat('row-', id) FROM range(0, 400)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'id')")
    s.sql(s"INSERT INTO g.db.$t SELECT id, concat('row-', id) FROM range(400, 500)")
    // the caller names the index; family/column come from the manifest
    val n = s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'btree_id')")
      .head().getLong(0)
    assert(n == 100L, s"expected the 100 appended rows indexed, got $n")
    // full coverage again: the rewrite has no flat-union branch
    val q = s.sql(s"SELECT v FROM g.db.$t WHERE id = 450")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi") && !plan.contains("Union"), plan)
    assert(q.head().getString(0) == "row-450")
    val e = intercept[Exception] {
      s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'nope')")
    }
    assert(e.getMessage.contains("no index"), e.getMessage)
  }

  test("CALL optimize_index(retrain => true) relearns quantizers from current data") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, emb ARRAY<FLOAT>) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, array(cast(id % 7 AS FLOAT)," +
      " cast(id % 5 AS FLOAT)) FROM range(0, 300)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'emb'," +
      " index_type => 'IVF_PQ', nlist => 4, pq_m => 2, pq_k => 16)")
    // distribution drift: a second cluster far from the trained space
    s.sql(s"INSERT INTO g.db.$t SELECT id, array(cast(100 + id % 9 AS FLOAT)," +
      " cast(100 - id % 11 AS FLOAT)) FROM range(300, 600)")
    // retrain re-dispatches the build from the manifest-recorded params
    // (nlist=4, pq_m=2, pq_k=16) and covers the whole current snapshot
    val n = s.sql(s"CALL g.system.optimize_index(table => 'db.$t'," +
      " name => 'ivfpq_emb', retrain => true)").head().getLong(0)
    assert(n == 600L, s"retrain should cover all 600 rows, got $n")
    val ix = s.sql(s"CALL g.system.index_stats(table => 'db.$t', name => 'ivfpq_emb')")
      .head()
    assert(ix.getLong(6) == 0L, s"unindexed debt after retrain: ${ix.getLong(6)}")
    assert(ix.getLong(5) == 600L, s"indexed rows after retrain: ${ix.getLong(5)}")
    // scalar families reject retrain, as in the reference (vector-only)
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'id')")
    val e = intercept[Exception] {
      s.sql(s"CALL g.system.optimize_index(table => 'db.$t'," +
        " name => 'btree_id', retrain => true)")
    }
    def msgChain(x: Throwable): String =
      Option(x.getCause).map(c => x.getMessage + " | " + msgChain(c)).getOrElse(x.getMessage)
    assert(msgChain(e).contains("retrain supports the vector index families"), msgChain(e))
  }

  test("CALL stats / index_stats: manifest-only statistics") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, concat('row-', id) FROM range(0, 400)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'id')")
    s.sql(s"INSERT INTO g.db.$t SELECT id, concat('row-', id) FROM range(400, 500)")
    s.sql(s"DELETE FROM g.db.$t WHERE id < 10")
    // dataset stats: rows/deletes/fragments from the manifest, no data IO
    val st = s.sql(s"CALL g.system.stats(table => 'db.$t')").head()
    assert(st.getLong(0) == 490L, s"num_rows ${st.getLong(0)}")
    assert(st.getLong(1) == 10L, s"num_deleted_rows ${st.getLong(1)}")
    assert(st.getLong(2) >= 2L, s"num_fragments ${st.getLong(2)}")
    // everything here is tiny, so every fragment is "small" at the default
    // compaction threshold
    assert(st.getLong(3) == st.getLong(2))
    // index stats: the append after the build is visible as unindexed debt
    val ix = s.sql(s"CALL g.system.index_stats(table => 'db.$t', name => 'btree_id')")
      .head()
    assert(ix.getString(0) == "BTREE" && ix.getString(1) == "id")
    assert(ix.getLong(5) == 400L, s"num_indexed_rows ${ix.getLong(5)}")
    assert(ix.getLong(6) == 100L, s"num_unindexed_rows ${ix.getLong(6)}")
    assert(ix.getLong(4) >= 1L)
    // optimize clears the debt
    s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'btree_id')")
    val ix2 = s.sql(s"CALL g.system.index_stats(table => 'db.$t', name => 'btree_id')")
      .head()
    assert(ix2.getLong(6) == 0L, s"debt after optimize: ${ix2.getLong(6)}")
    // the full lifecycle table validates clean through SQL
    assert(s.sql(s"CALL g.system.validate(table => 'db.$t')").count() == 0)
    // the commit log replays the lifecycle: create, 2 inserts, delete,
    // then the optimize_index maintenance commit
    val hist = s.sql(s"CALL g.system.history(table => 'db.$t')")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.length >= 5, hist.mkString(","))
    assert(hist.map(_._1).toSeq == hist.map(_._1).toSeq.sorted)
    assert(hist.head._2 == "create")
    assert(hist.count(_._2 == "append") == 2)
    assert(hist.exists(_._2 == "delete"))
    // unknown index name fails with the known list
    val err = intercept[Exception] {
      s.sql(s"CALL g.system.index_stats(table => 'db.$t', name => 'nope')").collect()
    }
    assert(err.getMessage.contains("no index nope") ||
      Option(err.getCause).exists(_.getMessage.contains("no index nope")))
    // per-column storage stats (reference calculate_data_stats): one row
    // per column, every byte count positive
    val ds = s.sql(s"CALL g.system.data_stats(table => 'db.$t')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ds.keySet == Set("id", "v"), s"got ${ds.keySet}")
    assert(ds.values.forall(_ > 0L), s"got $ds")
  }

  test("CALL create_index covers vector and FTS families end-to-end") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, vec ARRAY<FLOAT>, body STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "array(CAST(id % 13 AS FLOAT), CAST(id % 7 AS FLOAT)), " +
      "concat('the quick document ', id) FROM range(0, 400)")
    // vector family, keyed by the stable _rowid — no caller-managed id column
    val created = s.sql(s"CALL g.system.create_index(table => 'db.$t', " +
      "`column` => 'vec', index_type => 'IVF_HNSW_SQ', nlist => 2)").head()
    assert(created.getString(0) == "hnsw_vec", created.toString)
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      "index_type => 'FTS')")
    val inv = s.sql(s"CALL g.system.indices(table => 'db.$t')").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(inv.get("hnsw_vec").contains("IVF_HNSW_SQ") &&
      inv.get("fts_body").contains("FTS"), inv.toString)
    // append creates visible debt; optimize_index clears it from the
    // manifest entry alone
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "array(CAST(id % 13 AS FLOAT), CAST(id % 7 AS FLOAT)), " +
      "concat('the quick document ', id) FROM range(400, 450)")
    assert(s.sql(s"CALL g.system.index_stats(table => 'db.$t', name => 'fts_body')")
      .head().getLong(6) == 50L)
    s.sql(s"CALL g.system.optimize_index(table => 'db.$t', name => 'fts_body')")
    assert(s.sql(s"CALL g.system.index_stats(table => 'db.$t', name => 'fts_body')")
      .head().getLong(6) == 0L)
    // the SQL-created graph index prewarms through its committed entry
    val w = s.sql(s"CALL g.system.prewarm_index(table => 'db.$t', name => 'hnsw_vec')")
      .head()
    assert(w.getString(0) == "IVF_HNSW_SQ" && w.getBoolean(1), w.toString)
  }

  test("create_index auto-sizes nlist to ~sqrt(n) when omitted") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, vec ARRAY<FLOAT>) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "array(CAST(id % 13 AS FLOAT), CAST(id % 7 AS FLOAT)) FROM range(0, 400)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_FLAT')")
    // 400 rows → sqrt = 20 partitions, recorded in the committed entry
    val m = GraftTable.loadManifest(s, s"$warehouse/db/$t")
    val e = m.indices.find(_.name == "ivf_vec").get
    assert(e.params.get("nlist").contains("20"), e.params.toString)
    // HNSW graph-shape knobs flow through and land in the committed params
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_HNSW', nlist => 2, m => 8, ef_construction => 32)")
    val eh = GraftTable.loadManifest(s, s"$warehouse/db/$t")
      .indices.find(_.name == "hnsw_vec").get
    assert(eh.params.get("m").contains("8") &&
      eh.params.get("efConstruction").contains("32"), eh.params.toString)
  }

  test("fts_search between a rewrite and optimize: deferred, deduped, dead and stale docs masked") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, body STRING) USING graft")
    // two inserts => two fragments so compaction has something to merge
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "CASE WHEN id % 10 = 0 THEN concat('needle doc ', id) " +
      "ELSE concat('plain doc ', id) END FROM range(0, 100)")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "CASE WHEN id % 10 = 0 THEN concat('needle doc ', id) " +
      "ELSE concat('plain doc ', id) END FROM range(100, 200)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      "index_type => 'FTS')")
    def hits() = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
        s"name => 'fts_body', query => 'needle', k => 30)")
      .collect().map(_.getLong(0)).toSeq
    val before = hits()
    assert(before.length == 20 && before.distinct.length == 20, before.toString)
    // pure compaction retires coverage; postings are id-keyed so the
    // search serves DEFERRED — same docs, no doc scored twice (the old
    // flat-leg formulation re-scored every surviving doc)
    s.sql(s"CALL g.system.compact(table => 'db.$t')")
    val after = hits()
    assert(after.distinct.length == after.length,
      s"duplicate docs after compaction: $after")
    assert(after.toSet == before.toSet, s"$after vs $before")
    // phrase search keeps working through the deferred state
    assert(s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
        s"name => 'fts_body', query => 'needle doc', k => 5, " +
        "query_type => 'phrase')").count() == 5)
    // a delete + MATERIALIZING compaction kills the doc for good: the
    // postings still carry its id, numDeleted is 0 again — the servable
    // mask (not the DV mask) must drop it
    val victim = after.head
    s.sql(s"DELETE FROM g.db.$t WHERE id = $victim")
    s.sql(s"CALL g.system.compact(table => 'db.$t')")
    val afterDel = hits()
    assert(!afterDel.contains(victim) && afterDel.length == 19,
      s"dead doc $victim resurfaced: $afterDel")
    // the analyze surface reflects the state: rewrite outputs served
    // deferred from the postings, zero flat-leg rows, the servable mask
    // engaged (the DV count is 0 again — it alone would claim nothing
    // is masked while the dead doc is actively dropped)
    val am = s.sql(s"CALL g.system.analyze_fts(table => 'db.$t', " +
        "name => 'fts_body', query => 'needle', k => 30)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(am("deferred_rows_served") == 199L, am.toString)
    assert(am("fresh_rows_scanned") == 0L, am.toString)
    assert(am("servable_mask_engaged") == 1L, am.toString)
    assert(am("dv_rows_masked") == 0L, am.toString)
    // an UPDATE moves a doc's row out of covered state: the indexed leg
    // must not return the STALE version alongside the flat leg's new one
    val moved = afterDel.head
    s.sql(s"UPDATE g.db.$t SET body = 'rewritten entirely' WHERE id = $moved")
    val afterUpd = hits()
    assert(!afterUpd.contains(moved) && afterUpd.distinct.length == afterUpd.length,
      s"stale doc $moved still served: $afterUpd")
    // and a doc updated INTO matching surfaces exactly once via the flat leg
    s.sql(s"UPDATE g.db.$t SET body = 'needle needle needle' WHERE id = 3")
    val afterAdd = hits()
    assert(afterAdd.count(_ == 3L) == 1, afterAdd.toString)
  }

  test("update after a PURE compact: stale posting masked with no deletes anywhere") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, body STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "CASE WHEN id < 5 THEN concat('needle doc ', id) " +
      "ELSE concat('plain doc ', id) END FROM range(0, 50)")
    s.sql(s"INSERT INTO g.db.$t SELECT id + 50, concat('plain doc ', id + 50) " +
      "FROM range(0, 50)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      "index_type => 'FTS')")
    s.sql(s"CALL g.system.compact(table => 'db.$t')")
    // numDeleted is 0 and the lineage is loss-free: the ONLY signal that
    // the indexed leg may serve a stale posting is the update output's
    // lossyLineage flag
    s.sql(s"UPDATE g.db.$t SET body = 'rewritten entirely' WHERE id = 2")
    val hits = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
        s"name => 'fts_body', query => 'needle', k => 10)")
      .collect().map(_.getLong(0)).toSeq
    assert(!hits.contains(2L) && hits.distinct.length == hits.length,
      s"stale doc served after update: $hits")
    assert(hits.toSet == Set(0L, 1L, 3L, 4L), hits.toString)
  }

  test("CALL fts_search / knn_search: both search families from pure SQL") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, vec ARRAY<FLOAT>, body STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "array(CAST(id % 13 AS FLOAT), CAST(id % 7 AS FLOAT)), " +
      "CASE WHEN id = 42 THEN 'needle haystack needle' " +
      "ELSE concat('plain document ', id) END FROM range(0, 300)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_FLAT', nlist => 2)")
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'body', " +
      "index_type => 'FTS')")
    // FTS: the doc repeating the term twice must rank first; ids are _rowid
    // (= insertion order here), so doc 42's row id is 42
    val fts = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'needle', k => 5)").collect()
    assert(fts.nonEmpty && fts.head.getLong(0) == 42L, fts.mkString(","))
    // prefiltered FTS: a filter keeping doc 42 passes it through; one
    // excluding it yields EMPTY (the only 'needle' doc) — never a silent
    // fallback to the unfiltered ranking
    val ftsKeep = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'needle', k => 5, filter => 'id % 2 = 0')")
      .collect()
    assert(ftsKeep.map(_.getLong(0)).toSeq == Seq(42L), ftsKeep.mkString(","))
    val ftsDrop = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'needle', k => 5, filter => 'id % 2 = 1')")
      .collect()
    assert(ftsDrop.isEmpty, ftsDrop.mkString(","))
    // structured SQL query types (reference FullTextQuery): phrase
    // respects token order, fuzzy expands within edit distance
    val ph = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'needle haystack', k => 5, " +
      "query_type => 'phrase')").collect()
    assert(ph.map(_.getLong(0)).toSeq == Seq(42L), ph.mkString(","))
    // the doc has no CONSECUTIVE repeated needle — bag-of-words would match
    val phNone = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'needle needle', k => 5, " +
      "query_type => 'phrase')").collect()
    assert(phNone.isEmpty, phNone.mkString(","))
    val fz = s.sql(s"CALL g.system.fts_search(table => 'db.$t', " +
      "name => 'fts_body', query => 'needls', k => 3, " +
      "query_type => 'fuzzy', fuzziness => 1)").collect()
    assert(fz.nonEmpty && fz.head.getLong(0) == 42L, fz.mkString(","))
    // KNN: full probes on a 2-list index == exact; nearest to (1, 1) among
    // vectors (id % 13, id % 7) is the id ≡ 1 (mod 91) family at distance 0
    val knn = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      "name => 'ivf_vec', query => array(1.0D, 1.0D), k => 3, nprobes => 2)").collect()
    assert(knn.length == 3, knn.mkString(","))
    assert(knn.forall(_.getDouble(1) == 0.0), knn.mkString(",")) // 1, 92, 183
    assert(knn.map(_.getLong(0)).toSet == Set(1L, 92L, 183L), knn.mkString(","))
    // prefiltered ANN from SQL: true top-k of the MATCHING rows — the even
    // zero-distance ids only (92, 274), never a post-filtered short list
    val pre = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      "name => 'ivf_vec', query => array(1.0D, 1.0D), k => 2, nprobes => 2, " +
      "filter => 'id % 2 = 0')").collect()
    assert(pre.map(_.getLong(0)).toSet == Set(92L, 274L), pre.mkString(","))
    assert(pre.forall(_.getDouble(1) == 0.0), pre.mkString(","))
    // HNSW takes the same filter: matching ids broadcast as a routing-only
    // dead-mask into the beam (non-matching nodes route, never rank)
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_HNSW', nlist => 2)")
    val preH = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      "name => 'hnsw_vec', query => array(1.0D, 1.0D), k => 2, nprobes => 2, " +
      "filter => 'id % 2 = 0')").collect()
    assert(preH.map(_.getLong(0)).toSet == Set(92L, 274L), preH.mkString(","))
    assert(preH.forall(_.getDouble(1) == 0.0), preH.mkString(","))
    // distance_range from SQL: excluding the zero-distance family must
    // surface the next ring, bounds applied before the top-k cut
    val rng = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      "name => 'ivf_vec', query => array(1.0D, 1.0D), k => 3, nprobes => 2, " +
      "min_dist => 0.5D, max_dist => 2.5D)").collect()
    assert(rng.length == 3, rng.mkString(","))
    assert(rng.forall(r => r.getDouble(1) >= 0.5 && r.getDouble(1) < 2.5),
      rng.mkString(","))
    // adaptive probe widening (reference minimum/maximum_nprobes): find a
    // filtered query that nprobes=1 starves, then max_nprobes=2 recovers
    // the exact filtered top-k in a single escalation
    val starved = (0L until 30L).find { x =>
      s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
        s"name => 'ivf_vec', query => array(1.0D, 1.0D), k => 1, " +
        s"nprobes => 1, filter => 'id = $x')").collect().isEmpty
    }
    assert(starved.isDefined, "some id must live outside the first probe")
    val widened = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      s"name => 'ivf_vec', query => array(1.0D, 1.0D), k => 1, " +
      s"nprobes => 1, max_nprobes => 2, filter => 'id = ${starved.get}')")
      .collect()
    assert(widened.map(_.getLong(0)).toSeq == Seq(starved.get),
      s"escalation must recover id ${starved.get}: ${widened.mkString(",")}")
    // refine_factor (reference `nearest(refine_factor=...)`) + HNSW `ef`:
    // generous settings at full probes recover the exact zero-distance
    // family through the quantized path; refine_factor < 1 is rejected
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'vec', " +
      "index_type => 'IVF_PQ', nlist => 2, pq_m => 2)")
    val rf = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      "name => 'ivfpq_vec', query => array(1.0D, 1.0D), k => 3, " +
      "nprobes => 2, refine_factor => 50)").collect()
    assert(rf.map(_.getLong(0)).toSet == Set(1L, 92L, 183L), rf.mkString(","))
    val efWide = s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
      "name => 'hnsw_vec', query => array(1.0D, 1.0D), k => 3, " +
      "nprobes => 2, ef => 256, refine_factor => 20)").collect()
    assert(efWide.map(_.getLong(0)).toSet == Set(1L, 92L, 183L), efWide.mkString(","))
    val badRf = intercept[Exception] {
      s.sql(s"CALL g.system.knn_search(table => 'db.$t', " +
        "name => 'ivfpq_vec', query => array(1.0D, 1.0D), k => 3, " +
        "refine_factor => 0)").collect()
    }
    assert(badRf.getMessage.contains("refine_factor") ||
      Option(badRf.getCause).exists(_.getMessage.contains("refine_factor")))
    // unknown index name fails fast, doesn't scan
    val err = intercept[Exception] {
      s.sql(s"CALL g.system.knn_search(table => 'db.$t', name => 'nope', " +
        "query => array(1.0D), k => 1)").collect()
    }
    assert(err.getMessage.contains("nope") || err.getCause != null)
  }

  test("CALL prewarm_index: graph families warm their cache, others no-op") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, vec ARRAY<FLOAT>) USING graft")
    s.sql(s"INSERT INTO g.db.$t SELECT id, " +
      "array(CAST(id AS FLOAT), CAST(id * 2 AS FLOAT)) FROM range(0, 300)")
    val path = s"$warehouse/db/$t"
    graft.operators.HnswIndex.buildForTable(s, path, "id", "vec",
      s"$path/_indices/hnsw_vec", nlist = 2)
    graft.operators.HnswIndex.unpersistAll() // cold start
    val idxPath = s"$path/_indices/hnsw_vec"
    assert(graft.operators.HnswIndex.cachedPayloadType(idxPath).isEmpty)
    val r = s.sql(s"CALL g.system.prewarm_index(table => 'db.$t', name => 'hnsw_vec')")
      .head()
    assert(r.getString(0) == "IVF_HNSW" && r.getBoolean(1), r.toString)
    assert(graft.operators.HnswIndex.cachedPayloadType(idxPath).isDefined)
    // scalar families have no resident structure: documented no-op
    s.sql(s"CALL g.system.create_index(table => 'db.$t', `column` => 'id')")
    val r2 = s.sql(s"CALL g.system.prewarm_index(table => 'db.$t', name => 'btree_id')")
      .head()
    assert(r2.getString(0) == "BTREE" && !r2.getBoolean(1), r2.toString)
  }

  test("SHOW TBLPROPERTIES surfaces version and live-row facts") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1), (2), (3)")
    s.sql(s"DELETE FROM g.db.$t WHERE id = 2")
    val props = s.sql(s"SHOW TBLPROPERTIES g.db.$t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.version") == "3")
    assert(props("graft.rows") == "2")
    assert(props("graft.deleted") == "1")
    assert(props("graft.operation") == "delete")
  }

  test("cache budget evicts under a small limit; cache_stats observes it") {
    import org.apache.spark.sql.functions.col
    import graft.operators.HnswIndex
    val e = Tables.embeddings(s, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val dirs = (1 to 3).map(_ => Files.createTempDirectory("cat_cache_").toString)
    dirs.foreach(d => HnswIndex.build(e, "vec_id", "embedding", d,
      nlist = 2, m = 8, efConstruction = 32))
    s.conf.set(HnswIndex.CacheBudgetKey, "1")
    try {
      dirs.foreach(d => HnswIndex.search(s, d, q, k = 5, nprobes = 2, ef = 32).count())
      // budget 1: only the most recent index's graph may stay pinned
      assert(HnswIndex.cachedPaths().size == 1,
        s"cache exceeded its budget: ${HnswIndex.cachedPaths()}")
      assert(HnswIndex.cachedPaths().head == dirs.last)
      // re-searching the resident index is a HIT; a rotated one a MISS
      val h0 = HnswIndex.cacheHits.get()
      HnswIndex.search(s, dirs.last, q, k = 5, nprobes = 2, ef = 32).count()
      assert(HnswIndex.cacheHits.get() == h0 + 1)
      val m0 = HnswIndex.cacheMisses.get()
      HnswIndex.search(s, dirs.head, q, k = 5, nprobes = 2, ef = 32).count()
      assert(HnswIndex.cacheMisses.get() == m0 + 1)
      // the stats procedure reports entries/capacity/hits/misses
      val rows = s.sql("CALL g.system.cache_stats()").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val (entries, cap, hits, misses) = rows("hnsw_graph")
      assert(entries == 1L && cap == 1L)
      assert(hits >= 1L && misses >= 4L, s"hits=$hits misses=$misses")
      // centroid cache: a repeated model load on an unchanged index hits
      val ch0 = graft.operators.IvfIndex.centroidCacheHits.get()
      graft.operators.IvfIndex.loadModel(s, dirs.last)
      graft.operators.IvfIndex.loadModel(s, dirs.last)
      assert(graft.operators.IvfIndex.centroidCacheHits.get() >= ch0 + 1)
      assert(rows.contains("ivf_centroids"))
      // the r14 driver-local serving caches report too (entries = resident
      // partitions), with live hit/miss counters
      assert(rows.contains("hnsw_serve") && rows.contains("ivf_serve") &&
        rows.contains("fts_serve") && rows.contains("pq_serve") &&
        rows.contains("sq_serve"), rows.keySet)
      val sh0 = HnswIndex.serveHits.get(); val sm0 = HnswIndex.serveMisses.get()
      graft.operators.HnswIndex.serveLocal(s, dirs.head, q, 3, nprobes = 1) // cold
      graft.operators.HnswIndex.serveLocal(s, dirs.head, q, 3, nprobes = 1) // hit
      assert(HnswIndex.serveMisses.get() > sm0 && HnswIndex.serveHits.get() > sh0)
    } finally {
      s.conf.unset(HnswIndex.CacheBudgetKey)
      HnswIndex.unpersistAll()
    }
  }

  test("no-extensions session: V1 fallback read is DV- and rename-correct") {
    val t = freshName()
    s.sql(s"CREATE TABLE g.db.$t (id BIGINT, v STRING) USING graft")
    s.sql(s"INSERT INTO g.db.$t VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    s.sql(s"DELETE FROM g.db.$t WHERE id = 2")
    s.sql(s"ALTER TABLE g.db.$t RENAME COLUMN v TO w")
    // the plain session has no GraftSqlRule/GraftDvRule: the read must go
    // through GraftSqlTable's V1 fallback scan and still honor DVs + rename
    assert(ids(plain, s"SELECT id FROM g.db.$t") == Set(1L, 3L, 4L))
    val got = plain.sql(s"SELECT w FROM g.db.$t WHERE id = 3").head().getString(0)
    assert(got == "c")
    // write path through the plain session also lands CAS commits
    plain.sql(s"INSERT INTO g.db.$t VALUES (5, 'e')")
    assert(ids(s, s"SELECT id FROM g.db.$t") == Set(1L, 3L, 4L, 5L))
  }

}
