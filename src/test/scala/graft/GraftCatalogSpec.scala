package graft

import graft.sources.{GraftCatalog, LakeTable}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The V2 [[graft.sources.GraftCatalog]]: lake tables as first-class
  * SQL objects — DDL (CREATE/ALTER/DROP/RENAME), DML (INSERT/UPDATE/
  * MERGE/DELETE through the same library commits), native `VERSION AS
  * OF` / `TIMESTAMP AS OF` time travel via the catalog's loadTable
  * overloads, tag-as-version, metadata tables, and namespace ops. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSpec.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s
  }
  private val wh = "/tmp/graft_test/catalog_wh"
  import SparkSpec.rmdir

  private def sql(q: String) = spark.sql(q)

  test("namespace + table lifecycle: CREATE, INSERT, SELECT, time travel, DROP") {
    rmdir(s"$wh/db1")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db1")
    sql("DROP TABLE IF EXISTS graft.db1.ev")
    sql("CREATE TABLE graft.db1.ev (k BIGINT, tag STRING, v DOUBLE) USING graftlake")
    // empty but SELECT-able at v0, with the declared schema
    assert(sql("SELECT * FROM graft.db1.ev").columns.toSeq === Seq("k", "tag", "v"))
    assert(sql("SELECT * FROM graft.db1.ev").count() === 0)
    sql("INSERT INTO graft.db1.ev SELECT id AS k, concat('t', id % 3) AS tag, id * 2.0 AS v FROM range(0, 100)")
    sql("INSERT INTO graft.db1.ev SELECT id AS k, concat('t', id % 3) AS tag, id * 2.0 AS v FROM range(100, 150)")
    assert(sql("SELECT count(*) AS n FROM graft.db1.ev").head.getLong(0) === 150L)
    // native V2 time travel: the catalog's loadTable(ident, version)
    assert(sql("SELECT count(*) AS n FROM graft.db1.ev VERSION AS OF 1").head.getLong(0) === 100L)
    assert(sql("SELECT count(*) AS n FROM graft.db1.ev VERSION AS OF 0").head.getLong(0) === 0L)
    // tag-as-version (Iceberg ref syntax)
    LakeTable.tag(s"$wh/db1/ev", "after-first-load", 1)
    assert(sql("SELECT count(*) AS n FROM graft.db1.ev VERSION AS OF 'after-first-load'")
      .head.getLong(0) === 100L)
    // TIMESTAMP AS OF now → latest
    assert(sql("SELECT count(*) AS n FROM graft.db1.ev TIMESTAMP AS OF current_timestamp()")
      .head.getLong(0) === 150L)
    // listTables sees it; DROP removes it
    assert(spark.sql("SHOW TABLES IN graft.db1").collect().map(_.getString(1)).contains("ev"))
    sql("DROP TABLE graft.db1.ev")
    assert(!spark.catalog.tableExists("graft.db1.ev"))
  }

  test("metadata-only DDL: RENAME COLUMN, DROP COLUMN, rename table, history table") {
    rmdir(s"$wh/db2")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db2")
    sql("CREATE TABLE graft.db2.t (k BIGINT, v DOUBLE, junk STRING) USING graftlake")
    sql("INSERT INTO graft.db2.t SELECT id, id * 1.5, 'x' FROM range(0, 10)")
    sql("ALTER TABLE graft.db2.t RENAME COLUMN v TO score")
    // the rename commit is metadata-only; the catalog reflects the
    // new schema immediately…
    assert(spark.table("graft.db2.t").columns.toSeq === Seq("k", "score", "junk"))
    assert(LakeTable.read(spark, s"$wh/db2/t").columns.toSeq === Seq("k", "score", "junk"))
    // …and the READ serves immediately: per-file projection is a
    // library-read feature, so the round-14 lift routes the SQL read
    // through it (the V2 file-level scan alone cannot express it);
    // compact rewrites under current names and reads return to V2
    assert(sql("SELECT sum(score) AS s FROM graft.db2.t").head.getDouble(0)
      === (0 until 10).map(_ * 1.5).sum,
      "the lifted read must serve the renamed column pre-compact")
    LakeTable.compact(spark, s"$wh/db2/t")
    assert(sql("SELECT sum(score) AS s FROM graft.db2.t").head.getDouble(0)
      === (0 until 10).map(_ * 1.5).sum)
    sql("ALTER TABLE graft.db2.t DROP COLUMN junk")
    assert(sql("SELECT * FROM graft.db2.t").columns.toSeq === Seq("k", "score"))
    // metadata tables: one history row per version; manifests lists
    // the snapshot's manifest rows (metadata-scale LocalScan)
    assert(sql("SELECT * FROM graft.db2.t.manifests").columns.toSeq
      === Seq("manifest", "base", "kind", "seq", "n_files"))
    assert(sql("SELECT count(*) AS n FROM graft.db2.t.manifests").head.getLong(0) >= 1L)
    val hist = sql("SELECT * FROM graft.db2.t.history").collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3, 4))
    assert(hist.map(_.getString(1)).toSeq
      === Seq("overwrite", "append", "rename_column", "compact", "drop_column"))
    // RENAME TABLE refuses like Iceberg's HadoopCatalog (absolute
    // paths in manifests — a dir move would orphan them)
    val eMv = intercept[Exception](sql("ALTER TABLE graft.db2.t RENAME TO db2.t2"))
    assert(eMv.getMessage.contains("location-addressed"), eMv.getMessage)
    assert(sql("SELECT count(*) AS n FROM graft.db2.t").head.getLong(0) === 10L)
  }

  test("metadata-only ADD COLUMN: null-extends old rows, writable, evolvable") {
    rmdir(s"$wh/db8")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db8")
    sql("CREATE TABLE graft.db8.t (k BIGINT, v DOUBLE) USING graftlake")
    sql("INSERT INTO graft.db8.t SELECT id, CAST(id * 2.0 AS DOUBLE) FROM range(0, 10)")
    sql("ALTER TABLE graft.db8.t ADD COLUMN extra STRING")
    // metadata-only: one commit, zero data rewritten; old rows read null
    val hist = sql("SELECT * FROM graft.db8.t.history").collect()
    assert(hist.map(_.getString(1)).toSeq === Seq("overwrite", "append", "add_column"))
    assert(sql("SELECT * FROM graft.db8.t").columns.toSeq === Seq("k", "v", "extra"))
    assert(sql("SELECT count(*) AS n FROM graft.db8.t WHERE extra IS NULL")
      .head.getLong(0) === 10L)
    // a write carrying the column lands under the registered field id,
    // and the mixed read null-extends only the old files
    sql("INSERT INTO graft.db8.t SELECT id, CAST(id AS DOUBLE), concat('x', id) " +
      "FROM range(10, 13)")
    assert(sql("SELECT count(extra) AS n FROM graft.db8.t").head.getLong(0) === 3L)
    // time travel BEFORE the add shows the old schema
    assert(sql("SELECT * FROM graft.db8.t VERSION AS OF 1").columns.toSeq
      === Seq("k", "v"))
    // the added column is a first-class field id: rename works on it
    // (files written before the rename need the documented compact to
    // lift the V2 per-file projection, same as any renamed column)
    sql("ALTER TABLE graft.db8.t RENAME COLUMN extra TO note")
    assert(LakeTable.read(spark, s"$wh/db8/t").columns.toSeq === Seq("k", "v", "note"))
    LakeTable.compact(spark, s"$wh/db8/t")
    assert(sql("SELECT count(note) AS n FROM graft.db8.t").head.getLong(0) === 3L)
    // a version pinned between an ADD and a later RENAME of the same
    // (never-written) column still surfaces it under the version's
    // name, typed through the field id (round-8 review catch)
    sql("ALTER TABLE graft.db8.t ADD COLUMN tag2 STRING") // v6
    sql("ALTER TABLE graft.db8.t RENAME COLUMN tag2 TO label2") // v7
    assert(sql("SELECT * FROM graft.db8.t VERSION AS OF 6").columns.contains("tag2"),
      "pinned read between add and rename must keep the version's column name")
    assert(sql("SELECT count(tag2) AS n FROM graft.db8.t VERSION AS OF 6")
      .head.getLong(0) === 0L)
    assert(sql("SELECT * FROM graft.db8.t").columns.contains("label2"))
    // honest refusals: NOT NULL add and positioned add
    val e1 = intercept[Exception](
      sql("ALTER TABLE graft.db8.t ADD COLUMN bad INT NOT NULL"))
    assert(e1.getMessage.contains("nullable"), e1.getMessage)
    val e2 = intercept[Exception](
      sql("ALTER TABLE graft.db8.t ADD COLUMN early INT FIRST"))
    assert(e2.getMessage.contains("trailing"), e2.getMessage)
  }

  test("metadata-only TYPE promotion: INT→BIGINT widens old files in place") {
    rmdir(s"$wh/db9")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db9")
    sql("CREATE TABLE graft.db9.t (k BIGINT, v INT) USING graftlake")
    sql("INSERT INTO graft.db9.t SELECT id, CAST(id * 10 AS INT) FROM range(0, 10)")
    assert(spark.table("graft.db9.t").schema("v").dataType.sql === "INT")
    sql("ALTER TABLE graft.db9.t ALTER COLUMN v TYPE BIGINT")
    // metadata-only: one promote_type commit, zero files rewritten
    val hist = sql("SELECT * FROM graft.db9.t.history").collect()
    assert(hist.map(_.getString(1)).toSeq
      === Seq("overwrite", "append", "promote_type"))
    // the catalog serves the promoted type; old (int) files upcast
    assert(spark.table("graft.db9.t").schema("v").dataType.sql === "BIGINT")
    assert(sql("SELECT sum(v) AS s FROM graft.db9.t").head.getLong(0) === 450L)
    // a write past the int range lands fine and the mixed-vintage
    // read (narrow old files + wide new ones) serves one BIGINT column
    sql(s"INSERT INTO graft.db9.t VALUES (100, ${Int.MaxValue.toLong + 5L})")
    assert(sql("SELECT max(v) AS m FROM graft.db9.t").head.getLong(0)
      === Int.MaxValue.toLong + 5L)
    assert(LakeTable.read(spark, s"$wh/db9/t").schema("v").dataType.sql === "BIGINT")
    // time travel BEFORE the promotion serves the old narrow type
    assert(sql("SELECT * FROM graft.db9.t VERSION AS OF 1").schema("v").dataType.sql
      === "INT")
    // the promotion follows its field id through a rename
    sql("ALTER TABLE graft.db9.t RENAME COLUMN v TO score")
    LakeTable.compact(spark, s"$wh/db9/t") // lift V2 per-file projection
    assert(spark.table("graft.db9.t").schema("score").dataType.sql === "BIGINT")
    assert(sql("SELECT max(score) AS m FROM graft.db9.t").head.getLong(0)
      === Int.MaxValue.toLong + 5L)
    // honest refusals: narrowing and non-numeric re-type (Spark's own
    // upcast check or the library's lossless gate — either may fire)
    val e1 = intercept[Exception](
      sql("ALTER TABLE graft.db9.t ALTER COLUMN score TYPE INT"))
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](
      sql("ALTER TABLE graft.db9.t ALTER COLUMN score TYPE STRING"))
    assert(e2.getMessage.toLowerCase.contains("widening"), e2.getMessage)
  }

  test("TYPE promotion library surface: float→double, decimal widen, branch/rollback carry") {
    import spark.implicits._
    val path = "/tmp/graft_test/promote_lib"
    rmdir(path)
    LakeTable.overwrite(
      Seq((1L, 1.5f, BigDecimal("12.34")), (2L, 2.5f, BigDecimal("99.99")))
        .toDF("k", "f", "d")
        .select(col("k"), col("f"), col("d").cast("decimal(4,2)")), path)
    LakeTable.promoteColumnType(spark, path, "f", "DOUBLE")
    LakeTable.promoteColumnType(spark, path, "d", "DECIMAL(10,2)")
    val got = LakeTable.read(spark, path)
    assert(got.schema("f").dataType.sql === "DOUBLE")
    assert(got.schema("d").dataType.sql === "DECIMAL(10,2)")
    // float→double upcast preserves the float VALUES exactly
    assert(got.orderBy("k").collect().map(_.getDouble(1)).toSeq
      === Seq(1.5f.toDouble, 2.5f.toDouble))
    assert(got.orderBy("k").collect().map(_.getDecimal(2).toString).toSeq
      === Seq("12.34", "99.99"))
    // decimal scale change is NOT lossless at same precision rules
    val e1 = intercept[Exception](
      LakeTable.promoteColumnType(spark, path, "d", "DECIMAL(10,4)"))
    assert(e1.getMessage.contains("widening"), e1.getMessage)
    // a branch forks the promotion; rollback restores the narrow type
    LakeTable.createBranch(spark, path, "audit")
    assert(LakeTable.read(spark, LakeTable.branchPath(path, "audit"))
      .schema("f").dataType.sql === "DOUBLE")
    LakeTable.rollback(spark, path, 0)
    assert(LakeTable.read(spark, path).schema("f").dataType.sql === "FLOAT",
      "rollback to v0 must serve the pre-promotion type")
  }

  test("partitions metadata table: per-partition rollup, MoR refusal, unpartitioned fold") {
    import spark.implicits._
    rmdir(s"$wh/db10")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db10")
    val df = (0 until 100).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("k", "g", "v")
    LakeTable.overwritePartitioned(df, s"$wh/db10/t", "g")
    val rows = sql("SELECT * FROM graft.db10.t.partitions").collect()
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("g=g0" -> 25L, "g=g1" -> 25L, "g=g2" -> 25L, "g=g3" -> 25L))
    assert(rows.forall(_.getLong(2) >= 1L), "file_count must be positive")
    assert(rows.forall(_.getLong(3) > 0L), "total_bytes must be positive")
    // an unpartitioned append folds into the empty-string partition
    LakeTable.append(Seq((1000L, "gX", 0.0)).toDF("k", "g", "v"), s"$wh/db10/t")
    val withPlain = LakeTable.partitions(spark, s"$wh/db10/t").collect()
    assert(withPlain.exists(r => r.getString(0) == "" && r.getLong(1) == 1L))
    // MoR delete manifests refuse the rollup (their subtracted rows
    // are invisible to metadata); compact lifts the refusal
    LakeTable.deleteMoR(spark, s"$wh/db10/t", "k", col("k") < 10L)
    val e = intercept[Exception](LakeTable.partitions(spark, s"$wh/db10/t").collect())
    assert(e.getMessage.contains("compact"), e.getMessage)
    LakeTable.compact(spark, s"$wh/db10/t")
    val total = LakeTable.partitions(spark, s"$wh/db10/t")
      .agg(sum("record_count")).head.getLong(0)
    assert(total === 91L, "post-compact rollup = 101 rows - 10 deleted")
  }

  test("SQL DML on catalog tables rides the same library commits") {
    rmdir(s"$wh/db3")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db3")
    sql("CREATE TABLE graft.db3.acc (k BIGINT, v DOUBLE) USING graftlake")
    sql("INSERT INTO graft.db3.acc SELECT id, id * 1.0 FROM range(0, 10)")
    sql("DELETE FROM graft.db3.acc WHERE k >= 8")
    assert(sql("SELECT count(*) AS n FROM graft.db3.acc").head.getLong(0) === 8L)
    sql("UPDATE graft.db3.acc SET v = v + 100 WHERE k < 2")
    assert(sql("SELECT round(sum(v), 6) AS s FROM graft.db3.acc").head.getDouble(0)
      === (0 until 8).map(_.toDouble).sum + 200.0)
    spark.range(5, 12).selectExpr("id AS k", "id * 10.0 AS v")
      .createOrReplaceTempView("acc_updates")
    sql("""MERGE INTO graft.db3.acc t USING acc_updates s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = sql("SELECT k, v FROM graft.db3.acc ORDER BY k").collect()
    assert(rows.length === 12)
    assert(rows.filter(_.getLong(0) >= 5).map(_.getDouble(1)).toSeq
      === (5 until 12).map(_ * 10.0))
    // the whole DML trail is in history
    assert(sql("SELECT * FROM graft.db3.acc.history").count() === 5L)
  }

  test("aggregate pushdown and exact stats hold for catalog tables") {
    rmdir(s"$wh/db4")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db4")
    sql("CREATE TABLE graft.db4.m (k BIGINT, v DOUBLE) USING graftlake")
    sql("INSERT INTO graft.db4.m SELECT id, id * 2.0 FROM range(0, 500)")
    val q = sql("SELECT count(*) AS n, min(k) AS mn, max(v) AS mx FROM graft.db4.m")
    assert(q.head === Row(500L, 0L, 998.0))
    def expand(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        expand(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s +: expand(s.plan)
      case other => other +: other.children.flatMap(expand)
    }
    q.collect()
    assert(!expand(q.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]),
      "catalog-table count/min/max must be metadata-only")
  }

  test("atomic CTAS: content lands in one commit; failure leaves nothing visible") {
    rmdir(s"$wh/db6")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db6")
    // happy path: one staged write, one visible commit
    sql("CREATE TABLE graft.db6.agg USING graftlake AS " +
      "SELECT id % 7 AS k, count(*) AS n, sum(id) AS s FROM range(0, 1000) GROUP BY id % 7")
    assert(sql("SELECT count(*) AS n FROM graft.db6.agg").head.getLong(0) === 7L)
    assert(sql("SELECT sum(s) AS t FROM graft.db6.agg").head.getLong(0)
      === (0L until 1000L).sum)
    val hist = sql("SELECT * FROM graft.db6.agg.history").collect()
    assert(hist.length === 1 && hist.head.getString(1) === "ctas",
      hist.mkString(","))
    // CTAS into an existing name refuses
    intercept[Exception](
      sql("CREATE TABLE graft.db6.agg USING graftlake AS SELECT 1 AS x"))
    // failing SELECT (ANSI division by zero mid-write) aborts the
    // staged table: nothing visible, no husk dir left behind
    intercept[Exception](
      sql("CREATE TABLE graft.db6.boom USING graftlake AS " +
        "SELECT id / (id - 500) AS x FROM range(0, 1000)"))
    assert(!spark.catalog.tableExists("graft.db6.boom"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/db6/boom")),
      "aborted CTAS must leave no directory residue")
    assert(!spark.sql("SHOW TABLES IN graft.db6").collect()
      .map(_.getString(1)).contains("boom"))
  }

  test("aborted CTAS cleanup outlasts a straggler task's late flush") {
    // Task kills are ASYNCHRONOUS: a killed write task can flush its
    // part file AFTER the driver enters abortStagedChanges, recreating
    // the staging tree mid-removal. Drive the staged-table API
    // directly, with a racing writer thread standing in for the
    // straggler; abort must quiesce past it and leave no residue.
    import java.nio.file.{Files, Paths}
    rmdir(s"$wh/db8")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db8")
    import org.apache.spark.sql.connector.catalog.{Identifier, StagingTableCatalog, TableInfo, Column => V2Column}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[StagingTableCatalog]
    val info = new TableInfo.Builder()
      .withColumns(Array(V2Column.create("k", org.apache.spark.sql.types.LongType)))
      .withProperties(java.util.Collections.emptyMap[String, String]())
      .withPartitions(Array.empty)
      .build()
    // the straggler REACTS to each removal (recreate, fixed count)
    // rather than writing on a wall-clock schedule — a timed writer's
    // sleeps stretch under full-suite load and can land a write AFTER
    // abort's quiesce window. Even reactive, a starved thread can in
    // principle wake post-quiesce, so the scenario retries once: a
    // REAL abort bug reproduces on both attempts, a scheduling fluke
    // does not.
    def attempt(): Boolean = {
      val staged = cat.stageCreate(Identifier.of(Array("db8"), "race"), info)
      val spDir = Paths.get(staged.asInstanceOf[graft.sources.GraftLakeTable].tablePath)
      Files.createDirectories(spDir)
      Files.writeString(spDir.resolve("part-00000.parquet"), "x")
      val straggler = new Thread(() => {
        var recreations = 0
        while (recreations < 3) {
          if (!Files.exists(spDir)) {
            try {
              Files.createDirectories(spDir)
              Files.writeString(spDir.resolve(s"late-$recreations.tmp"), "y")
              recreations += 1
            } catch { case _: java.io.IOException => () }
          }
          Thread.sleep(2)
        }
      })
      straggler.start()
      try staged.abortStagedChanges()
      catch { case _: IllegalStateException => () } // still-active writer: retry decides
      straggler.join()
      val clean = !Files.exists(Paths.get(s"$wh/db8/race"))
      if (!clean) graft.Util.rmRecursive(s"$wh/db8/race") // reset for the retry
      clean
    }
    assert(attempt() || attempt(),
      "abort must leave no residue even when a straggler flushes mid-cleanup")
  }

  test("atomic RTAS: replace keeps history time-travelable; OR REPLACE creates") {
    rmdir(s"$wh/db7")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception](
      sql("REPLACE TABLE graft.db7.r USING graftlake AS SELECT 1L AS k"))
    sql("CREATE OR REPLACE TABLE graft.db7.r USING graftlake AS " +
      "SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS v FROM range(0, 50)")
    assert(sql("SELECT count(*) AS n FROM graft.db7.r").head.getLong(0) === 50L)
    // replace swaps content in ONE commit; the old snapshot stays
    // readable via time travel (Iceberg REPLACE semantics)
    sql("REPLACE TABLE graft.db7.r USING graftlake AS " +
      "SELECT id AS k, CAST(id * 10.0 AS DOUBLE) AS v FROM range(0, 3)")
    assert(sql("SELECT count(*) AS n FROM graft.db7.r").head.getLong(0) === 3L)
    assert(sql("SELECT round(sum(v), 6) AS s FROM graft.db7.r").head.getDouble(0) === 30.0)
    assert(sql("SELECT count(*) AS n FROM graft.db7.r VERSION AS OF 0")
      .head.getLong(0) === 50L)
    val ops = sql("SELECT * FROM graft.db7.r.history").collect().map(_.getString(1)).toSeq
    assert(ops === Seq("ctas", "replace"), ops.mkString(","))
    // a failed REPLACE leaves the table exactly as it was
    intercept[Exception](
      sql("REPLACE TABLE graft.db7.r USING graftlake AS " +
        "SELECT id / (id - 1) AS x FROM range(0, 10)"))
    assert(sql("SELECT count(*) AS n FROM graft.db7.r").head.getLong(0) === 3L)
    assert(sql("SELECT * FROM graft.db7.r.history").count() === 2L)
  }

  test("staging sweep never reclaims ADOPTED staged dirs, only unreferenced residue") {
    rmdir(s"$wh/db9")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db9")
    sql("CREATE TABLE graft.db9.t USING graftlake AS " +
      "SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS v FROM range(0, 100)")
    val stagingRoot = java.nio.file.Paths.get(s"$wh/db9/t/_graft_staging")
    val adopted = java.nio.file.Files.list(stagingRoot).iterator().next()
    // plant genuine crash residue beside the adopted dir
    val residue = stagingRoot.resolve("ctas_dead_residue")
    java.nio.file.Files.createDirectories(residue)
    java.nio.file.Files.writeString(residue.resolve("junk"), "x")
    // age BOTH whole TREES far past the orphan grace (the sweep reads
    // the deep mtime so an in-flight stage is never reclaimed) — age
    // alone must still not decide for the adopted dir
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 24L * 3600 * 1000)
    Seq(adopted, residue).foreach { d =>
      val walk = java.nio.file.Files.walk(d)
      try walk.iterator().forEachRemaining(f =>
        java.nio.file.Files.setLastModifiedTime(f, old))
      finally walk.close()
    }
    // the next staged op sweeps: residue goes, adopted data survives
    sql("REPLACE TABLE graft.db9.t USING graftlake AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(0, 5)")
    assert(!java.nio.file.Files.exists(residue),
      "unreferenced residue past grace must be swept")
    assert(java.nio.file.Files.exists(adopted),
      "a committed CTAS's adopted staging dir must never be swept")
    // v0 (the CTAS content, living in the adopted dir) still reads
    assert(sql("SELECT count(*) AS n FROM graft.db9.t VERSION AS OF 0")
      .head.getLong(0) === 100L)
    assert(sql("SELECT count(*) AS n FROM graft.db9.t").head.getLong(0) === 5L)
  }

  test("namespace hygiene: exists, list, drop refusals") {
    rmdir(s"$wh/db5")
    sql("CREATE NAMESPACE graft.db5")
    intercept[Exception](sql("CREATE NAMESPACE graft.db5")) // already exists
    sql("CREATE TABLE graft.db5.x (k BIGINT) USING graftlake")
    // non-empty namespace refuses plain DROP
    intercept[Exception](sql("DROP NAMESPACE graft.db5"))
    sql("DROP NAMESPACE graft.db5 CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("db5"))
    // loading a missing table is the standard error
    val e = intercept[Exception](sql("SELECT * FROM graft.db5.missing"))
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
  }

  test("refs metadata table lists main, tags and branches — pure metadata") {
    rmdir(s"$wh/db6")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db6")
    sql("DROP TABLE IF EXISTS graft.db6.t")
    sql("CREATE TABLE graft.db6.t (k BIGINT, v STRING) USING graftlake")
    sql("INSERT INTO graft.db6.t VALUES (1, 'a'), (2, 'b')")
    val p = s"$wh/db6/t"
    LakeTable.tag(p, "golden", 1)
    LakeTable.createBranch(spark, p, "audit")
    val refs = sql("SELECT name, type, version FROM graft.db6.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(refs === Seq(
      ("audit", "branch", 0), ("golden", "tag", 1), ("main", "branch", 1)), refs)
    // the tag resolves through VERSION AS OF exactly as refs reports
    assert(sql("SELECT count(*) FROM graft.db6.t VERSION AS OF 'golden'")
      .head.getLong(0) === 2L)
  }

  test("entries metadata table exposes seqs, delete kinds, lineage spans and pins") {
    rmdir(s"$wh/db7")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    sql("DROP TABLE IF EXISTS graft.db7.t")
    sql("CREATE TABLE graft.db7.t (k BIGINT, day BIGINT, v DOUBLE) " +
      "USING graftlake PARTITIONED BY (day)")
    sql("INSERT INTO graft.db7.t SELECT id AS k, id % 3 AS day, id * 1.0 AS v " +
      "FROM range(0, 300)")
    val p = s"$wh/db7/t"
    LakeTable.enableRowLineage(spark, p)
    val vEnabled = LakeTable.latestVersion(p).get

    // partial CoW delete: day-2's boundary file rewrites, days 0/1
    // carry under a partial manifest with PINNED first-row-ids
    LakeTable.delete(spark, p, col("day") === 2L && col("k") < 100L)
    // row-granular MoR delete: a posdel manifest appears
    LakeTable.deleteMoRPositional(spark, p, col("k") === 7L)

    val ent = LakeTable.entries(spark, p).collect()
    val data = ent.filter(_.getAs[String]("kind") == "data")
    val posdel = ent.filter(_.getAs[String]("kind") == "posdel")
    assert(data.nonEmpty && posdel.nonEmpty,
      s"both kinds must be visible: ${ent.map(_.getAs[String]("kind")).toSeq}")

    // delete-family rows: a seq but no lineage span
    assert(posdel.forall(r => !r.isNullAt(r.fieldIndex("seq"))))
    assert(posdel.forall(_.isNullAt(posdel.head.fieldIndex("first_row_id"))))

    // data rows: partition dirs, per-file counts, and a lineage span
    // whose base equals the file's minimum _row_id under the read path
    // (CREATE TABLE's zero-row schema-anchor file is legitimately
    // unpartitioned — overwriteDynamic documents the same carve-out)
    val live = data.filter(_.getAs[Long]("record_count") > 0L)
    assert(live.forall(r => r.getAs[String]("partition").contains("day=")),
      live.map(r => (r.getAs[String]("file"), r.getAs[String]("partition"))).toSeq.mkString("\n"))
    assert(data.map(_.getAs[Long]("record_count")).sum === 300L - 33L)
    assert(data.forall(r => !r.isNullAt(r.fieldIndex("first_row_id"))))
    val carriedPinned = data.filter(_.getAs[Boolean]("frid_pinned"))
    assert(carriedPinned.nonEmpty,
      "the partial carry must surface its explicit frid pins")
    // span honesty, non-circularly, AT THE POST-ENABLE VERSION (later
    // rewrites materialize ids physically and burn fresh spans, so
    // derivation-vs-scan equality only holds where ids still derive):
    // the [first_row_id, +record_count) intervals must be pairwise
    // disjoint and the lineage READ must serve exactly their union
    val enabled = LakeTable.entries(spark, p, Some(vEnabled)).collect()
      .filter(r => r.getAs[String]("kind") == "data" &&
        r.getAs[Long]("record_count") > 0L)
    val intervals = enabled.map(r =>
      (r.getAs[Long]("first_row_id"), r.getAs[Long]("record_count"))).sortBy(_._1)
    intervals.sliding(2).foreach {
      case Array((a, n), (b, _)) => assert(a + n <= b, s"overlapping spans: ${intervals.toSeq}")
      case _ =>
    }
    val ids = graft.sources.LakeTable.readWithLineage(spark, p, Some(vEnabled))
      .select("_row_id").collect().map(_.getLong(0)).toSet
    val expected = intervals.flatMap { case (a, n) => a until (a + n) }.toSet
    assert(ids === expected,
      "the lineage read must serve exactly the union of declared spans")

    // SQL surface serves the same rows within its driver-local bound
    val viaSql = sql("SELECT kind, count(*) AS n FROM graft.db7.t.entries GROUP BY kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql("data") === data.length.toLong)
    assert(viaSql("posdel") === posdel.length.toLong)
  }

  test("all_files / all_manifests walk the LIVE history; expire shrinks the domain") {
    val wh2 = wh
    SparkSpec.rmdir(s"$wh2/db8")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db8")
    sql("CREATE TABLE graft.db8.h (k BIGINT, v DOUBLE) USING graftlake")
    val p = s"$wh2/db8/h"
    import spark.implicits._
    LakeTable.append((0L until 10L).map(i => (i, i * 1.0)).toDF("k", "v")
      .repartition(1), p) // v1
    LakeTable.append((10L until 15L).map(i => (i, i * 1.0)).toDF("k", "v")
      .repartition(1), p) // v2
    // one row per (snapshot, file): the CREATE sentinel is v0's one
    // file, each append CARRIES it — v1's file shows under v1 AND v2
    val af = sql("SELECT snapshot, count(*) AS n FROM graft.db8.h.all_files " +
      "GROUP BY snapshot ORDER BY snapshot")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(af === Seq((0, 1L), (1, 2L), (2, 3L)), s"got $af")
    val am = sql("SELECT manifest, count(*) AS n_snaps " +
      "FROM graft.db8.h.all_manifests GROUP BY manifest")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(am === Seq(1L, 2L, 3L),
      "carried manifests must show once per snapshot referencing them")
    // expiration shrinks the history domain (live snapshots only)
    LakeTable.expireSnapshots(spark, p, retain = 1)
    val post = LakeTable.allFiles(spark, p)
      .select("snapshot").distinct().collect().map(_.getInt(0)).toSeq
    assert(post === Seq(2), s"expired snapshots must leave the domain: $post")
    // the driver-local SQL surfaces refuse past their bound by name
    val e = intercept[IllegalArgumentException](GraftCatalog.requireDriverLocal(
      p, "all_files", GraftCatalog.DriverLocalBound + 1, "rows", "allFiles"))
    assert(e.getMessage.contains("allFiles") && e.getMessage.contains("all_files"),
      e.getMessage)
    GraftCatalog.requireDriverLocal(p, "all_files", GraftCatalog.DriverLocalBound,
      "rows", "allFiles") // at the bound it serves
    assert(sql("SELECT * FROM graft.db8.h.all_files").count() === 3L)
  }

  test("TBLPROPERTIES are versioned commits: SET/UNSET/SHOW, time travel, functional target") {
    rmdir(s"$wh/db9")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db9")
    sql("CREATE TABLE graft.db9.p (k BIGINT, v DOUBLE) USING graftlake " +
      "TBLPROPERTIES ('team' = 'curation')")
    val p = s"$wh/db9/p"
    def show(): Map[String, String] =
      sql("SHOW TBLPROPERTIES graft.db9.p").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show().get("team").contains("curation"),
      "CREATE-time TBLPROPERTIES seed the sidecar")
    val vSeed = LakeTable.latestVersion(p).get // sentinel + seed commit
    sql("ALTER TABLE graft.db9.p SET TBLPROPERTIES " +
      "('retention.days' = '30', 'write.target-file-size-bytes' = '1099511627776')")
    assert(show().get("retention.days").contains("30"))
    assert(LakeTable.latestVersion(p).contains(vSeed + 1),
      "SET TBLPROPERTIES is ONE audited metadata commit")
    // properties time-travel like everything else
    assert(!LakeTable.tablePropsOf(p, vSeed).contains("retention.days"))
    sql("ALTER TABLE graft.db9.p UNSET TBLPROPERTIES ('team')")
    assert(!show().contains("team") && show().get("retention.days").contains("30"))
    // the property is FUNCTIONAL: rewrite_data_files without a target
    // reads write.target-file-size-bytes (1 TiB here → all files fold)
    (0 until 3).foreach(i => sql(
      s"INSERT INTO graft.db9.p SELECT id, CAST(id AS DOUBLE) FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)"))
    val before = LakeTable.entries(spark, p).filter(col("kind") === "data").count()
    sql("CALL graft.system.rewrite_data_files(table => 'db9.p')")
    val after = LakeTable.entries(spark, p).filter(col("kind") === "data").count()
    assert(before >= 3 && after === 1L,
      s"the property-driven target must fold everything: $before -> $after")
    assert(sql("SELECT count(*) FROM graft.db9.p").head.getLong(0) === 30L)
    // write.sort-order is a declaration, not a sidecar property
    val e = intercept[Exception](
      LakeTable.setTableProperties(spark, p, Map("write.sort-order" -> "k")))
    assert(e.getMessage.contains("declaration"), e.getMessage)
  }

  test("VARIANT columns: DDL, ingest, typed extraction, evolution, honest stat refusals") {
    val wh = "/tmp/graft_test/variant_cat_wh"
    SparkSpec.rmdir(wh)
    spark.conf.set("spark.sql.catalog.vlake", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vlake.warehouse", wh)
    sql("CREATE NAMESPACE IF NOT EXISTS vlake.db")
    try {
      // declared VARIANT column through CREATE / INSERT / SELECT
      sql("CREATE TABLE vlake.db.ev (k BIGINT, payload VARIANT) USING graftlake")
      sql("INSERT INTO vlake.db.ev SELECT 1L, parse_json('{\"a\": 7, \"m\": {\"c\": \"x\"}}')")
      sql("INSERT INTO vlake.db.ev SELECT 2L, parse_json('{\"a\": 9}')")
      assert(spark.table("vlake.db.ev").schema("payload").dataType ===
        org.apache.spark.sql.types.VariantType)
      assert(sql("SELECT k, variant_get(payload, '$.a', 'int') AS a " +
        "FROM vlake.db.ev ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((1L, 7), (2L, 9)))
      assert(sql("SELECT try_variant_get(payload, '$.m.c', 'string') " +
        "FROM vlake.db.ev WHERE k = 2").head().isNullAt(0),
        "absent path reads NULL, never an error")
      // evolution: ADD COLUMN VARIANT — prior generation null-folds
      sql("ALTER TABLE vlake.db.ev ADD COLUMN extra VARIANT")
      sql("INSERT INTO vlake.db.ev SELECT 3L, parse_json('{\"a\": 1}'), " +
        "parse_json('[4, 5]')")
      val folded = sql("SELECT k, try_variant_get(extra, '$[0]', 'int') AS e " +
        "FROM vlake.db.ev ORDER BY k").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
      assert(folded === Seq((1L, None), (2L, None), (3L, Some(4))),
        "pre-evolution rows must null-fold the variant column")
      // honesty: a binary-encoded document has no min/max order —
      // NDV/stat machinery refuses the column by name
      val e = intercept[Exception](sql(
        "ANALYZE TABLE vlake.db.ev COMPUTE STATISTICS FOR COLUMNS payload"))
      assert(e.getMessage.contains("payload"), e.getMessage)
    } finally sql("DROP TABLE IF EXISTS vlake.db.ev")
  }

  test("variant shredding: sidecar stats skip files; pre-declaration files stay exact") {
    val p = "/tmp/graft_test/variant_shred"
    SparkSpec.rmdir(p)
    import spark.implicits._
    def frame(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"),
        parse_json(to_json(struct(col("id").as("e"),
          (col("id") * 2.0).as("v")))).as("var"))
    // generation 0 lands BEFORE the declaration: no sidecar, no stats
    LakeTable.overwrite(frame(0, 100), p)
    LakeTable.declareVariantShredding(spark, p, "var",
      Seq("$.e" -> "bigint", "$.v" -> "double"))
    // post-declaration generations carry sidecar stats, clustered
    LakeTable.append(frame(100, 200), p)
    LakeTable.append(frame(200, 300), p)
    LakeTable.append(frame(300, 400), p)
    // the box hits generation [200, 300) only; [100,200) and [300,400)
    // skip on sidecar stats; [0,100) has no sidecar → kept
    // conservatively, rows re-checked against the intact variant
    val out = LakeTable.readWhereVariant(spark, p, "var", "$.e", 220, 260)
      .select(variant_get(col("var"), "$.e", "bigint").as("e")).collect()
      .map(_.getLong(0)).sorted
    assert(out.toSeq === (220L to 260L).toSeq)
    val audit = LakeTable.auditOf(p)
    assert(audit.filesKept < audit.filesClaimed,
      s"sidecar stats must skip the out-of-range generations: $audit")
    // values round-trip identically whether served pre- or post-
    // declaration (the row filter is the intact variant either way)
    val lowBand = LakeTable.readWhereVariant(spark, p, "var", "$.e", 10, 20)
      .count()
    assert(lowBand === 11L)
    // undeclared path refuses by name
    val e1 = intercept[IllegalArgumentException](
      LakeTable.readWhereVariant(spark, p, "var", "$.zzz", 0, 1))
    assert(e1.getMessage.contains("not declared"), e1.getMessage)
    // a malformed declaration refuses at the property chokepoint
    val e2 = intercept[Exception](LakeTable.setTableProperties(spark, p,
      Map("shred.var" -> "no-colon-here")))
    assert(e2.getMessage.contains("jsonPath"), e2.getMessage)
    val e3 = intercept[Exception](
      LakeTable.declareVariantShredding(spark, p, "var",
        Seq("$.x" -> "NOT_A_TYPE")))
    assert(e3.getMessage.toLowerCase.contains("not_a_type"), e3.getMessage)
    // compaction re-shreds: the folded file carries sidecar stats too
    LakeTable.compact(spark, p)
    val out2 = LakeTable.readWhereVariant(spark, p, "var", "$.e", 220, 260)
      .count()
    assert(out2 === 41L, "the fold must not move a row")
  }
}
