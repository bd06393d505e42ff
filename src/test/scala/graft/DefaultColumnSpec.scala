package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S9d — metadata-only ADD COLUMN WITH DEFAULT (Iceberg v3's
  * initial-default shape): one commit declares column + type +
  * constant, zero files rewritten; files that predate the column
  * serve the constant, files written after serve their own values
  * (explicit NULLs stay NULL). */
class DefaultColumnSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import SparkSpec.rmdir

  private val root = "/tmp/graft_test/defaults"

  private def freshTable(name: String): String = {
    val p = s"$root/$name"
    rmdir(p)
    p
  }

  test("old files serve the default, new files their values, NULLs stay NULL") {
    import spark.implicits._
    val p = freshTable("basic")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p)
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$p/data"))
      .filter(_.toString.endsWith(".parquet")).count()
    LakeTable.addColumnWithDefault(spark, p, "tier", "STRING", "'standard'")
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$p/data"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(before === after, "the add must be metadata-only — zero data files written")
    // pre-existing rows read the constant
    assert(LakeTable.read(spark, p).select("k", "tier").collect().toSet ===
      Set((1L, "standard"), (2L, "standard")).map(t => org.apache.spark.sql.Row(t._1, t._2)))
    // a later append carries real values, including an explicit NULL
    LakeTable.append(
      Seq((3L, "c", "premium"), (4L, "d", null)).toDF("k", "v", "tier"), p)
    val got = LakeTable.read(spark, p).select("k", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === Map(1L -> Some("standard"), 2L -> Some("standard"),
      3L -> Some("premium"), 4L -> None))
    // time travel BEFORE the add (first append is v0): no column
    assert(!LakeTable.read(spark, p, Some(0)).columns.contains("tier"))
  }

  test("default follows rename, dies with drop, never resurrects on re-add") {
    import spark.implicits._
    val p = freshTable("lifecycle")
    LakeTable.append(Seq((1L, 1.0)).toDF("k", "x"), p)
    LakeTable.addColumnWithDefault(spark, p, "tag", "STRING", "'t0'")
    LakeTable.renameColumn(spark, p, "tag", "label")
    assert(LakeTable.read(spark, p).select("label").head.getString(0) === "t0")
    LakeTable.dropColumn(spark, p, "label")
    assert(!LakeTable.read(spark, p).columns.contains("label"))
    // re-add under the SAME name, no default: a fresh field id — the
    // dropped id's default must not resurrect
    LakeTable.addColumn(spark, p, "label")
    assert(!LakeTable.read(spark, p).columns.contains("label") ||
      LakeTable.read(spark, p).select("label").head.isNullAt(0))
  }

  test("invalid defaults refuse: null, lossy cast, non-deterministic, column refs, dup name") {
    import spark.implicits._
    val p = freshTable("refusals")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), p)
    intercept[IllegalArgumentException] {
      LakeTable.addColumnWithDefault(spark, p, "c1", "STRING", "NULL")
    }
    intercept[IllegalArgumentException] {
      LakeTable.addColumnWithDefault(spark, p, "c2", "INT", "'not-a-number'")
    }
    intercept[IllegalArgumentException] {
      LakeTable.addColumnWithDefault(spark, p, "c3", "DOUBLE", "rand()")
    }
    intercept[IllegalArgumentException] {
      LakeTable.addColumnWithDefault(spark, p, "c4", "BIGINT", "k + 1")
    }
    intercept[IllegalArgumentException] {
      LakeTable.addColumnWithDefault(spark, p, "v", "STRING", "'dup'")
    }
    // nothing committed by the refusals
    assert(LakeTable.read(spark, p).columns.toSeq === Seq("k", "v"))
  }

  test("an uncompacted defaulted snapshot LIFTS onto the library read; compact materializes") {
    import spark.implicits._
    val p = freshTable("v2")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p)
    LakeTable.addColumnWithDefault(spark, p, "tier", "STRING", "'std'")
    // pre-compact: files predate the column, so the V2 file scan
    // cannot fill the constant — the round-14 read-lift serves the
    // default through the library plan instead of refusing
    val pre = spark.read.format("graftlake").load(p)
      .select("k", "tier").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pre === Map(1L -> "std", 2L -> "std"),
      "the lifted read must serve the declared default pre-compact")
    LakeTable.compact(spark, p)
    val rows = spark.read.format("graftlake").load(p)
      .select("k", "tier").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "std", 2L -> "std"))
  }

  test("readWhere decides pre-add manifests on the DEFAULT constant — kept inside the interval, pruned outside") {
    import spark.implicits._
    val p = freshTable("prune")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p) // v0 predates score
    LakeTable.addColumnWithDefault(spark, p, "score", "INT", "7")
    LakeTable.append(Seq((3L, "c", 20)).toDF("k", "v", "score"), p)
    // constant inside the interval: every pre-add row serves 7 and
    // must surface (the "absent => only null" prune proof does NOT
    // apply to a defaulted column)
    val in = LakeTable.readWhere(spark, p, Seq(("score", 0.0, 10.0)))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(in === Set(1L, 2L))
    // constant outside: pre-add manifests prune EXACTLY; the carried
    // row matches on its own stats
    val out = LakeTable.readWhere(spark, p, Seq(("score", 15.0, 30.0)))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(out === Set(3L))
  }

  test("table-follower stream refuses a pinned defaulted column whose files omit it; pre-add streams deliver empty metadata batches") {
    import spark.implicits._
    val p = freshTable("stream")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), p)
    LakeTable.addColumnWithDefault(spark, p, "tier", "STRING", "'std'")
    LakeTable.append(Seq((2L, "b", "gold")).toDF("k", "v", "tier"), p)
    // a stream started NOW pins a schema containing `tier`; v0's
    // files omit the defaulted id — must refuse, never null-fill
    val q = spark.readStream.format("graftlake").load(p)
      .writeStream.format("memory").queryName("dflt_stream_out").start()
    val ex = intercept[Exception] { q.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // either refusal is honest: the initial-snapshot plan refuses via
    // planV2 ("predate column"), per-version delivery via filesOf
    // ("omit defaulted column") — what matters is NO silent null-fill
    assert(messages(ex).exists(m =>
      m.contains("omit defaulted column 'tier'") || m.contains("predate column 'tier'")),
      messages(ex).mkString(" | "))
    q.stop()
  }

  test("post-compact historical stream replay still refuses pre-add files; the change feed serves the table") {
    import spark.implicits._
    val p = freshTable("replay")
    // column named "txt", not "v" — the change feed exposes its
    // version as a `v` partition column, a documented reserved name
    LakeTable.append(Seq((1L, "a")).toDF("k", "txt"), p)
    LakeTable.addColumnWithDefault(spark, p, "tier", "STRING", "'std'")
    LakeTable.append(Seq((2L, "b", "gold")).toDF("k", "txt", "tier"), p)
    LakeTable.compact(spark, p) // lifts the planV2 refusal at LATEST…
    // …but a follower stream replays v0, whose files predate the
    // column; the guard must judge by the PINNED (current) defaults,
    // not the delivered version's own (empty, pre-add) map
    val q = spark.readStream.format("graftlake").load(p)
      .writeStream.format("memory").queryName("replay_stream_out").start()
    val ex = intercept[Exception] { q.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("omit defaulted column 'tier'")),
      messages(ex).mkString(" | "))
    q.stop()
    // the recommended remedy must actually work: the change feed
    // materializes through library reads (add_column_default is a
    // noop marker, not a schema-mismatched diff)
    val feed = spark.readStream.format("graftlake")
      .option("changeFeed", "true").load(p)
      .writeStream.format("memory").queryName("replay_feed_out").start()
    feed.processAllAvailable()
    feed.stop()
    assert(spark.table("replay_feed_out").count() > 0)
  }

  test("default composes with type promotion and survives branch/rollback lineage") {
    import spark.implicits._
    val p = freshTable("lineage")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), p)
    LakeTable.addColumnWithDefault(spark, p, "score", "INT", "7")
    LakeTable.promoteColumnType(spark, p, "score", "BIGINT")
    val f = LakeTable.read(spark, p).schema.find(_.name == "score").get
    assert(f.dataType === org.apache.spark.sql.types.LongType)
    assert(LakeTable.read(spark, p).select("score").head.getLong(0) === 7L)
    // a branch forked after the add adopts the default
    LakeTable.createBranch(spark, p, "audit")
    val bp = LakeTable.branchPath(p, "audit")
    assert(LakeTable.schFor(bp, LakeTable.latestVersion(bp).get).exists(_.defaults.nonEmpty))
    // rollback to before the add (first append = v0) drops the
    // default with the column
    LakeTable.rollback(spark, p, 0)
    assert(!LakeTable.read(spark, p).columns.contains("score"))
    assert(!LakeTable.schFor(p, LakeTable.latestVersion(p).get).exists(_.defaults.nonEmpty))
  }

  test("SQL path: ALTER TABLE ADD COLUMN ... DEFAULT through the catalog, NOT NULL honest") {
    val wh = s"$root/wh"
    rmdir(wh)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddb")
    spark.sql("DROP TABLE IF EXISTS graft.ddb.t")
    spark.sql("CREATE TABLE graft.ddb.t (k BIGINT, v STRING) USING graftlake")
    spark.sql("INSERT INTO graft.ddb.t VALUES (1, 'a'), (2, 'b')")
    // a DEFAULT makes NOT NULL honest for existing rows
    spark.sql("ALTER TABLE graft.ddb.t ADD COLUMN tier STRING NOT NULL DEFAULT 'standard'")
    val p = s"$wh/ddb/t"
    // library read serves the constant immediately…
    assert(LakeTable.read(spark, p).select("tier").collect()
      .map(_.getString(0)).toSeq === Seq("standard", "standard"))
    // …and so does the catalog SQL read, through the round-14 lift
    // (the file-level scan alone cannot fill the constant)
    assert(spark.table("graft.ddb.t").collect().length === 2)
    LakeTable.compact(spark, p)
    assert(spark.sql("SELECT k, tier FROM graft.ddb.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "standard"), (2L, "standard")))
    // WRITE-DEFAULT: an INSERT that omits the column is filled by the
    // analyzer from the declared CURRENT_DEFAULT field metadata
    spark.sql("INSERT INTO graft.ddb.t (k, v) VALUES (9, 'z')")
    assert(spark.sql("SELECT tier FROM graft.ddb.t WHERE k = 9").head.getString(0)
      === "standard")
    // ...and the explicit DEFAULT keyword resolves to the same constant
    spark.sql("INSERT INTO graft.ddb.t VALUES (10, 'w', DEFAULT)")
    assert(spark.sql("SELECT tier FROM graft.ddb.t WHERE k = 10").head.getString(0)
      === "standard")
    // a plain nullable add without default still works as before
    spark.sql("ALTER TABLE graft.ddb.t ADD COLUMN note STRING")
    assert(spark.table("graft.ddb.t").columns.contains("note"))
    spark.sql("DROP TABLE graft.ddb.t")
  }
}
