package graft

import java.nio.file.{Files, Paths}
import graft.sources.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot-versioned table format: commits, time travel, compaction,
  * history, and pushdown survival through the manifest read path. */
class LakeTableSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val path = "/tmp/graft_test/lake_orders"

  private def rmdir(p: String): Unit = SparkSpec.rmdir(p)

  test("append/overwrite snapshots with time travel and compaction") {
    rmdir(path)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")

    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val odds = orders.filter(col("o_orderkey") % 2 =!= 0)

    val v0 = LakeTable.overwrite(evens, path)
    val v1 = LakeTable.append(odds.repartition(4), path)
    assert(v0 === 0 && v1 === 1)

    // latest = full table; time travel to v0 = evens only
    assert(LakeTable.read(spark, path).count() === orders.count())
    assert(LakeTable.read(spark, path, Some(0)).count() === evens.count())

    // overwrite replaces content; old versions stay readable
    val v2 = LakeTable.overwrite(odds, path)
    assert(v2 === 2)
    assert(LakeTable.read(spark, path).count() === odds.count())
    assert(LakeTable.read(spark, path, Some(1)).count() === orders.count())

    // compaction: same rows, fewer files, prior snapshot untouched
    val filesBefore = LakeTable.history(spark, path)
      .filter(col("version") === 2).select("n_files").head().getLong(0)
    val v3 = LakeTable.compact(spark, path, numFiles = 1)
    val h = LakeTable.history(spark, path).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(h(v3)._1 === "compact" && h(v3)._2 === 1L)
    assert(h(v3)._2 <= filesBefore)
    assert(LakeTable.read(spark, path).count() === odds.count())
    assert(LakeTable.read(spark, path, Some(2)).count() === odds.count())

    // history records every operation in order
    assert(h(0)._1 === "overwrite" && h(1)._1 === "append" && h(2)._1 === "overwrite")
  }

  test("schema evolution: columns appended later read as null for old files") {
    val p2 = "/tmp/graft_test/lake_evolve"
    rmdir(p2)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    LakeTable.overwrite(orders.select("o_orderkey", "o_totalprice").limit(10), p2)
    LakeTable.append(
      orders.select("o_orderkey", "o_totalprice", "o_orderstatus").limit(5), p2)
    val evolved = LakeTable.read(spark, p2)
    assert(evolved.columns.toSet === Set("o_orderkey", "o_totalprice", "o_orderstatus"))
    assert(evolved.filter(col("o_orderstatus").isNull).count() === 10)
    assert(evolved.filter(col("o_orderstatus").isNotNull).count() === 5)
    // time travel: the pre-evolution snapshot keeps its original schema
    assert(LakeTable.read(spark, p2, Some(0)).columns.toSet
      === Set("o_orderkey", "o_totalprice"))
  }

  test("upsert replaces colliding keys, inserts new ones; delete removes rows") {
    val p4 = "/tmp/graft_test/lake_merge"
    rmdir(p4)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders.limit(100), p4)
    val before = LakeTable.read(spark, p4)
    val keys = before.select("o_orderkey").limit(10).collect().map(_.getLong(0))

    // upsert: 10 updated rows (price bumped) + 1 brand-new key
    import spark.implicits._
    val updates = before.filter(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), (col("o_totalprice") + 1000000.0).as("o_totalprice"))
      .unionByName(Seq((-1L, 42.0)).toDF("o_orderkey", "o_totalprice"))
    val vMerge = LakeTable.upsert(updates, p4, "o_orderkey")

    val after = LakeTable.read(spark, p4)
    assert(after.count() === 101) // 100 originals + 1 insert, no dup keys
    assert(after.filter(col("o_orderkey") === -1L).count() === 1)
    assert(after.filter(col("o_totalprice") > 1000000.0).count() === 10)
    // pre-merge snapshot untouched
    assert(LakeTable.read(spark, p4, Some(vMerge - 1))
      .filter(col("o_totalprice") > 1000000.0).count() === 0)

    // delete the updated rows
    LakeTable.delete(spark, p4, col("o_totalprice") > 1000000.0)
    assert(LakeTable.read(spark, p4).count() === 91)
    val ops = LakeTable.history(spark, p4).select("operation").collect().map(_.getString(0))
    assert(ops.takeRight(2).toSeq === Seq("merge", "delete"))
  }

  test("optimizeBy clusters rows into non-overlapping key ranges per file") {
    val p6 = "/tmp/graft_test/lake_optimize"
    rmdir(p6)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders.repartition(8), p6) // scrambled layout
    LakeTable.optimizeBy(spark, p6, numFiles = 4, "o_orderkey")
    val back = LakeTable.read(spark, p6)
    assert(back.count() === orders.count())
    // per-file key ranges must not overlap after clustering
    val ranges = back
      .select(input_file_name().as("f"), col("o_orderkey"))
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, s"overlapping file ranges: $a $b")
      case _ =>
    }
  }

  test("snapshot expiration drops old manifests and garbage-collects their files") {
    val p5 = "/tmp/graft_test/lake_expire"
    rmdir(p5)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders.limit(10), p5)
    LakeTable.overwrite(orders.limit(20), p5)
    LakeTable.overwrite(orders.limit(30), p5)
    val dropped = LakeTable.expireSnapshots(spark, p5, retain = 1)
    assert(dropped.nonEmpty, "expired data files should be deleted")
    dropped.foreach(f => assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    // latest still reads; expired versions are gone from history
    assert(LakeTable.read(spark, p5).count() === 30)
    val hist = LakeTable.history(spark, p5).collect().map(_.getInt(0)).toSeq
    assert(hist === Seq(2))
    intercept[Exception](LakeTable.read(spark, p5, Some(0)).count())
  }

  test("expire is idempotent across commit cycles and removes emptied data dirs") {
    // round-1 ADVICE: a second expire used to crash on PATH_NOT_FOUND
    // reading manifests already removed by the first one.
    val p7 = "/tmp/graft_test/lake_expire_twice"
    rmdir(p7)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders.limit(10), p7)
    LakeTable.overwrite(orders.limit(20), p7)
    LakeTable.expireSnapshots(spark, p7, retain = 1)
    // the periodic-GC cycle: more commits, then expire AGAIN
    LakeTable.overwrite(orders.limit(30), p7)
    val dropped2 = LakeTable.expireSnapshots(spark, p7, retain = 1)
    assert(dropped2.nonEmpty)
    assert(LakeTable.read(spark, p7).count() === 30)
    // a third expire with nothing to do is a clean no-op
    assert(LakeTable.expireSnapshots(spark, p7, retain = 1) === Nil)
    // reading an expired (or never-committed) version fails with a
    // clear message, not a raw PATH_NOT_FOUND from the parquet reader
    val e = intercept[IllegalArgumentException](LakeTable.read(spark, p7, Some(0)))
    assert(e.getMessage.contains("no such snapshot version"))
    val e2 = intercept[IllegalArgumentException](LakeTable.read(spark, p7, Some(99)))
    assert(e2.getMessage.contains("latest is"))
    // GC'd commit data dirs are gone (only the live snapshot's remains)
    import scala.jdk.CollectionConverters._
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$p7/data")).iterator().asScala.toSeq
    assert(dataDirs.size === 1, s"emptied commit dirs should be removed: $dataDirs")
  }

  test("an expired version refuses with the same error on every read surface") {
    import spark.implicits._
    val p = "/tmp/graft_test/lake_expired_everywhere"
    rmdir(p)
    LakeTable.overwrite(Seq((1L, 10.0, "a")).toDF("id", "v", "s"), p) // v0
    LakeTable.overwrite(Seq((2L, 20.0, "b")).toDF("id", "v", "s"), p) // v1
    LakeTable.expireSnapshots(spark, p, retain = 1)
    def refuses(surface: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("no such snapshot version 0")),
        s"$surface must refuse the expired version by name: $msgs")
    }
    refuses("read")(LakeTable.read(spark, p, Some(0)))
    refuses("readWhere")(LakeTable.readWhere(spark, p, Seq(("v", 0.0, 100.0)), Some(0)))
    refuses("readWhereEquals")(LakeTable.readWhereEquals(spark, p, "s", "a", Some(0)))
    refuses("readWhereVariant")(
      LakeTable.readWhereVariant(spark, p, "payload", "$.x", 0.0, 1.0, Some(0)))
    refuses("readWithLineage")(LakeTable.readWithLineage(spark, p, Some(0)))
    refuses("changes")(LakeTable.changes(spark, p, 0, 1))
    refuses("VERSION AS OF")(
      spark.sql(s"SELECT * FROM graftlake.`$p` VERSION AS OF 0").collect())
  }

  test("readWhereEquals keeps the full schema when no kept file carries the column") {
    import spark.implicits._
    val p = "/tmp/graft_test/lake_bloom_schema"
    rmdir(p)
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), p)
    LakeTable.withBloom(spark, p, "s")
    // appended after the bloom, without the column: no bloom, so the
    // probe keeps exactly these files
    LakeTable.append(Seq(3L, 4L).toDF("id"), p)
    val miss = LakeTable.readWhereEquals(spark, p, "s", "zz")
    assert(miss.schema === LakeTable.read(spark, p).filter(col("s") === "zz").schema,
      "the pruned read's schema must not depend on which files the bloom kept")
    assert(miss.count() === 0L)
    assert(LakeTable.readWhereEquals(spark, p, "s", "a").select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("expireOlderThan drops exactly the snapshots committed at or before the cutoff") {
    val p = "/tmp/graft_test/lake_expire_ts"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p) // v0
    LakeTable.overwrite(Seq((2L, "b")).toDF("k", "s"), p) // v1
    Thread.sleep(5)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(5)
    LakeTable.overwrite(Seq((3L, "c")).toDF("k", "s"), p) // v2 (after cutoff)
    val dropped = LakeTable.expireOlderThan(spark, p, cutoff)
    assert(dropped.nonEmpty, "pre-cutoff snapshots' files must be GC'd")
    intercept[IllegalArgumentException](LakeTable.read(spark, p, Some(0)))
    intercept[IllegalArgumentException](LakeTable.read(spark, p, Some(1)))
    assert(LakeTable.read(spark, p, Some(2)).count() === 1)
    // a cutoff beyond every commit still PINS the latest snapshot
    assert(LakeTable.expireOlderThan(spark, p, System.currentTimeMillis()) === Nil)
    assert(LakeTable.read(spark, p).count() === 1)
  }

  test("expire deletes exactly the unreferenced files of the dropped snapshots") {
    val p13 = "/tmp/graft_test/lake_expire_count"
    rmdir(p13)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders.repartition(3), p13) // v0: exactly 3 files
    LakeTable.compact(spark, p13, numFiles = 4) // v1: all-new files
    LakeTable.compact(spark, p13, numFiles = 2) // v2: all-new files
    val dropped = LakeTable.expireSnapshots(spark, p13, retain = 2)
    // only v0's three data files are unreferenced by the retained
    // snapshots — the GC must delete those and nothing else
    assert(dropped.size === 3, s"expected exactly v0's 3 files GC'd, got $dropped")
    assert(LakeTable.read(spark, p13).count() === orders.count())
    assert(LakeTable.read(spark, p13, Some(1)).count() === orders.count())
  }

  test("concurrent appends both land via commit retry/rebase") {
    val p14 = "/tmp/graft_test/lake_append_race"
    rmdir(p14)
    import spark.implicits._
    LakeTable.overwrite(Seq((0L, "base")).toDF("k", "s"), p14) // v0
    // 4 appenders start simultaneously: they all read latest ≈ v0 and
    // race for v1 — ErrorIfExists refuses the losers, which must
    // rebase on the new latest and re-commit instead of failing
    val gate = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (1 to 4).map { i =>
      Future {
        gate.await()
        LakeTable.append(Seq((i.toLong, s"writer$i")).toDF("k", "s"), p14)
      }
    }
    gate.countDown()
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    // every appender committed a DISTINCT version and no row was lost
    assert(versions.sorted === Seq(1, 2, 3, 4))
    assert(LakeTable.read(spark, p14).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 1L, 2L, 3L, 4L))
    assert(LakeTable.history(spark, p14).collect().map(r =>
      r.getInt(0) -> r.getString(1)).toMap
      === Map(0 -> "overwrite", 1 -> "append", 2 -> "append", 3 -> "append", 4 -> "append"))
  }

  test("commit claims exactly base+1: a stale read-base collides instead of lost-update") {
    // round-3 ADVICE (high): if commit re-read latest internally, a
    // racer publishing between our manifest read and our commit would
    // let us claim a brand-new version on top of a STALE file list —
    // rename succeeds, racer's files silently vanish from the newest
    // snapshot. With base threaded through, the claim is base+1 and
    // the racer's dir forces the rename conflict deterministically.
    val p17 = "/tmp/graft_test/lake_stale_base"
    rmdir(p17)
    import spark.implicits._
    LakeTable.overwrite(Seq((0L, "base")).toDF("k", "s"), p17) // v0
    // we observed base = v0; a racer then publishes v1
    LakeTable.append(Seq((1L, "racer")).toDF("k", "s"), p17) // v1
    // committing on the stale base must now FAIL (v1 taken), never
    // silently claim v2 with a file list that lacks the racer's files
    val staleRefs = Seq(LakeTable.ManifestRef(
      s"$p17/_graft_meta/manifests/m-nonexistent.json",
      s"$p17/data/nonexistent", "data", -1, 1, Map.empty))
    intercept[Exception] {
      LakeTable.commitRefs(spark, p17, 0, staleRefs, "append")
    }
    // table intact: both commits' rows visible, no v2 appeared
    assert(LakeTable.read(spark, p17).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 1L))
    assert(LakeTable.history(spark, p17).collect().map(_.getInt(0)).toSeq === Seq(0, 1))
  }

  test("level-1 range prune answers without ever opening a range-excluded manifest") {
    // the manifest LIST's aggregated ranges must eliminate whole
    // manifests BEFORE any per-file entry is deserialized — proven by
    // corrupting the excluded manifest file: a plan that opened it
    // would throw on the parse (round-5 verdict item #2a)
    val p = "/tmp/graft_test/lake_l1prune"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, 1.0), (10L, 2.0)).toDF("k", "v").coalesce(1), p) // v0: k ∈ [1,10]
    LakeTable.append(
      Seq((1000L, 3.0), (1010L, 4.0)).toDF("k", "v").coalesce(1), p) // v1: k ∈ [1000,1010]
    val refs = LakeTable.listRefs(p, 1)
    assert(refs.size === 2)
    val lowRef = refs.find(_.ranges("k").last < 100).get
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(lowRef.manifest), "CORRUPTED — NOT JSON")
    val got = LakeTable.readWhereBetween(spark, p, "k", 900, 1100)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1000L, 1010L),
      "range prune must skip the corrupted low-range manifest and still answer")
    val audit = LakeTable.lastPlanAudit
    assert(audit.manifestsTotal === 2 && audit.manifestsScanned === 1,
      s"level-1 prune must scan exactly the overlapping manifest: $audit")
    assert(audit.filesClaimed === 1 && audit.filesKept === 1, s"$audit")
    // sanity: an unpruned plan DOES open it and fails loudly — the
    // corruption is real, the level-1 skip is what saved the read
    intercept[Exception] {
      LakeTable.readWhereBetween(spark, p, "k", 0, 2000).collect()
    }
  }

  test("entry-level prune of a multi-file manifest keeps only the survivors") {
    // one 4-file manifest: the entry-level stats prune keeps exactly
    // the files whose ranges overlap the predicate (round-5 verdict
    // item #2b)
    val p = "/tmp/graft_test/lake_distplan"
    rmdir(p)
    val df = spark.range(0, 400).select(
      col("id").as("k"), (col("id").cast("double") * 2.0).as("v"))
    LakeTable.overwrite(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p) // v0
    val refs = LakeTable.listRefs(p, 0)
    assert(refs.size === 1 && refs.head.nFiles === 4)
    // selective predicate: one of the four clustered files survives
    val got = LakeTable.readWhereBetween(spark, p, "k", 0, 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L to 50L).toSeq)
    val audit = LakeTable.lastPlanAudit
    assert(audit.filesClaimed === 4 && audit.filesKept === 1,
      s"the plan must keep only the pruned survivor: $audit")
    assert(audit.manifestsWhole === 0, s"$audit")
    // weakly-selective predicate: all 4 files kept, exact rows
    val all = LakeTable.readWhereBetween(spark, p, "k", 0, 399)
    assert(all.count() === 400)
    val audit2 = LakeTable.lastPlanAudit
    assert(audit2.filesKept === 4, s"$audit2")
  }

  test("append metadata is O(1): one new list row per commit, prior manifests untouched") {
    // round-5 verdict item #2c: an append must never rewrite per-file
    // metadata — the new list = previous list + exactly one row, and
    // every previously written manifest stays byte-identical
    val p = "/tmp/graft_test/lake_o1append"
    rmdir(p)
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    def manifestBytes(): Map[String, Seq[Byte]] = {
      val dir = java.nio.file.Paths.get(s"$p/_graft_meta/manifests")
      val ls = java.nio.file.Files.list(dir)
      try ls.iterator().asScala.map(f =>
        f.toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally ls.close()
    }
    LakeTable.overwrite(Seq((0L, 0.0)).toDF("k", "v").coalesce(1), p) // v0
    val baseline = manifestBytes()
    assert(baseline.size === 1)
    (1 to 3).foreach { i =>
      LakeTable.append(Seq((i.toLong, i.toDouble)).toDF("k", "v").coalesce(1), p)
      assert(LakeTable.listRefs(p, i).size === i + 1,
        s"v$i's list must reference exactly ${i + 1} manifests")
    }
    val after = manifestBytes()
    assert(after.size === 4, "one immutable manifest per commit")
    baseline.foreach { case (f, bytes) =>
      assert(after(f) === bytes, s"prior manifest $f must stay byte-identical")
    }
    // and the full snapshot still reads every commit's rows
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 1L, 2L, 3L))
  }

  test("stats skipping ignores NaN min/max bounds instead of pruning the file") {
    // round-3 ADVICE (medium): NaN sorts above every double in Spark's
    // min/max, so a file with one NaN row gets max=NaN and the overlap
    // test `mx >= lower` is false — the file would be skipped even
    // though it holds matching finite rows. Stats must be omitted.
    val p18 = "/tmp/graft_test/lake_nan_stats"
    rmdir(p18)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, Double.NaN), (2L, 5.0), (3L, 7.0)).toDF("k", "v").coalesce(1), p18)
    val entries = LakeTable.entriesOf(p18, 0)
    assert(entries.size === 1, s"coalesce(1) must yield one entry, got $entries")
    val stats = entries.head.stats
    assert(!stats.contains("v"), "NaN-tainted column must carry no stats")
    assert(stats.contains("k"), "finite column keeps its stats")
    // and the pruned read still finds the finite matching rows
    assert(LakeTable.readWhereBetween(spark, p18, "v", 4.0, 8.0)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("empty partitioned overwrite commits zero files without failing") {
    // round-3 ADVICE (low): an empty frame written with partitionBy
    // produces no parquet files; collectStats must not feed an empty
    // path list to spark.read.parquet (AnalysisException). Round-4
    // review: the empty VERSION must also stay readable (as an empty
    // frame) and visible to history — not vanish as a zero-row
    // manifest or crash the assembler's union-reduce.
    val p19 = "/tmp/graft_test/lake_empty_part"
    rmdir(p19)
    import spark.implicits._
    val v = LakeTable.overwritePartitioned(
      Seq.empty[(Long, String, Double)].toDF("k", "part", "v"), p19, "part")
    assert(v === 0)
    assert(LakeTable.read(spark, p19).count() === 0, "empty snapshot must read as empty")
    val h0 = LakeTable.history(spark, p19).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(h0.toSeq === Seq((0, "overwrite", 0L)),
      s"empty version must appear in history with n_files=0, got ${h0.toSeq}")
    // the table recovers: a later append is fully usable
    LakeTable.append(Seq((1L, "x", 1.0)).toDF("k", "part", "v"), p19) // v1
    assert(LakeTable.read(spark, p19).count() === 1)
    assert(LakeTable.versionAsOf(spark, p19, System.currentTimeMillis()) === 1)
  }

  test("schema evolution: appended column surfaces as null on old snapshots' files") {
    val p20 = "/tmp/graft_test/lake_schema_evo"
    rmdir(p20)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), p20) // v0: 2 cols
    LakeTable.append(
      Seq((3L, 30.0, "web"), (4L, 40.0, "app")).toDF("k", "v", "channel"), p20) // v1: 3 cols
    val latest = LakeTable.read(spark, p20)
    assert(latest.columns.toSet === Set("k", "v", "channel"),
      "the read's by-name union must surface the evolved column")
    val byK = latest.collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(byK === Map(1L -> None, 2L -> None, 3L -> Some("web"), 4L -> Some("app")),
      s"old-generation rows must read channel=null, got $byK")
    // time travel to v0 still serves the ORIGINAL 2-column shape
    assert(LakeTable.read(spark, p20, Some(0)).columns.toSet === Set("k", "v"))
  }

  test("field-id rename is metadata-only: old files resolve by id, time travel keeps the old name") {
    val p = "/tmp/graft_test/lake_rename"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), p) // v0
    val files0 = LakeTable.read(spark, p).inputFiles.toSet
    LakeTable.renameColumn(spark, p, "v", "amount") // v1
    val renamed = LakeTable.read(spark, p)
    assert(renamed.columns.toSet === Set("k", "amount"))
    assert(renamed.inputFiles.toSet === files0, "rename must not rewrite data files")
    assert(renamed.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      === Map(1L -> 10.0, 2L -> 20.0), "old files must serve values under the new name")
    // time travel: v0 still serves the ORIGINAL name
    assert(LakeTable.read(spark, p, Some(0)).columns.toSet === Set("k", "v"))
    // appends after the rename mix generations transparently
    LakeTable.append(Seq((3L, 30.0)).toDF("k", "amount"), p) // v2
    val all = LakeTable.read(spark, p)
    assert(all.columns.toSet === Set("k", "amount"))
    assert(all.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      === Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // stats pruning under the NEW name: the predicate translates to
    // each manifest's write-time name, so pre-rename stats still prune
    assert(LakeTable.readWhereBetween(spark, p, "amount", 15.0, 35.0)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // misuse fails loudly
    intercept[IllegalArgumentException](LakeTable.renameColumn(spark, p, "nope", "x"))
    intercept[IllegalArgumentException](LakeTable.renameColumn(spark, p, "amount", "k"))
    // an EMPTY rename segment would mint a field named "" that breaks
    // dotted-path parsing later — refuse at the rename (round-15 ADVICE)
    val eEmpty = intercept[IllegalArgumentException](
      LakeTable.renameColumn(spark, p, "amount", ""))
    assert(eEmpty.getMessage.contains("non-empty"), eEmpty.getMessage)
  }

  test("a literal dot in a top-level field name refuses at write time") {
    val p = "/tmp/graft_test/lake_dotted_name"
    rmdir(p)
    import spark.implicits._
    // such a name would be indistinguishable from a nested struct path
    // in the field-id registry (phantom nested ids, misrouted
    // rename/drop) — Iceberg-style write-time refusal
    val e = intercept[IllegalArgumentException](LakeTable.overwrite(
      Seq((1L, 2.0)).toDF("k", "weird.name"), p))
    assert(e.getMessage.contains("contains '.'"), e.getMessage)
    assert(LakeTable.latestVersion(p).isEmpty, "nothing may commit")
  }

  test("nested struct-field evolution: rename/drop/re-add resolve by field id across generations") {
    val p = "/tmp/graft_test/lake_nested_evo"
    rmdir(p)
    import spark.implicits._
    def doc(k: Long, ts: Long, tag: String) =
      Seq((k, ts, tag)).toDF("k", "ts", "tag")
        .select(col("k"), struct(col("ts"), col("tag")).as("info"))
    LakeTable.overwrite(
      doc(1L, 100L, "a").unionByName(doc(2L, 200L, "b")), p) // v0
    val files0 = LakeTable.read(spark, p).inputFiles.toSet
    // ---- subfield RENAME: metadata-only, old files resolve by id ----
    LakeTable.renameColumn(spark, p, "info.ts", "info.event_ts") // v1
    val r1 = LakeTable.read(spark, p)
    assert(r1.inputFiles.toSet === files0, "nested rename must not rewrite files")
    assert(r1.schema("info").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("event_ts", "tag"))
    assert(r1.select(col("k"), col("info.event_ts")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 100L, 2L -> 200L))
    // time travel to v0 serves the ORIGINAL subfield name
    assert(LakeTable.read(spark, p, Some(0)).select(col("info.ts")).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(100L, 200L))
    // post-rename generation mixes transparently
    LakeTable.append(
      Seq((3L, 300L, "c")).toDF("k", "event_ts", "tag")
        .select(col("k"), struct(col("event_ts"), col("tag")).as("info")), p) // v2
    assert(LakeTable.read(spark, p).select(col("info.event_ts")).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(100L, 200L, 300L))
    // ---- subfield DROP then same-name RE-ADD: fresh id, old files null ----
    LakeTable.dropColumn(spark, p, "info.tag") // v3
    assert(LakeTable.read(spark, p).schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("event_ts"))
    LakeTable.addColumn(spark, p, "info.tag") // v4 — fresh field id
    LakeTable.append(
      Seq((4L, 400L, "d")).toDF("k", "event_ts", "tag")
        .select(col("k"), struct(col("event_ts"), col("tag")).as("info")), p) // v5
    val reAdd = LakeTable.read(spark, p)
      .select(col("k"), col("info.tag")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(reAdd === Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some("d")),
      "old files must serve NULL for the re-added subfield (id never reused)")
    // ---- PARENT rename cascades the children's path prefixes ----
    LakeTable.renameColumn(spark, p, "info", "meta") // v6
    val r6 = LakeTable.read(spark, p)
    assert(r6.columns.toSet === Set("k", "meta"))
    // predicate on the renamed nested path filters correctly across
    // all four generations (two pre-rename, two post)
    assert(r6.filter(col("meta.event_ts") > 150L).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 4L))
    // ---- MoR delete (top-level key) composes with the nested rebuild ----
    LakeTable.deleteMoR(spark, p, "k", col("k") === 2L) // v7
    assert(LakeTable.read(spark, p).select(col("meta.event_ts")).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(100L, 300L, 400L))
    // ---- refusals ----
    // a move (parent change) is not a rename
    val mv = intercept[IllegalArgumentException](
      LakeTable.renameColumn(spark, p, "meta.event_ts", "event_ts"))
    assert(mv.getMessage.contains("parent"), mv.getMessage)
    // an orphan nested add names the missing parent
    val orphan = intercept[IllegalArgumentException](
      LakeTable.addColumn(spark, p, "nope.x"))
    assert(orphan.getMessage.contains("parent"), orphan.getMessage)
    // nested defaults and promotions refuse by name
    assert(intercept[IllegalArgumentException](
      LakeTable.addColumnWithDefault(spark, p, "meta.flag", "INT", "1"))
      .getMessage.contains("TOP-LEVEL"))
    assert(intercept[IllegalArgumentException](
      LakeTable.promoteColumnType(spark, p, "meta.event_ts", "BIGINT"))
      .getMessage.contains("TOP-LEVEL"))
    // dropping the struct drops its subtree (no orphan child ids)
    LakeTable.dropColumn(spark, p, "meta") // v8
    assert(LakeTable.read(spark, p).columns.toSeq === Seq("k"))
    assert(LakeTable.schemaOf(p, LakeTable.latestVersion(p).get).get
      .forall { case (_, n) => !n.startsWith("meta") },
      "descendant ids must leave the schema with their parent")
  }

  test("nested rename/drop refuse over manifests predating nested field ids; compact lifts it") {
    val p = "/tmp/graft_test/lake_nested_legacy"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("k", "ts", "tag")
        .select(col("k"), struct(col("ts"), col("tag")).as("info")), p) // v0
    // fabricate the PRE-UPGRADE manifest shape: strip the dotted
    // entries from v0's list.json cols maps (what a writer from
    // before nested field ids produced), keeping the schema's dotted
    // registrations (as a post-upgrade append would have added them)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val list = java.nio.file.Paths.get(s"$p/_graft_meta/v0/list.json")
    val rewritten = java.nio.file.Files.readAllLines(list)
      .asInstanceOf[java.util.List[String]].toArray.map(_.toString)
      .filter(_.trim.nonEmpty).map { line =>
        val n = mapper.readTree(line).asInstanceOf[
          com.fasterxml.jackson.databind.node.ObjectNode]
        Option(n.get("cols")).filter(_.isObject).foreach { c =>
          val o = c.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val dotted = new java.util.ArrayList[String]()
          o.fieldNames().forEachRemaining(f => if (f.contains(".")) dotted.add(f))
          dotted.forEach(f => { o.remove(f); () })
        }
        mapper.writeValueAsString(n)
      }.mkString("\n")
    java.nio.file.Files.writeString(list, rewritten)
    // an id-addressed subfield change cannot reach legacy files —
    // refuse BY NAME instead of silently nulling / resurfacing
    val ren = intercept[IllegalArgumentException](
      LakeTable.renameColumn(spark, p, "info.ts", "info.event_ts"))
    assert(ren.getMessage.contains("compact"), ren.getMessage)
    val drp = intercept[IllegalArgumentException](
      LakeTable.dropColumn(spark, p, "info.tag"))
    assert(drp.getMessage.contains("compact"), drp.getMessage)
    // compact rewrites files+manifests under the current write-path
    // registration and lifts the refusal; the rename then serves
    // every row's values under the new name
    LakeTable.compact(spark, p) // v1
    LakeTable.renameColumn(spark, p, "info.ts", "info.event_ts") // v2
    assert(LakeTable.read(spark, p).select(col("k"), col("info.event_ts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 100L, 2L -> 200L))
  }

  test("field-id drop: no rewrite; a same-name re-add serves null for old files") {
    val p = "/tmp/graft_test/lake_drop"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "tag"), p) // v0
    val files0 = LakeTable.read(spark, p).inputFiles.toSet
    LakeTable.dropColumn(spark, p, "tag") // v1
    val dropped = LakeTable.read(spark, p)
    assert(dropped.columns.toSet === Set("k", "v"))
    assert(dropped.inputFiles.toSet === files0, "drop must not rewrite data files")
    // time travel: v0 still serves the dropped column
    assert(LakeTable.read(spark, p, Some(0)).columns.toSet === Set("k", "v", "tag"))
    // re-adding the same NAME takes a FRESH field id (ids never
    // reused): old files serve null, never the dropped data's ghost
    LakeTable.append(Seq((3L, 30.0, "fresh")).toDF("k", "v", "tag"), p) // v2
    val byK = LakeTable.read(spark, p).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("tag"))).toMap
    assert(byK === Map(1L -> None, 2L -> None, 3L -> Some("fresh")),
      s"dropped data must not resurrect under the re-added name: $byK")
    intercept[IllegalArgumentException](LakeTable.dropColumn(spark, p, "ghost"))
  }

  test("dropColumn refuses while a live MoR delete file keys on the column") {
    val p = "/tmp/graft_test/lake_drop_guard"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, 1.0, "x"), (2L, 2.0, "y"), (3L, 3.0, "z")).toDF("k", "v", "tag"), p)
    LakeTable.deleteMoR(spark, p, "k", col("k") === 2L) // unfolded delete keyed on k
    val e = intercept[IllegalArgumentException](LakeTable.dropColumn(spark, p, "k"))
    assert(e.getMessage.contains("compact"), e.getMessage)
    assert(LakeTable.read(spark, p).count() === 2, "refusal must leave the table intact")
    LakeTable.compact(spark, p) // folds the delete
    LakeTable.dropColumn(spark, p, "k") // now safe
    assert(LakeTable.read(spark, p).columns.toSet === Set("v", "tag"))
    assert(LakeTable.read(spark, p).count() === 2)
  }

  test("conditional MoR merge keeps an updated NULL-keyed row (null-safe replacement)") {
    val p = "/tmp/graft_test/lake_merge_nullkey"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((Option(1L), "a"), (Option.empty[Long], "orphan")).toDF("k", "s"), p)
    val src = Seq((Option.empty[Long], "patched")).toDF("k", "s")
    LakeTable.mergeConditionalMoR(src, p, "k",
      matched = Seq(LakeTable.MatchedUpdate(None, Map("s" -> col("s.s")))),
      notMatchedInsert = None)
    val got = LakeTable.read(spark, p).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1)).toMap
    assert(got === Map(Option(1L) -> "a", None -> "patched"),
      s"NULL-keyed update must replace, not vanish: $got")
  }

  test("MoR delete files written before a key-column rename still apply after it") {
    val p = "/tmp/graft_test/lake_rename_mor"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), p) // v0
    LakeTable.deleteMoR(spark, p, "k", col("v") > 25.0) // v1: key 3 under old name
    LakeTable.renameColumn(spark, p, "k", "key_id") // v2
    val got = LakeTable.read(spark, p)
    assert(got.columns.toSet === Set("key_id", "v"))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "pre-rename delete file must still subtract by field id under the new name")
  }

  test("hidden partitioning: invisible layout, transform pruning, spec evolution mid-table") {
    val p = "/tmp/graft_test/lake_hidden"
    rmdir(p)
    import spark.implicits._
    // 4 days × 100 keys; bucket(4) on k scatters where stats can't
    // prune (per-file k ranges span everything within a bucket)
    val rows = for (day <- 0 until 4; k <- 0 until 100)
      yield (k.toLong, day * 86400L + k, 1.0)
    val df = rows.toDF("k", "ts_s", "v")
    LakeTable.overwriteHiddenPartitioned(df, p, Seq(
      LakeTable.PartitionTransform("ts_s", "day"),
      LakeTable.PartitionTransform("k", "bucket", 4))) // v0
    // the layout is INVISIBLE: no __p_ column surfaces anywhere
    val back = LakeTable.read(spark, p)
    assert(back.columns.toSet === Set("k", "ts_s", "v"), back.columns.toSeq.toString)
    assert(back.count() === 400)
    // day-interval prune through the transform: 1 of 4 days kept
    val day1 = LakeTable.readWhereBetween(spark, p, "ts_s", 86400, 2 * 86400 - 1)
    assert(day1.count() === 100)
    val a1 = LakeTable.lastPlanAudit
    assert(a1.filesKept < a1.filesClaimed && a1.filesKept > 0,
      s"day transform must skip other days' files: $a1")
    // bucket-equality prune: k = 5 touches only its bucket's files —
    // per-file k stats span ~the full range inside every bucket, so
    // this skip is the TRANSFORM's, not the stats layer's
    val k5 = LakeTable.readWhere(spark, p, Seq(("k", 5, 5)))
    assert(k5.count() === 4) // one row per day
    val a2 = LakeTable.lastPlanAudit
    assert(a2.filesKept < a2.filesClaimed,
      s"bucket transform must skip other buckets' files: $a2")
    // combined box: day × bucket composes
    assert(LakeTable.readWhere(spark, p,
      Seq(("ts_s", 86400, 2 * 86400 - 1), ("k", 5, 5))).count() === 1)
    // SPEC EVOLUTION: append a second generation under a DIFFERENT
    // spec (identity on k) — per-manifest specs prune independently
    val gen2 = Seq((500L, 10 * 86400L, 9.0), (501L, 10 * 86400L, 9.0)).toDF("k", "ts_s", "v")
    LakeTable.appendHiddenPartitioned(gen2, p, Seq(
      LakeTable.PartitionTransform("k", "identity"))) // v1
    val all = LakeTable.read(spark, p)
    assert(all.count() === 402)
    assert(all.columns.toSet === Set("k", "ts_s", "v"))
    // a query across generations stays exact and still prunes: k=501
    // matches only gen2's identity dir; gen1 is excluded by bucket
    // (if 501 hashes elsewhere) or kept conservatively — either way
    // the rows are exact
    assert(LakeTable.readWhere(spark, p, Seq(("k", 501, 501)))
      .collect().map(_.getLong(0)).toSeq === Seq(501L))
    // and a non-matching identity value prunes gen2 without touching it
    assert(LakeTable.readWhere(spark, p, Seq(("k", 500, 500)))
      .collect().map(_.getLong(0)).toSeq === Seq(500L))
    // a RENAME of the bucket source keeps pruning: the predicate's
    // current name translates to the manifest's write-time source
    LakeTable.renameColumn(spark, p, "k", "kk")
    val kR = LakeTable.readWhere(spark, p, Seq(("kk", 5, 5)))
    assert(kR.count() === 4)
    val aR = LakeTable.lastPlanAudit
    assert(aR.filesKept < aR.filesClaimed,
      s"bucket pruning must survive the source rename: $aR")
    LakeTable.renameColumn(spark, p, "kk", "k") // restore for the rest
    // after the rename round trip, bucket equalities still prune (per-
    // file k stats span every bucket, so only the dir name can prune)
    val k5d = LakeTable.readWhere(spark, p, Seq(("k", 5, 5)))
    assert(k5d.count() === 4)
    val a3 = LakeTable.lastPlanAudit
    assert(a3.filesKept < a3.filesClaimed,
      s"bucket constraint must prune after the rename round trip: $a3")
  }

  test("history() version parse is anchored to the meta dir") {
    // round-3 ADVICE (low): a v<digits> segment in the USER's path
    // (here .../v7/...) must not be parsed as the snapshot version
    val p20 = "/tmp/graft_test/v7/lake_versioned_path"
    rmdir("/tmp/graft_test/v7")
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p20) // v0
    LakeTable.append(Seq((2L, "b")).toDF("k", "s"), p20) // v1
    val h = LakeTable.history(spark, p20).collect().map(r => r.getInt(0) -> r.getString(1))
    assert(h.toSeq === Seq(0 -> "overwrite", 1 -> "append"),
      s"versions must come from _graft_meta/vN, got ${h.toSeq}")
  }

  test("partition evolution: mixed partitioned and unpartitioned commits read as one snapshot") {
    // Iceberg-style partition-spec evolution, minimal form: a table
    // written hive-partitioned can keep taking appends with a
    // different (here: no) layout — each manifest entry carries its
    // own basePath, so partition columns reconstruct per commit and
    // the union read sees one coherent schema
    val p24 = "/tmp/graft_test/lake_part_evolve"
    rmdir(p24)
    import spark.implicits._
    LakeTable.overwritePartitioned(
      Seq((1L, "red", 1.0), (2L, "blue", 2.0)).toDF("k", "color", "v"),
      p24, "color") // v0: hive layout, color in dir names
    LakeTable.append(
      Seq((3L, "green", 3.0)).toDF("k", "color", "v"), p24) // v1: flat layout
    val got = LakeTable.read(spark, p24)
      .select("k", "color", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "red", 1.0), (2L, "blue", 2.0), (3L, "green", 3.0)),
      s"mixed-layout snapshot must reconstruct partition columns, got $got")
    // and data skipping still prunes on the numeric column across layouts
    assert(LakeTable.readWhereBetween(spark, p24, "v", 2.5, 3.5)
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("incremental aggregate drops a group whose rows were all deleted") {
    val p23 = "/tmp/graft_test/lake_incr_vanish"
    rmdir(p23)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, "a", 10.0), (2L, "a", 5.0), (3L, "b", 7.0)).toDF("k", "g", "v"), p23) // v0
    LakeTable.delete(spark, p23, col("g") === "a") // v1: group a fully gone
    val got = LakeTable.incrementalAgg(spark, p23, 0, 1, "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).doubleValue))).toMap
    assert(got === Map("b" -> ((1L, 7.0))),
      s"vanished group must not survive with n=0, got $got")
  }

  test("time travel by timestamp resolves the version current at that instant") {
    val p22 = "/tmp/graft_test/lake_ts_travel"
    rmdir(p22)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p22) // v0
    Thread.sleep(5) // strictly between the two commit stamps
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    LakeTable.append(Seq((2L, "b")).toDF("k", "s"), p22) // v1
    assert(LakeTable.versionAsOf(spark, p22, between) === 0)
    assert(LakeTable.readAsOf(spark, p22, between).count() === 1)
    assert(LakeTable.versionAsOf(spark, p22, System.currentTimeMillis()) === 1)
    assert(LakeTable.readAsOf(spark, p22, System.currentTimeMillis()).count() === 2)
    intercept[IllegalArgumentException] { // before the first commit
      LakeTable.versionAsOf(spark, p22, 0L)
    }
  }

  test("orphan detection finds unreferenced data files and nothing else") {
    val p21 = "/tmp/graft_test/lake_orphans"
    rmdir(p21)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p21) // v0
    LakeTable.append(Seq((2L, "b")).toDF("k", "s"), p21) // v1
    assert(LakeTable.orphanFiles(spark, p21).isEmpty, "live files are not orphans")
    // simulate a committer that wrote data files but never published
    // its manifest (lost race / crash before the version claim)
    val dead = java.nio.file.Paths.get(s"$p21/data/dead-commit")
    java.nio.file.Files.createDirectories(dead)
    Seq((9L, "z")).toDF("k", "s").coalesce(1)
      .write.mode("overwrite").parquet(dead.toString)
    val orphans = LakeTable.orphanFiles(spark, p21)
    assert(orphans.nonEmpty && orphans.forall(_.contains("dead-commit")),
      s"exactly the dead commit's files must surface: $orphans")
    // expire does NOT touch orphans (manifest-driven GC only)...
    LakeTable.compact(spark, p21) // v2
    LakeTable.expireSnapshots(spark, p21, retain = 1)
    assert(LakeTable.orphanFiles(spark, p21).nonEmpty,
      "manifest-walking GC must leave unreferenced commits to orphan cleanup")
    // ...and the table itself reads clean throughout
    assert(LakeTable.read(spark, p21).count() === 2)
    // the DEFAULT grace refuses seconds-old orphans: they may belong
    // to an in-flight commit between stage and publish (round-5
    // ADVICE) — nothing is deleted until the files age past the grace
    assert(LakeTable.removeOrphans(spark, p21).isEmpty,
      "default grace must leave fresh orphans for a possible in-flight commit")
    assert(LakeTable.orphanFiles(spark, p21).nonEmpty, "orphans still listed")
    // GC removes exactly the orphans, is idempotent, touches no live file
    val removed = LakeTable.removeOrphans(spark, p21, graceMillis = 0)
    assert(removed.nonEmpty && removed.forall(_.contains("dead-commit")), s"$removed")
    assert(LakeTable.orphanFiles(spark, p21).isEmpty)
    assert(LakeTable.removeOrphans(spark, p21, graceMillis = 0).isEmpty,
      "second GC must be a no-op")
    assert(LakeTable.read(spark, p21).count() === 2)
  }

  test("stats bounds widen conservatively for longs beyond 2^53") {
    // round-2 ADVICE: double round-to-nearest can move an integer min
    // ABOVE the true min; the stored bounds must bracket the exact
    // values so skipping never prunes a file with matching rows
    val p15 = "/tmp/graft_test/lake_bigint_stats"
    rmdir(p15)
    import spark.implicits._
    val big = (1L << 53) + 3L // not double-representable (odd, > 2^53)
    LakeTable.overwrite(Seq((big, 1.0)).toDF("k", "v").coalesce(1), p15)
    val Seq(mn, mx) = LakeTable.entriesOf(p15, 0).head.stats("k").toSeq
    assert(mn <= big.toDouble && BigDecimal(mn) <= BigDecimal(big),
      s"stored min $mn must not exceed true min $big")
    assert(mx >= big.toDouble && BigDecimal(mx) >= BigDecimal(big),
      s"stored max $mx must not undercut true max $big")
    // and the skip layer keeps the file for a predicate touching the value
    assert(LakeTable.readWhereBetween(spark, p15, "k", big.toDouble, big.toDouble + 10)
      .count() === 1)
  }

  test("readWhere schema is layout-independent when every kept file predates a column") {
    val p16 = "/tmp/graft_test/lake_schema_stable"
    rmdir(p16)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 10.0)).toDF("k", "v").coalesce(1), p16)
    LakeTable.append(Seq((2L, 20.0, 5L)).toDF("k", "v", "extra").coalesce(1), p16)
    // predicate on `extra` skips the old file (no stats → kept) — but
    // pick bounds that skip the NEW file via stats, leaving only the
    // stats-less old file, which lacks the column entirely
    val pruned = LakeTable.readWhere(spark, p16, Seq(("extra", 100.0, 200.0)))
    // round-2 ADVICE: this used to drop `extra` from the schema when
    // every surviving file predated it — selecting it then threw only
    // on some data layouts
    assert(pruned.columns.contains("extra"),
      s"pruned schema must match the unpruned read: ${pruned.columns.toSeq}")
    assert(pruned.select("extra").count() === 0)
    assert(LakeTable.read(spark, p16).columns.sorted.toSeq === pruned.columns.sorted.toSeq)
  }

  test("commit-time stats never pay unbounded driver work or a data re-scan") {
    // round-2 verdict item #4 banned the unbounded sequential driver
    // footer loop; the round-16 optimization reads stats from the
    // footers the write already produced (no second full read of the
    // written bytes), with the driver loop BOUNDED by
    // FooterStatsDriverMax and one distributed fan-out job past it.
    // Pin both halves of that contract in the source…
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/sources/LakeTable.scala")))
    assert(src.contains("files.size <= FooterStatsDriverMax"),
      "the driver footer loop must stay bounded by FooterStatsDriverMax")
    assert(src.contains(".mapPartitions(fs => footerStatsBatch(fs, bc.value.value))"),
      "past the bound, footer reads must fan out as a distributed job")
    // …and behaviorally: with the bound forced to zero every commit
    // takes the distributed branch and still produces full stats
    val p = "/tmp/graft_test/lake_stats_distributed"
    rmdir(p)
    import spark.implicits._
    LakeTable.withFooterStatsDriverMax(0) {
      LakeTable.overwrite(
        (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
          .repartition(3, col("k")), p)
    }
    val entries = LakeTable.entriesOf(p, 0)
    assert(entries.nonEmpty &&
      entries.forall(e => e.stats.contains("k") && e.stats.contains("v")),
      s"distributed footer stats missing: $entries")
    assert(entries.map(_.rows).sum === 100L)
  }

  test("delete keeps rows whose predicate evaluates to NULL (SQL DELETE semantics)") {
    val p8 = "/tmp/graft_test/lake_null_delete"
    rmdir(p8)
    import spark.implicits._
    val rows = Seq((1L, Some(5.0)), (2L, None), (3L, Some(50.0)))
      .toDF("k", "v")
    LakeTable.overwrite(rows, p8)
    LakeTable.delete(spark, p8, col("v") > 10.0) // NULL for k=2
    val kept = LakeTable.read(spark, p8).select("k").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 2L), "NULL-predicate row must be retained")
  }

  test("partitioned snapshots reconstruct partition columns and prune") {
    val p3 = "/tmp/graft_test/lake_part"
    rmdir(p3)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    LakeTable.overwritePartitioned(orders, p3, "o_orderstatus")
    val back = LakeTable.read(spark, p3)
    // partition column reconstructed from directory names
    assert(back.columns.toSet === Set("o_orderkey", "o_totalprice", "o_orderstatus"))
    assert(back.count() === orders.count())
    assert(back.filter(col("o_orderstatus") === "F").count()
      === orders.filter(col("o_orderstatus") === "F").count())
    // and the filter prunes partitions rather than scanning them
    val plan = back.filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"partition pruning missing:\n${plan.take(800)}")
  }

  test("footer-stats data skipping reads fewer files on a clustered table") {
    val p10 = "/tmp/graft_test/lake_stats_skip"
    rmdir(p10)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders.repartition(8), p10) // scrambled layout
    LakeTable.optimizeBy(spark, p10, numFiles = 8, "o_orderkey")
    val minKey = orders.agg(min("o_orderkey")).head().getLong(0).toDouble
    val (lo, hi) = (minKey, minKey + 50)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // read scan metrics after the FIRST action only: Dataset actions
      // resetMetrics() before executing, and driver-side numFiles is
      // populated only when the lazy inputRDD is first built — a
      // second collect() on the same DF zeroes it permanently
      def collectAndCount(df: org.apache.spark.sql.DataFrame): (Seq[Long], Long) = {
        val rows = df.collect().map(_.getLong(0)).sorted.toSeq
        val files = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.sum
        (rows, files)
      }
      val (prunedRows, nPruned) = collectAndCount(
        LakeTable.readWhereBetween(spark, p10, "o_orderkey", lo, hi))
      val (fullRows, nFull) = collectAndCount(
        LakeTable.read(spark, p10)
          .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi))
      assert(prunedRows === fullRows) // identical rows, fewer files
      assert(nPruned > 0 && nPruned < nFull,
        s"stats skip must touch fewer files: pruned=$nPruned full=$nFull")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // a range outside all stats reads zero rows without failing
    assert(LakeTable.readWhereBetween(spark, p10, "o_orderkey", -5000, -1000).count() === 0)
    // a non-numeric column is rejected loudly (a double interval would
    // silently cast-to-null every row otherwise)
    val p10b = "/tmp/graft_test/lake_stats_str"
    rmdir(p10b)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), p10b)
    val e = intercept[IllegalArgumentException] {
      LakeTable.readWhereBetween(spark, p10b, "s", 0, 1)
    }
    assert(e.getMessage.contains("numeric"))
  }

  test("files without stats for a column are conservatively kept (schema evolution)") {
    // v0's file predates the `extra` column → no stats for it → the
    // file must be READ (not pruned); its rows surface extra=null and
    // the precise row filter then drops them — exact results, file
    // conservatively touched
    val p12 = "/tmp/graft_test/lake_stats_evolve"
    rmdir(p12)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), p12)
    LakeTable.append(Seq((3L, 30.0, 777L)).toDF("k", "v", "extra"), p12)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // range that EXCLUDES the new file's extra stats [777,777]:
      // only the stats-less old file survives the skip; since that
      // file predates the column, readWhere proves no row can match
      // and Catalyst elides the scan — exact empty result, no error
      assert(LakeTable.readWhere(spark, p12, Seq(("extra", 0, 100))).collect().isEmpty)
      // a range covering 777 keeps BOTH files through the skip (the
      // old one conservatively — no stats), reads them, and the row
      // filter yields exactly the new row
      assert(LakeTable.readWhere(spark, p12, Seq(("extra", 700, 800)))
        .collect().map(_.getLong(0)).toSeq === Seq(3L))
      // conservative keep on a MIXED-stats query: filtering on k keeps
      // the old file via stats and the new file too; both rows < 3
      // come from the stats-less-for-extra old file
      assert(LakeTable.readWhere(spark, p12, Seq(("k", 1, 2)))
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("optimistic concurrency: a racing commit to the same version fails, table intact") {
    val p11 = "/tmp/graft_test/lake_race"
    rmdir(p11)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p11) // v0
    // simulate a concurrent writer that claimed version 1 first
    val v1 = java.nio.file.Paths.get(s"$p11/_graft_meta/v1")
    java.nio.file.Files.createDirectories(v1)
    java.nio.file.Files.writeString(v1.resolve("part-00000.json"), "")
    // our commit computes next = latest+1 = 2 (the claimed v1 counts
    // as latest), so appends still succeed past a racer...
    val v = LakeTable.append(Seq((2L, "b")).toDF("k", "s"), p11)
    assert(v === 2)
    // ...but two writers racing for the SAME version cannot both win:
    // the manifest write is ErrorIfExists, so the loser throws instead
    // of silently overwriting the winner's manifest
    val v3 = java.nio.file.Paths.get(s"$p11/_graft_meta/v3")
    java.nio.file.Files.createDirectories(v3)
    java.nio.file.Files.writeString(v3.resolve("part-00000.json"),
      """{"file":"/nonexistent","base":"/nonexistent","operation":"overwrite"}""")
    intercept[Exception] {
      // racer claimed v3 between our latestVersion() read and write →
      // ErrorIfExists refuses; here we force the collision by writing
      // to the claimed version directly
      Seq(("x", "y", "z", Map.empty[String, Seq[Double]]))
        .toDF("file", "base", "operation", "stats")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .json(v3.toString)
    }
    // the racer's manifest is untouched and the table still reads:
    // v2's parent is the racer's (empty) v1 snapshot, so it holds
    // exactly the appended row — commit lineage follows whatever
    // version actually won, never a stale read
    assert(java.nio.file.Files.exists(v3.resolve("part-00000.json")))
    assert(LakeTable.read(spark, p11, Some(2)).count() === 1)
    assert(LakeTable.read(spark, p11, Some(0)).count() === 1) // v0 untouched
  }

  test("z-order skips files on the second dimension where lexicographic cannot") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    val pStats = orders.agg(min("o_totalprice"), max("o_totalprice")).head()
    val (pLo, pHi) = (pStats.getDouble(0), pStats.getDouble(1))
    // a thin slab of the SECOND clustering column only
    val (lo, hi) = (pLo, pLo + (pHi - pLo) * 0.1)

    def build(dir: String, z: Boolean): Unit = {
      rmdir(dir)
      LakeTable.overwrite(orders.repartition(8), dir)
      if (z) LakeTable.zOrderBy(spark, dir, 8, "o_orderkey", "o_totalprice")
      else LakeTable.optimizeBy(spark, dir, 8, "o_orderkey", "o_totalprice")
    }
    build("/tmp/graft_test/lake_lex", z = false)
    build("/tmp/graft_test/lake_z", z = true)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scan(dir: String): (Seq[Long], Long) = {
        val df = LakeTable.readWhere(spark, dir, Seq(("o_totalprice", lo, hi)))
        val rows = df.collect().map(_.getLong(0)).sorted.toSeq
        val files = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.sum
        (rows, files)
      }
      val (lexRows, lexFiles) = scan("/tmp/graft_test/lake_lex")
      val (zRows, zFiles) = scan("/tmp/graft_test/lake_z")
      assert(zRows === lexRows, "clustering must not change results")
      assert(zRows.nonEmpty)
      // lexicographic by (o_orderkey, o_totalprice): every file spans
      // the full price range → no skip possible; z-order gives price
      // locality per file
      assert(zFiles < lexFiles,
        s"z-order should touch fewer files on dim 2: z=$zFiles lex=$lexFiles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("3-dimensional z-order skips files on the THIRD dimension") {
    // uniform 16x16x16 cube: lexicographic (a,b,c) gives c no file
    // locality at all; 3-dim Morton clustering must prune a thin
    // c-slab to a strict subset of the files
    val rows = for (a <- 0 until 16; b <- 0 until 16; c <- 0 until 16)
      yield (a.toLong, b.toLong, c.toLong)
    import spark.implicits._
    val df = rows.toDF("a", "b", "c")
    def build(dir: String, z: Boolean): Unit = {
      rmdir(dir)
      LakeTable.overwrite(df.repartition(8), dir)
      if (z) LakeTable.zOrderBy(spark, dir, 8, "a", "b", "c")
      else LakeTable.optimizeBy(spark, dir, 8, "a", "b", "c")
    }
    build("/tmp/graft_test/lake_z3_lex", z = false)
    build("/tmp/graft_test/lake_z3_z", z = true)
    def scan(dir: String): (Long, Long) = {
      val pruned = LakeTable.readWhereBetween(spark, dir, "c", 3, 4)
      val n = pruned.count()
      (n, LakeTable.lastPlanAudit.filesKept)
    }
    val (lexRows, lexFiles) = scan("/tmp/graft_test/lake_z3_lex")
    val (zRows, zFiles) = scan("/tmp/graft_test/lake_z3_z")
    assert(zRows === lexRows && zRows === 2 * 16 * 16,
      "clustering must not change results")
    assert(zFiles < lexFiles,
      s"3-dim z-order should touch fewer files on dim 3: z=$zFiles lex=$lexFiles")
  }

  test("partition-pruned read scans only the matching partition's files") {
    val p9 = "/tmp/graft_test/lake_prune_files"
    rmdir(p9)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    LakeTable.overwritePartitioned(orders.repartition(4), p9, "o_orderstatus")
    // AQE off so the executed plan exposes FileSourceScanExec directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.sum
      }
      val all = filesScanned(LakeTable.read(spark, p9))
      val pruned = filesScanned(
        LakeTable.read(spark, p9).filter(col("o_orderstatus") === "F"))
      assert(pruned > 0 && pruned < all,
        s"partition predicate must skip files: pruned=$pruned all=$all")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("filter pushdown reaches the scan through the manifest read path") {
    val df = LakeTable.read(spark, path).filter(col("o_totalprice") > 1000.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"pushdown missing:\n${plan.take(800)}")
  }

  test("merge-on-read delete: no data rewrite, stacking deletes, compact folds") {
    val p = "/tmp/graft_test/lake_mor"
    rmdir(p)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    LakeTable.overwrite(orders, p)
    val v0Data = LakeTable.read(spark, p).inputFiles.toSet

    LakeTable.deleteMoR(spark, p, "o_orderkey", col("o_orderkey") % 3 === 0)
    // v1 reuses v0's data files UNREWRITTEN and only adds key files
    val v1 = LakeTable.read(spark, p)
    assert(v0Data.subsetOf(v1.inputFiles.toSet), "MoR must not rewrite data files")
    val expected1 = orders.filter(col("o_orderkey") % 3 =!= 0).count()
    assert(v1.count() === expected1)
    // time travel: v0 still sees every row
    assert(LakeTable.read(spark, p, Some(0)).count() === orders.count())

    // second MoR delete stacks on the first
    LakeTable.deleteMoR(spark, p, "o_orderkey", col("o_orderkey") % 5 === 0)
    val expected2 = orders
      .filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 5 =!= 0).count()
    assert(LakeTable.read(spark, p).count() === expected2)

    // deletes survive readWhere's file-skipping path too
    val pruned = LakeTable.readWhereBetween(
      spark, p, "o_orderkey", 0, Double.MaxValue).count()
    assert(pruned === expected2, "readWhere must apply MoR deletes")

    // compact folds the deletes into a clean data-only snapshot
    LakeTable.compact(spark, p)
    assert(LakeTable.read(spark, p).count() === expected2)
    assert(!LakeTable.read(spark, p).inputFiles.toSet.exists(v0Data.contains),
      "compact rewrites data files")
    // NULL-predicate rows are kept (SQL DELETE semantics)
    LakeTable.deleteMoR(spark, p, "o_orderkey",
      when(col("o_orderkey") % 2 === 0, lit(null).cast("boolean")).otherwise(lit(false)))
    assert(LakeTable.read(spark, p).count() === expected2,
      "NULL/false predicate must delete nothing")
    // history reports the COMMIT op for MoR versions, deterministically
    val hist = LakeTable.history(spark, p).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(hist(0) === "overwrite" && hist(1) === "mor_delete" &&
      hist(2) === "mor_delete" && hist(3) === "compact", s"history: $hist")
  }

  test("MoR delete removes NULL-keyed rows exactly like CoW delete") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val p = "/tmp/graft_test/lake_mor_null"
    rmdir(p)
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("v", StringType)))
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "keep"), Row(2L, "drop"), Row(null, "drop-null")),
      schema)
    LakeTable.overwrite(rows, p)
    // predicate selects the NULL-keyed row AND key 2
    LakeTable.deleteMoR(spark, p, "k", col("v").startsWith("drop"))
    val got = LakeTable.read(spark, p).collect().map(_.getAs[String]("v")).toSet
    assert(got === Set("keep"),
      s"NULL-keyed row must be deleted (null-safe key match): $got")
  }

  test("position deletes: row-granular where equality deletes are key-granular") {
    val p = "/tmp/graft_test/lake_posdel"
    rmdir(p)
    import spark.implicits._
    // DUPLICATE keys — the case equality deletes cannot express:
    // deleting only (1,"a") must leave (1,"b") alive
    LakeTable.overwrite(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "s").coalesce(1), p) // v0
    val v0Files = LakeTable.read(spark, p).inputFiles.toSet
    LakeTable.deleteMoRPositional(spark, p, col("s") === "a") // v1
    val got1 = LakeTable.read(spark, p)
    assert(got1.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._2).toSeq
      === Seq((1L, "b"), (2L, "c")),
      "only the matching ROW of the duplicate key may be deleted")
    assert(v0Files.subsetOf(got1.inputFiles.toSet), "position delete must not rewrite")
    assert(LakeTable.read(spark, p, Some(0)).count() === 3, "time travel intact")
    // stacking: a second positional delete, evaluated on the VISIBLE
    // state (the first delete already applied)
    LakeTable.deleteMoRPositional(spark, p, col("s") === "b") // v2
    assert(LakeTable.read(spark, p).collect().map(_.getString(1)).toSeq === Seq("c"))
    // equality + position deletes compose on one table
    LakeTable.append(Seq((3L, "d"), (3L, "e")).toDF("k", "s").coalesce(1), p) // v3
    LakeTable.deleteMoR(spark, p, "k", col("k") === 2L) // v4: key-granular
    val mixed = LakeTable.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2).toSeq
    assert(mixed === Seq((3L, "d"), (3L, "e")), s"mixed delete kinds: $mixed")
    // pruned reads apply position deletes too
    assert(LakeTable.readWhereBetween(spark, p, "k", 0, 10).count() === 2)
    // NULL-predicate rows are kept (SQL DELETE semantics)
    LakeTable.deleteMoRPositional(spark, p,
      when(col("k") === 3L, lit(null).cast("boolean")).otherwise(lit(false)))
    assert(LakeTable.read(spark, p).count() === 2)
    // compact folds every delete representation into clean data
    LakeTable.compact(spark, p)
    assert(LakeTable.read(spark, p).count() === 2)
    assert(LakeTable.entriesOf(p, LakeTable.history(spark, p)
      .agg(org.apache.spark.sql.functions.max("version")).head().getInt(0))
      .forall(_.kind == "data"), "compact must fold position deletes away")
  }

  test("deletion vectors: bitmap posdels, same semantics, O(files) metadata") {
    val p = "/tmp/graft_test/lake_dv"
    rmdir(p)
    import spark.implicits._
    // duplicate keys again — DVs must stay row-granular like posdels
    LakeTable.overwrite(
      Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "s").coalesce(1), p) // v0
    val v0Files = LakeTable.read(spark, p).inputFiles.toSet
    LakeTable.deleteMoRVector(spark, p, col("s") === "a") // v1
    val got1 = LakeTable.read(spark, p)
    assert(got1.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._2).toSeq
      === Seq((1L, "b"), (2L, "c"), (3L, "d")),
      "only the matching ROW of the duplicate key may be deleted")
    assert(v0Files.subsetOf(got1.inputFiles.toSet), "DV delete must not rewrite data")
    assert(LakeTable.read(spark, p, Some(0)).count() === 4, "time travel intact")
    // the DV manifest carries ONE row per touched file, not per
    // deleted row: delete two more rows of the same file and check
    // the new vector's manifest claims a single metadata row
    LakeTable.deleteMoRVector(spark, p, col("s").isin("b", "c")) // v2: stacked vector
    assert(LakeTable.read(spark, p).collect().map(_.getString(1)).toSeq === Seq("d"))
    val dvRefs = LakeTable.listRefs(p, 2).filter(_.kind == "dv")
    assert(dvRefs.size === 2, "each DV commit adds one vector manifest")
    assert(dvRefs.forall(_.nFiles === 1),
      s"a DV manifest holds one bitmap row per touched data file: $dvRefs")
    // DV + equality deletes compose; pruned reads apply DVs too
    LakeTable.append(Seq((5L, "e"), (6L, "f")).toDF("k", "s").coalesce(1), p) // v3
    LakeTable.deleteMoR(spark, p, "k", col("k") === 6L) // v4
    assert(LakeTable.read(spark, p).collect().map(_.getString(1)).sorted.toSeq
      === Seq("d", "e"))
    assert(LakeTable.readWhereBetween(spark, p, "k", 0, 10).count() === 2,
      "pruned reads must apply deletion vectors")
    // NULL-predicate rows are kept (SQL DELETE semantics)
    LakeTable.deleteMoRVector(spark, p,
      when(col("k") === 3L, lit(null).cast("boolean")).otherwise(lit(false)))
    assert(LakeTable.read(spark, p).count() === 2)
    // equivalence: the same deletes via posdel pairs give the same table
    val q = "/tmp/graft_test/lake_dv_eq"
    rmdir(q)
    LakeTable.overwrite(
      Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "s").coalesce(1), q)
    LakeTable.deleteMoRPositional(spark, q, col("s") === "a")
    LakeTable.deleteMoRPositional(spark, q, col("s").isin("b", "c"))
    assert(LakeTable.read(spark, q).collect().map(_.getString(1)).toSeq
      === Seq("d"), "DV and posdel must express identical deletions")
    // compact folds vectors into clean data
    LakeTable.compact(spark, p)
    val head = LakeTable.history(spark, p)
      .agg(org.apache.spark.sql.functions.max("version")).head().getInt(0)
    assert(LakeTable.entriesOf(p, head).forall(_.kind == "data"),
      "compact must fold deletion vectors away")
    assert(LakeTable.read(spark, p).count() === 2)
  }

  test("columnar metadata: parquet lists/manifests plan identically to JSON") {
    import spark.implicits._
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    val pJ = "/tmp/graft_test/meta_json"
    val pP = "/tmp/graft_test/meta_pq"
    rmdir(pJ); rmdir(pP)
    LakeTable.overwrite(df, pJ) // JSON metadata (default threshold)
    LakeTable.withColumnarMetaThreshold(0) {
      LakeTable.overwrite(df, pP) // parquet list AND parquet manifest
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$pP/_graft_meta/v0/list.parquet")),
      "threshold 0 must produce a columnar list")
    // identical entries through both decoders
    val eJ = LakeTable.entriesOf(pJ, 0).map(e => (e.stats, e.bytes >= 0)).toSet
    val eP = LakeTable.entriesOf(pP, 0).map(e => (e.stats, e.bytes >= 0)).toSet
    assert(eJ === eP, "entry stats must round-trip both encodings")
    // identical prune plans, driver path
    assert(LakeTable.readWhereBetween(spark, pJ, "k", 0, 50).count() === 51)
    val aJ = LakeTable.lastPlanAudit
    assert(LakeTable.readWhereBetween(spark, pP, "k", 0, 50).count() === 51)
    assert(LakeTable.lastPlanAudit === aJ,
      s"parquet metadata must plan like JSON: $aJ vs ${LakeTable.lastPlanAudit}")
    assert(aJ.filesKept === 1, s"$aJ")
    // ENCODINGS MIX within one table: a later JSON commit on top of
    // the parquet v0 — every reader (history, time travel, reads)
    // spans both
    LakeTable.append(Seq((1000L, 1.0)).toDF("k", "v"), pP) // v1, JSON list
    assert(LakeTable.read(spark, pP).count() === 401)
    assert(LakeTable.read(spark, pP, Some(0)).count() === 400)
    assert(LakeTable.history(spark, pP).count() === 2)
    val ops = LakeTable.history(spark, pP).orderBy("version")
      .collect().map(_.getAs[String]("operation")).toSeq
    assert(ops === Seq("overwrite", "append"), ops.toString)
  }

  test("columnar metadata: a parquet manifest decodes every entry field as JSON does") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    def build(p: String): Seq[LakeTable.ManifestEntry] = {
      rmdir(p)
      LakeTable.overwrite(df, p)
      LakeTable.enableRowLineage(spark, p)
      LakeTable.append(Seq((1000L, 1.0)).toDF("k", "v"), p)
      LakeTable.withBloom(spark, p, "k")
      // one consolidated manifest over both commits: per-entry seq pins
      LakeTable.rewriteManifests(spark, p, targetFiles = 100)
      LakeTable.entriesOf(p, LakeTable.latestVersion(p).get)
    }
    def fields(es: Seq[LakeTable.ManifestEntry]) =
      es.map(e => (e.stats, e.bytes, e.rows, e.frid, e.seq, e.kind, e.bloom)).toSet
    val eJ = build("/tmp/graft_test/meta_fields_json")
    val eP = LakeTable.withColumnarMetaThreshold(0)(build("/tmp/graft_test/meta_fields_pq"))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(
      "/tmp/graft_test/meta_fields_pq/_graft_meta/manifests")).iterator().asScala
      .exists(_.toString.endsWith(".parquet")), "threshold 0 must write parquet manifests")
    assert(eJ.map(_.seq).distinct.size === 2 && eJ.forall(_.bloom.nonEmpty) &&
      eJ.forall(e => e.rows > 0 && e.frid >= 0 && e.stats.nonEmpty), eJ.toString)
    assert(fields(eP) === fields(eJ))
  }

  test("declared sort order keeps append skipping as tight as OPTIMIZE") {
    import spark.implicits._
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartition(4) // round-robin: every partition spans the full range
    // BASELINE: unsorted write keeps nothing skippable, OPTIMIZE fixes it
    val pA = "/tmp/graft_test/lake_sort_a"
    rmdir(pA)
    LakeTable.overwrite(df, pA)
    assert(LakeTable.readWhereBetween(spark, pA, "k", 0, 50).count() === 51)
    val loose = LakeTable.lastPlanAudit
    assert(loose.filesKept === loose.filesClaimed,
      s"round-robin files must be unprunable: $loose")
    LakeTable.optimizeBy(spark, pA, 4, "k")
    assert(LakeTable.readWhereBetween(spark, pA, "k", 0, 50).count() === 51)
    val optimized = LakeTable.lastPlanAudit
    assert(optimized.filesKept === 1, s"$optimized")
    // DECLARED ORDER: the same write lands pre-clustered — skip counts
    // match the post-OPTIMIZE table with no OPTIMIZE run
    val pB = "/tmp/graft_test/lake_sort_b"
    rmdir(pB)
    LakeTable.setSortOrder(pB, "k")
    LakeTable.overwrite(df, pB)
    assert(LakeTable.readWhereBetween(spark, pB, "k", 0, 50).count() === 51)
    assert(LakeTable.lastPlanAudit.filesKept === optimized.filesKept,
      s"declared-order append must skip like OPTIMIZE: ${LakeTable.lastPlanAudit}")
    // appends keep the policy: clustering does NOT decay between runs
    LakeTable.append(df, pB)
    assert(LakeTable.readWhereBetween(spark, pB, "k", 0, 50).count() === 102)
    val after = LakeTable.lastPlanAudit
    assert(after.filesClaimed === 8 && after.filesKept === 2,
      s"one file per generation may match the narrow range: $after")
    // evolving / clearing the order is metadata-only: no commit, no
    // data rewrite — existing files and the version counter untouched
    val filesBefore = LakeTable.read(spark, pB).inputFiles.toSet
    val vBefore = LakeTable.latestVersion(pB)
    LakeTable.setSortOrder(pB, "v")
    assert(LakeTable.sortOrderOf(pB) === Seq("v"))
    assert(LakeTable.latestVersion(pB) === vBefore)
    assert(LakeTable.read(spark, pB).inputFiles.toSet === filesBefore)
    LakeTable.clearSortOrder(pB)
    assert(LakeTable.sortOrderOf(pB) === Nil)
    // a batch missing the sort column passes through (conservative)
    LakeTable.setSortOrder(pB, "missing_col")
    LakeTable.append(df, pB) // must not throw
    assert(LakeTable.read(spark, pB).count() === 1200)
  }

  test("MoR upsert: sequence rule lets patch rows survive their own delete keys") {
    val p = "/tmp/graft_test/lake_mor_up"
    rmdir(p)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders, p)
    val v0Files = LakeTable.read(spark, p).inputFiles.toSet

    val patch = orders.filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("o_totalprice"))
    LakeTable.upsertMoR(patch, p, "o_orderkey")

    val after = LakeTable.read(spark, p)
    // no table rewrite: v0's data files still serve the unpatched rows
    assert(v0Files.subsetOf(after.inputFiles.toSet), "MoR upsert must not rewrite")
    assert(after.count() === orders.count(), "row count preserved")
    // patched rows carry the new value; unpatched the old
    val patchedSum = after.filter(col("o_orderkey") % 4 === 0)
      .agg(sum("o_totalprice")).first().getDouble(0)
    val wantSum = patch.agg(sum("o_totalprice")).first().getDouble(0)
    assert(math.abs(patchedSum - wantSum) < 1e-6, "patch rows must win")
    // a LATER MoR delete still removes a patched row (seq 2 > seq 1)
    LakeTable.deleteMoR(spark, p, "o_orderkey", col("o_orderkey") % 4 === 0)
    assert(LakeTable.read(spark, p).count() ===
      orders.filter(col("o_orderkey") % 4 =!= 0).count(),
      "newer delete must override older upsert rows")
  }

  test("conditional MoR merge: clause-ordered update/delete/insert, no rewrite, seq rule") {
    val p = "/tmp/graft_test/lake_merge_cond"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq(
      (1L, "a", 10.0), (2L, "b", 600.0), (3L, "c", 20.0), (4L, "d", 30.0))
      .toDF("k", "tag", "v"), p) // v0
    val v0Files = LakeTable.read(spark, p).inputFiles.toSet
    val src = Seq(
      (1L, "patched", 100.0), // matched, v=10<500 → UPDATE
      (2L, "x", 0.0),         // matched, v=600≥500 → DELETE (clause 2)
      (5L, "new", 200.0),     // unmatched, 200>100 → INSERT
      (6L, "low", 50.0))      // unmatched, 50≤100 → not inserted
      .toDF("k", "tag", "v")
    LakeTable.mergeConditionalMoR(src, p, "k",
      matched = Seq(
        LakeTable.MatchedUpdate(Some(col("t.v") < 500.0),
          Map("tag" -> col("s.tag"), "v" -> col("s.v"))),
        LakeTable.MatchedDelete(None)),
      notMatchedInsert = Some(col("v") > 100.0))
    val after = LakeTable.read(spark, p)
    val got = after.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "patched", 100.0), (3L, "c", 20.0), (4L, "d", 30.0), (5L, "new", 200.0)),
      s"clause algebra mismatch: $got")
    // merge-on-read: v0's data files are re-referenced, not rewritten
    assert(v0Files.subsetOf(after.inputFiles.toSet),
      "MoR merge must not rewrite data files")
    // time travel to the pre-merge snapshot is intact
    assert(LakeTable.read(spark, p, Some(0)).count() === 4)
    // a LATER MoR delete removes the patched row — its replacement
    // carries the merge commit's sequence, strictly older than the
    // new delete's (matched-delete × sequence-number interplay)
    LakeTable.deleteMoR(spark, p, "k", col("k") === 1L)
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(3L, 4L, 5L))
    // a duplicate-keyed source is rejected loudly (SQL MERGE rule)
    val dup = Seq((3L, "p", 1.0), (3L, "q", 2.0)).toDF("k", "tag", "v")
    intercept[IllegalArgumentException] {
      LakeTable.mergeConditionalMoR(dup, p, "k",
        Seq(LakeTable.MatchedDelete(None)), None)
    }
  }

  test("WHEN NOT MATCHED BY SOURCE clauses update/delete unreferenced target rows") {
    val p = "/tmp/graft_test/lake_merge_nms"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq(
      (1L, "a", 10.0), (2L, "stale", 20.0), (3L, "old", 900.0)).toDF("k", "tag", "v"), p)
    val src = Seq((1L, "u", 11.0)).toDF("k", "tag", "v")
    // k=1 matched → update; k=2 unmatched-by-source & v<500 → mark
    // stale; k=3 unmatched-by-source (v≥500) → delete
    LakeTable.mergeConditional(src, p, "k",
      matched = Seq(LakeTable.MatchedUpdate(None,
        Map("tag" -> col("s.tag"), "v" -> col("s.v")))),
      notMatchedInsert = None,
      notMatchedBySource = Seq(
        LakeTable.MatchedUpdate(Some(col("t.v") < 500.0),
          Map("tag" -> lit("orphaned"))),
        LakeTable.MatchedDelete(None)))
    val got = LakeTable.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "u", 11.0), (2L, "orphaned", 20.0)),
      s"not-matched-by-source algebra mismatch: $got")
    // MoR form agrees
    val p2 = "/tmp/graft_test/lake_merge_nms_mor"
    rmdir(p2)
    LakeTable.overwrite(Seq(
      (1L, "a", 10.0), (2L, "stale", 20.0), (3L, "old", 900.0)).toDF("k", "tag", "v"), p2)
    LakeTable.mergeConditionalMoR(src, p2, "k",
      matched = Seq(LakeTable.MatchedUpdate(None,
        Map("tag" -> col("s.tag"), "v" -> col("s.v")))),
      notMatchedInsert = None,
      notMatchedBySource = Seq(
        LakeTable.MatchedUpdate(Some(col("t.v") < 500.0),
          Map("tag" -> lit("orphaned"))),
        LakeTable.MatchedDelete(None)))
    val got2 = LakeTable.read(spark, p2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got2 === got, s"MoR not-matched-by-source must agree with CoW: $got2")
  }

  test("rollback re-references an old snapshot without deleting history") {
    val p = "/tmp/graft_test/lake_rollback"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "good")).toDF("k", "s"), p) // v0
    LakeTable.overwrite(Seq((2L, "bad"), (3L, "bad")).toDF("k", "s"), p) // v1
    val v2 = LakeTable.rollback(spark, p, 0)
    assert(v2 === 2)
    // readers see v0's content again, as a NEW forward commit
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // nothing deleted: the bad version stays time-travelable
    assert(LakeTable.read(spark, p, Some(1)).count() === 2)
    assert(LakeTable.history(spark, p).collect().map(r =>
      r.getInt(0) -> r.getString(1)).toSeq
      === Seq(0 -> "overwrite", 1 -> "overwrite", 2 -> "rollback"))
    // rollback is metadata-only: v2 references exactly v0's files
    assert(LakeTable.read(spark, p, Some(2)).inputFiles.toSet
      === LakeTable.read(spark, p, Some(0)).inputFiles.toSet)
  }

  test("manifests() and files() metadata tables describe the snapshot") {
    val p = "/tmp/graft_test/lake_meta_tables"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 1.0)).toDF("k", "v").coalesce(1), p) // v0
    LakeTable.append(Seq((2L, 2.0)).toDF("k", "v").coalesce(1), p) // v1
    LakeTable.deleteMoR(spark, p, "k", col("k") === 1L) // v2: + delete manifest
    val ms = LakeTable.manifests(spark, p).collect()
    assert(ms.length === 3)
    assert(ms.count(_.getAs[String]("kind") == "delete") === 1)
    assert(ms.map(_.getAs[Long]("n_files")).sum === 3)
    val fs = LakeTable.files(spark, p).collect()
    assert(fs.length === 3, s"one row per file: ${fs.toSeq}")
    assert(fs.forall(_.getAs[String]("file").endsWith(".parquet")))
    // version pinning works
    assert(LakeTable.manifests(spark, p, Some(0)).count() === 1)
    assert(LakeTable.files(spark, p, Some(0)).count() === 1)
  }

  test("branches: isolated writes, fast-forward with divergence refusal, drop") {
    val p = "/tmp/graft_test/lake_branch"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), p) // main v0
    LakeTable.createBranch(spark, p, "audit")
    val bp = LakeTable.branchPath(p, "audit")
    // branch v0 re-references the fork: zero data copied, same rows
    assert(LakeTable.read(spark, bp).count() === 2)
    // writes to the branch are INVISIBLE on main (and vice versa)
    LakeTable.append(Seq((3L, "staged")).toDF("k", "s"), bp)
    assert(LakeTable.read(spark, bp).count() === 3)
    assert(LakeTable.read(spark, p).count() === 2)
    // fast-forward adopts the branch head on main
    val v1 = LakeTable.fastForward(spark, p, "audit")
    assert(v1 === 1)
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    // the audit cycle REPEATS: branch keeps writing, ff again
    LakeTable.append(Seq((4L, "staged2")).toDF("k", "s"), bp)
    LakeTable.fastForward(spark, p, "audit")
    assert(LakeTable.read(spark, p).count() === 4)
    // divergence: main moves on its own → ff refuses loudly
    LakeTable.append(Seq((9L, "main-only")).toDF("k", "s"), p)
    LakeTable.append(Seq((5L, "staged3")).toDF("k", "s"), bp)
    val e = intercept[IllegalArgumentException](LakeTable.fastForward(spark, p, "audit"))
    assert(e.getMessage.contains("diverged"))
    assert(LakeTable.read(spark, p).count() === 5, "refused ff must not commit")
    // drop removes the ref; branching a branch is refused
    intercept[IllegalArgumentException](LakeTable.createBranch(spark, bp, "nested"))
    assert(LakeTable.branches(p) === Seq("audit"))
    // main still references the fast-forwarded (branch-staged)
    // manifests — dropping now would destroy main's snapshot, refuse
    val e2 = intercept[IllegalArgumentException](LakeTable.dropBranch(p, "audit"))
    assert(e2.getMessage.contains("fast-forwarded"), e2.getMessage)
    // compacting main rewrites its content into main's own dirs and
    // expire releases the adopted references — then the drop is safe
    LakeTable.compact(spark, p)
    LakeTable.expireSnapshots(spark, p, retain = 1)
    LakeTable.dropBranch(p, "audit")
    assert(LakeTable.branches(p) === Nil)
    assert(LakeTable.read(spark, p).count() === 5, "main intact after drop")
  }

  test("write.distribution-mode: hash/range cluster one file per dir, none skips the shuffle") {
    val p = "/tmp/graft_test/lake_distmode"
    rmdir(p)
    import spark.implicits._
    val batch = (1L to 400L).map(i => (i, i % 4L, s"s$i"))
      .toDF("k", "part", "s").repartition(8) // 8 input tasks × 4 dirs
    LakeTable.setPartitionSpec(p,
      Seq(LakeTable.PartitionTransform("part", "identity")))
    def freshFiles(v: Int): Seq[String] = {
      val prev = if (v == 0) Set.empty[String]
        else LakeTable.listRefs(p, v - 1).map(_.manifest).toSet
      LakeTable.listRefs(p, v).filterNot(r => prev(r.manifest))
        .flatMap(LakeTable.readManifest).map(_.file)
    }
    def dirsOf(files: Seq[String]): Map[String, Int] =
      files.groupBy(_.split('/').init.mkString("/")).map { case (d, fs) => d -> fs.size }
    // default hash: ONE file per partition dir however many input tasks
    val v0 = LakeTable.overwrite(batch, p)
    assert(dirsOf(freshFiles(v0)).values.toSeq === Seq.fill(4)(1),
      s"hash mode must land one file per dir: ${dirsOf(freshFiles(v0))}")
    // none: the shuffle is skipped — tasks × dirs files land
    LakeTable.setTableProperties(spark, p, Map("write.distribution-mode" -> "none"))
    val v1 = LakeTable.append(batch, p)
    assert(dirsOf(freshFiles(v1)).values.exists(_ > 1),
      s"none mode must let tasks write per-dir files: ${dirsOf(freshFiles(v1))}")
    // range: one file per dir again (equal keys share a range partition)
    LakeTable.setTableProperties(spark, p, Map("write.distribution-mode" -> "range"))
    val v2 = LakeTable.append(batch, p)
    assert(dirsOf(freshFiles(v2)).values.toSeq === Seq.fill(4)(1),
      s"range mode must land one file per dir: ${dirsOf(freshFiles(v2))}")
    // rows identical across all three modes
    assert(LakeTable.read(spark, p).count() === 1200L)
    // an invalid value refuses at the ALTER, not at the next write
    val e = intercept[IllegalArgumentException](LakeTable.setTableProperties(
      spark, p, Map("write.distribution-mode" -> "zigzag")))
    assert(e.getMessage.contains("zigzag"), e.getMessage)
  }

  test("cherry-pick: a branch append lands on a DIVERGED main, metadata-only") {
    val p = "/tmp/graft_test/lake_cherrypick"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), p) // main v0
    LakeTable.enableRowLineage(spark, p)                             // main v1
    LakeTable.createBranch(spark, p, "wap")
    val bp = LakeTable.branchPath(p, "wap")
    LakeTable.append(Seq((10L, "staged")).toDF("k", "s"), bp) // branch v1
    LakeTable.append(Seq((20L, "mainside")).toDF("k", "s"), p) // main v2: DIVERGED
    // the case fast-forward refuses is exactly the case cherry-pick serves
    assert(intercept[IllegalArgumentException](
      LakeTable.fastForward(spark, p, "wap")).getMessage.contains("diverged"))
    val bFresh = LakeTable.listRefs(bp, LakeTable.latestVersion(bp).get)
      .filter(r => r.kind == "data" && r.nFiles > 0).map(_.manifest).toSet
    val v = LakeTable.cherryPick(spark, p, "wap")
    assert(LakeTable.operationOf(p, v) === "cherrypick")
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 10L, 20L), "picked rows join main's divergent content")
    // metadata-only: the branch's fresh manifests are adopted verbatim
    assert((bFresh -- LakeTable.listRefs(p, v).map(_.manifest).toSet).isEmpty)
    // branch itself is untouched (no mainside row)
    assert(LakeTable.read(spark, bp).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 10L))
    // row ids re-spanned under MAIN's counter: no collisions even
    // though both lineages allocated from the shared fork counter
    val lin = LakeTable.readWithLineage(spark, p)
      .select("_row_id").collect().map(_.getLong(0)).toSeq
    assert(lin.distinct.size === lin.size, s"row-id collision: $lin")
    // an incremental consumer reads straight through the pick
    assert(LakeTable.appendsBetween(spark, p, 1, v)
      .collect().map(_.getAs[Long]("k")).sorted.toSeq === Seq(10L, 20L))
    // double-pick refuses by name (rows would double)
    assert(intercept[IllegalArgumentException](
      LakeTable.cherryPick(spark, p, "wap")).getMessage
      .contains("already referenced"))
    // non-append branch commits refuse by name
    LakeTable.delete(spark, bp, col("k") === 10L)
    val e = intercept[IllegalArgumentException](
      LakeTable.cherryPick(spark, p, "wap"))
    assert(e.getMessage.contains("not a pure append"), e.getMessage)
    // unknown branch refuses
    assert(intercept[IllegalArgumentException](
      LakeTable.cherryPick(spark, p, "nope")).getMessage.contains("nope"))
  }

  test("cherry-pick re-validates main's CHECK constraints on the picked rows") {
    val p = "/tmp/graft_test/lake_cherrypick_cons"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p) // v0
    LakeTable.createBranch(spark, p, "wap")
    val bp = LakeTable.branchPath(p, "wap")
    LakeTable.append(Seq((-5L, "neg")).toDF("k", "s"), bp) // legal on the branch
    // main gains a constraint the branch never enforced
    LakeTable.addConstraint(spark, p, "k_pos", "k > 0")
    val e = intercept[Exception](LakeTable.cherryPick(spark, p, "wap"))
    assert(e.getMessage.contains("k_pos"), e.getMessage)
    assert(LakeTable.read(spark, p).count() === 1,
      "a refused pick must not commit")
  }

  test("branch MoR keeps one monotone sequence across roots") {
    // The failure shape this guards: branch versions restart at 0, so
    // "seq = version" would hand a branch delete a sequence BELOW the
    // carried fork-point data (delete never applies) and leave carried
    // delete manifests with seqs ABOVE post-fast-forward appends
    // (delete wrongly applies). Both directions are exercised.
    val p = "/tmp/graft_test/lake_branch_mor"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), p) // v0, seq 1
    LakeTable.append(Seq((3L, "c")).toDF("k", "s"), p)               // v1, seq 2
    LakeTable.append(Seq((4L, "d")).toDF("k", "s"), p)               // v2, seq 3
    LakeTable.createBranch(spark, p, "mor") // branch v0 carries seqs 1..3
    val bp = LakeTable.branchPath(p, "mor")
    // equality delete on the branch must subtract from CARRIED data
    LakeTable.deleteMoR(spark, bp, "k", col("k") === 2L)
    assert(LakeTable.read(spark, bp).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 3L, 4L), "branch MoR delete must apply to fork-point data")
    // MoR upsert on the branch: carried k=3 replaced, not duplicated
    LakeTable.upsertMoR(Seq((3L, "upd")).toDF("k", "s"), bp, "k")
    val afterUpsert = LakeTable.read(spark, bp).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(afterUpsert === Seq((1L, "a"), (3L, "upd"), (4L, "d")),
      "branch MoR upsert must replace carried rows, not duplicate them")
    // main adopts the branch head (carried delete manifests ride along)
    LakeTable.fastForward(spark, p, "mor")
    assert(LakeTable.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq === afterUpsert)
    // a FRESH append on main re-using a deleted key must NOT be
    // subtracted by the carried (higher-seq-than-version) delete file
    LakeTable.append(Seq((3L, "new")).toDF("k", "s"), p)
    val finalRows = LakeTable.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(r => (r._1, r._2)).toSeq
    assert(finalRows === Seq((1L, "a"), (3L, "new"), (3L, "upd"), (4L, "d")),
      "carried equality deletes must never apply to newer appends")
    // compact folds the MoR state clean and the result is unchanged
    LakeTable.compact(spark, p)
    assert(LakeTable.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(r => (r._1, r._2)).toSeq
      === finalRows)
  }

  test("expire and orphan GC never reclaim branch-referenced files") {
    val p = "/tmp/graft_test/lake_branch_gc"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "v0")).toDF("k", "s"), p) // main v0
    LakeTable.createBranch(spark, p, "pinned") // forks at v0
    LakeTable.overwrite(Seq((2L, "v1")).toDF("k", "s"), p) // main v1
    LakeTable.overwrite(Seq((3L, "v2")).toDF("k", "s"), p) // main v2
    // expire drops main's v0/v1 lists — but v0's FILES are still
    // referenced by the branch and must survive
    LakeTable.expireSnapshots(spark, p, retain = 1)
    assert(LakeTable.read(spark, LakeTable.branchPath(p, "pinned"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L),
      "branch must still read its fork-point data after main expire")
    // orphan GC on main sees branch references as live
    LakeTable.removeOrphans(spark, p, graceMillis = 0)
    assert(LakeTable.read(spark, LakeTable.branchPath(p, "pinned")).count() === 1)
    // dropping the branch releases the files to the next GC pass
    LakeTable.dropBranch(p, "pinned")
    val removed = LakeTable.removeOrphans(spark, p, graceMillis = 0)
    assert(removed.nonEmpty, "dropped branch's unshared files become orphans")
    assert(LakeTable.read(spark, p).count() === 1) // main intact
  }

  test("expire with a shared base is file-granular: bloom/binpack re-manifests survive") {
    // since binpack/bloom, TWO manifests can reference one commit dir;
    // expire used to delete the whole dir with the dropped manifest
    val p = "/tmp/graft_test/lake_expire_shared"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "tag").coalesce(1), p) // v0
    LakeTable.withBloom(spark, p, "tag") // v1: NEW manifest, SAME base dir
    val dropped = LakeTable.expireSnapshots(spark, p, retain = 1)
    assert(dropped.isEmpty,
      s"every file is still referenced by the bloomed manifest: $dropped")
    assert(LakeTable.read(spark, p).count() === 2, "table must survive the expire")
    assert(LakeTable.readWhereEquals(spark, p, "tag", "a").count() === 1)
    // binpack variant: the kept big file shares its base with dropped
    // full manifests; only the folded small files may be GC'd
    val p2 = "/tmp/graft_test/lake_expire_shared2"
    rmdir(p2)
    LakeTable.overwrite(
      spark.range(0, 5000).select(col("id").as("k"), (col("id") * 1.0).as("v"))
        .coalesce(1), p2) // v0: one big file
    LakeTable.append(Seq((90001L, 1.0)).toDF("k", "v").coalesce(1), p2) // v1: tiny
    LakeTable.append(Seq((90002L, 2.0)).toDF("k", "v").coalesce(1), p2) // v2: tiny
    val sizes = LakeTable.entriesOf(p2, 2).map(e =>
      java.nio.file.Files.size(java.nio.file.Paths.get(e.file)))
    LakeTable.compactSmall(spark, p2, (sizes.min + sizes.max) / 2) // v3
    val dropped2 = LakeTable.expireSnapshots(spark, p2, retain = 1)
    assert(LakeTable.read(spark, p2).count() === 5002,
      "binpacked table must survive expiring its pre-fold versions")
    assert(dropped2.nonEmpty && dropped2.forall(f =>
      !LakeTable.read(spark, p2).inputFiles.exists(_.endsWith(f.split('/').last))),
      s"only unreferenced (folded) files may be GC'd: $dropped2")
  }

  test("CHECK constraints gate writes: violating batches never land, drop lifts the gate") {
    val p = "/tmp/graft_test/lake_constraints"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), p) // v0
    // adding a constraint the EXISTING data violates must fail loudly
    val e0 = intercept[IllegalArgumentException] {
      LakeTable.addConstraint(spark, p, "v_big", "v >= 15")
    }
    assert(e0.getMessage.contains("v_big"))
    LakeTable.addConstraint(spark, p, "v_nonneg", "v >= 0") // v1
    // a violating append is rejected BEFORE anything lands
    val e1 = intercept[IllegalArgumentException] {
      LakeTable.append(Seq((3L, -1.0)).toDF("k", "v"), p)
    }
    assert(e1.getMessage.contains("v_nonneg"), e1.getMessage)
    assert(LakeTable.read(spark, p).count() === 2, "rejected batch must not land")
    assert(LakeTable.orphanFiles(spark, p).isEmpty,
      "rejected batch must leave no staged files")
    // NULL check results violate (the constraint must be provably true)
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.append(Seq((4L, Option.empty[Double])).toDF("k", "v"), p)
    }
    assert(e2.getMessage.contains("v_nonneg"))
    // valid batches pass; upserts and merges are gated too
    LakeTable.append(Seq((5L, 5.0)).toDF("k", "v"), p) // v2
    val e3 = intercept[IllegalArgumentException] {
      LakeTable.upsert(Seq((5L, -9.0)).toDF("k", "v"), p, "k")
    }
    assert(e3.getMessage.contains("v_nonneg"))
    // drop lifts the gate (metadata-only), and the constraint set is versioned
    LakeTable.dropConstraint(spark, p, "v_nonneg") // v3
    LakeTable.append(Seq((6L, -1.0)).toDF("k", "v"), p) // v4: now fine
    assert(LakeTable.read(spark, p).count() === 4)
    assert(LakeTable.constraintsOf(p, 1) === Seq("v_nonneg" -> "v >= 0"))
    assert(LakeTable.constraintsOf(p, 4) === Nil)
  }

  test("binpack compaction rewrites only the small files, deletes stay exact") {
    val p = "/tmp/graft_test/lake_binpack"
    rmdir(p)
    import spark.implicits._
    // v0: one BIG file; v1-v3: three tiny appends (the streaming-
    // ingest steady state binpack exists for)
    LakeTable.overwrite(
      spark.range(0, 5000).select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .coalesce(1), p)
    (1 to 3).foreach(i =>
      LakeTable.append(Seq((10000L + i, i.toDouble)).toDF("k", "v").coalesce(1), p))
    // MoR delete stacked BEFORE the binpack: one big-file key and one
    // tiny-file key — the rewrite must apply it to the folded rows
    // while the carried delete file keeps subtracting from the big one
    LakeTable.deleteMoR(spark, p, "k", col("k") === 42L || col("k") === 10001L)
    val sizes = LakeTable.entriesOf(p, 3).filter(_.kind == "data").map(e =>
      e.file -> java.nio.file.Files.size(java.nio.file.Paths.get(e.file))).toMap
    val big = sizes.maxBy(_._2)._1
    val target = (sizes.values.min + sizes.values.max) / 2
    val v = LakeTable.compactSmall(spark, p, target)
    val after = LakeTable.read(spark, p)
    assert(after.inputFiles.exists(_.endsWith(big.split('/').last)),
      "binpack must NOT rewrite the right-sized file")
    assert(after.count() === 5000 + 3 - 2, "deletes must survive the fold exactly")
    assert(after.filter(col("k") === 42L || col("k") === 10001L).count() === 0)
    // the three tiny files folded into one packed file
    val dataEntries = LakeTable.entriesOf(p, v).filter(_.kind == "data")
    assert(dataEntries.size === 2,
      s"big + one packed file expected, got ${dataEntries.map(_.file)}")
    // a second binpack with nothing to fold is a clean no-op commit
    val v2 = LakeTable.compactSmall(spark, p, target)
    assert(LakeTable.read(spark, p, Some(v2)).count() === 5001)
    // time travel across the binpack is intact: v3 pre-delete, v4 post
    assert(LakeTable.read(spark, p, Some(3)).count() === 5003)
    assert(LakeTable.read(spark, p, Some(4)).count() === 5001)
  }

  test("binpack retires equality deletes no kept file is older than; a kept older file keeps its delete") {
    import spark.implicits._
    def eqDeletes(p: String): Int =
      LakeTable.listRefs(p, LakeTable.latestVersion(p).get).count(_.kind == "delete")
    def keys(p: String): Set[Long] =
      LakeTable.read(spark, p).select("k").as[Long].collect().toSet
    // full fold: every data file is small, so every file rewrites under
    // the new sequence and no equality delete can apply any more
    val p1 = "/tmp/graft_test/lake_binpack_dangling"
    rmdir(p1)
    LakeTable.overwrite(Seq((1L, 1.0)).toDF("k", "v").coalesce(1), p1)
    (2 to 4).foreach(i => LakeTable.append(Seq((i.toLong, i * 1.0)).toDF("k", "v").coalesce(1), p1))
    LakeTable.deleteMoR(spark, p1, "k", col("k") === 2L)
    LakeTable.deleteMoR(spark, p1, "k", col("k") === 4L)
    assert(eqDeletes(p1) === 2)
    LakeTable.compactSmall(spark, p1, 1024L * 1024)
    assert(eqDeletes(p1) === 0, "a full fold leaves no equality delete to apply")
    assert(keys(p1) === Set(1L, 3L))
    // a right-sized file older than the delete is kept: the delete
    // still subtracts from it, so it carries
    val p2 = "/tmp/graft_test/lake_binpack_dangling_kept"
    rmdir(p2)
    LakeTable.overwrite(spark.range(0, 5000).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .coalesce(1), p2)
    (1 to 3).foreach(i =>
      LakeTable.append(Seq((10000L + i, i.toDouble)).toDF("k", "v").coalesce(1), p2))
    LakeTable.deleteMoR(spark, p2, "k", col("k") === 42L || col("k") === 10001L)
    val sizes = LakeTable.entriesOf(p2, LakeTable.latestVersion(p2).get)
      .filter(_.kind == "data").map(e => java.nio.file.Files.size(java.nio.file.Paths.get(e.file)))
    LakeTable.compactSmall(spark, p2, (sizes.min + sizes.max) / 2)
    assert(eqDeletes(p2) === 1, "the kept older file's delete must carry")
    assert(keys(p2) === ((0L until 5000L).toSet - 42L) ++ Set(10002L, 10003L))
  }

  test("binpack of a mixed-size commit dir: partial re-manifest never double-counts") {
    // ONE commit (one manifest, one dir) holding a big and a tiny
    // file: the fold must re-manifest the kept big file as PARTIAL so
    // readers use its explicit file list — a whole-dir scan would
    // also read the folded tiny file (still on disk for v0) and
    // return its rows twice
    val p = "/tmp/graft_test/lake_binpack_mixed"
    rmdir(p)
    import spark.implicits._
    val df = spark.range(0, 5001).select(col("id").as("k"),
      when(col("id") === 0, "a").when(col("id") === 1, "c")
        .otherwise("b").as("part"), lit(1.0).as("v"))
    LakeTable.overwritePartitioned(df, p, "part") // v0: parts a,c tiny; b big
    assert(LakeTable.entriesOf(p, 0).size >= 2)
    val sizes = LakeTable.entriesOf(p, 0).map(e =>
      java.nio.file.Files.size(java.nio.file.Paths.get(e.file)))
    val v1 = LakeTable.compactSmall(spark, p, (sizes.min + sizes.max) / 2)
    val after = LakeTable.read(spark, p, Some(v1))
    assert(after.count() === 5001,
      "folded rows must appear exactly ONCE (no whole-dir double count)")
    assert(after.filter(col("part") === "a").count() === 1)
    // the big file was carried unrewritten, via a PARTIAL manifest
    val kept = LakeTable.listRefs(p, v1).filter(_.kind == "data")
    assert(kept.exists(_.partial), s"kept subset must be marked partial: $kept")
    // v0 still reads its original layout exactly
    assert(LakeTable.read(spark, p, Some(0)).count() === 5001)
    // and stats pruning through the partial manifest stays exact
    assert(LakeTable.readWhereBetween(spark, p, "k", 0, 100).count() === 101)
  }

  test("per-file blooms skip string equality lookups, survive renames, stay exact") {
    val p = "/tmp/graft_test/lake_bloom"
    rmdir(p)
    import spark.implicits._
    // 4 files, each holding exactly one tag value
    val rows = for (t <- 0 until 4; i <- 0 until 25)
      yield (t * 25L + i, s"tag_$t", i.toDouble)
    LakeTable.overwrite(rows.toDF("k", "tag", "v")
      .repartitionByRange(4, col("tag")).sortWithinPartitions("tag"), p) // v0
    val files0 = LakeTable.read(spark, p).inputFiles.toSet
    LakeTable.withBloom(spark, p, "tag") // v1: metadata-only
    assert(LakeTable.read(spark, p).inputFiles.toSet === files0,
      "bloom attach must not touch data files")
    // equality lookup touches only the matching file
    val got = LakeTable.readWhereEquals(spark, p, "tag", "tag_2")
    assert(got.count() === 25)
    val a = LakeTable.lastPlanAudit
    assert(a.filesKept === 1 && a.filesClaimed === 4,
      s"bloom must keep exactly the one matching file: $a")
    // a value present NOWHERE prunes everything, exactly (not error)
    assert(LakeTable.readWhereEquals(spark, p, "tag", "nope").count() === 0)
    // files written AFTER the bloom have none and are kept conservatively
    LakeTable.append(Seq((999L, "tag_9", 9.0)).toDF("k", "tag", "v"), p) // v2
    assert(LakeTable.readWhereEquals(spark, p, "tag", "tag_9")
      .collect().map(_.getLong(0)).toSeq === Seq(999L))
    // the bloom key is the FIELD ID: a rename keeps the skip working
    LakeTable.renameColumn(spark, p, "tag", "label") // v3
    val got2 = LakeTable.readWhereEquals(spark, p, "label", "tag_2")
    assert(got2.count() === 25, "bloom lookup must follow the rename by field id")
    assert(LakeTable.lastPlanAudit.filesKept === 2, // matching file + unbloated v2 file
      s"renamed lookup must still prune: ${LakeTable.lastPlanAudit}")
  }

  test("conditional CoW merge agrees with the MoR merge on the same clauses") {
    import spark.implicits._
    def run(mor: Boolean): Seq[(Long, String, Double)] = {
      val p = s"/tmp/graft_test/lake_merge_agree_$mor"
      rmdir(p)
      LakeTable.overwrite(Seq(
        (1L, "a", 10.0), (2L, "b", 600.0), (3L, "c", 20.0)).toDF("k", "tag", "v"), p)
      val src = Seq((1L, "u", 99.0), (2L, "u", 1.0), (7L, "i", 500.0)).toDF("k", "tag", "v")
      val clauses = Seq(
        LakeTable.MatchedUpdate(Some(col("t.v") < 500.0),
          Map("tag" -> col("s.tag"), "v" -> col("s.v"))),
        LakeTable.MatchedDelete(None))
      if (mor) LakeTable.mergeConditionalMoR(src, p, "k", clauses, Some(lit(true)))
      else LakeTable.mergeConditional(src, p, "k", clauses, Some(lit(true)))
      LakeTable.read(spark, p).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    }
    assert(run(mor = true) === run(mor = false),
      "CoW and MoR merges must produce identical tables for the same clauses")
  }

  test("write-audit-publish: failing audit never becomes readable, passing one lands") {
    val p = "/tmp/graft_test/lake_wap"
    rmdir(p)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    LakeTable.overwrite(orders, p)
    val before = LakeTable.read(spark, p).count()

    // audit: reject any batch with duplicate keys
    def noDupes(df: org.apache.spark.sql.DataFrame): Option[String] = {
      val d = df.groupBy("o_orderkey").count().filter(col("count") > 1).count()
      if (d > 0) Some(s"$d duplicate keys") else None
    }

    val bad = orders.limit(10).unionAll(orders.limit(10)) // all dupes
    val r1 = LakeTable.writeAuditPublish(bad, p, noDupes)
    assert(r1.isLeft, "duplicate batch must be rejected")
    assert(LakeTable.read(spark, p).count() === before, "rejected batch must not land")
    assert(LakeTable.orphanFiles(spark, p).isEmpty,
      "rejected stage must clean up its files")

    val good = orders.select(col("o_orderkey") + 1000000, col("o_totalprice"))
      .toDF("o_orderkey", "o_totalprice")
    val r2 = LakeTable.writeAuditPublish(good, p, noDupes)
    assert(r2 === Right(1), s"clean batch must publish: $r2")
    assert(LakeTable.read(spark, p).count() === before * 2)
  }

  test("change-feed stream delivers each version exactly once across restarts") {
    val p = "/tmp/graft_test/lake_cdc_stream"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), p) // v0
    LakeTable.append(Seq((4L, "d"), (5L, "e")).toDF("k", "s"), p) // v1
    LakeTable.deleteMoR(spark, p, "k", col("k") === 2L) // v2
    val out = "/tmp/graft_test/lake_cdc_stream_out"
    rmdir(out)
    def drain(): Unit = {
      val q = LakeTable.changesStream(spark, p)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$out/result")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // run 1: v0-v2, then the query STOPS (AvailableNow)
    def got(): Seq[(Int, String, Long)] = spark.read.parquet(s"$out/result")
      .select(col("v").cast("int"), col("change_type"), col("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val run1 = got()
    assert(run1 === Seq(
      (0, "insert", 1L), (0, "insert", 2L), (0, "insert", 3L),
      (1, "insert", 4L), (1, "insert", 5L),
      (2, "delete", 2L)), s"run 1 must deliver v0-v2 changes: $run1")
    // more commits AFTER the stream stopped, including a no-op compact
    LakeTable.append(Seq((6L, "f")).toDF("k", "s"), p) // v3
    LakeTable.compact(spark, p) // v4: content-identical → empty marker
    drain() // run 2: SAME checkpoint — must resume, not replay
    val run2 = got()
    assert(run2 === run1 ++ Seq((3, "insert", 6L)),
      s"restart must deliver exactly the new versions, no duplicates: $run2")
    // the changelog itself is idempotent: re-materializing is a no-op
    assert(LakeTable.materializeChanges(spark, p).isEmpty)
  }

  test("tags: named refs resolve, retag moves, expire pins tagged snapshots") {
    val p = "/tmp/graft_test/lake_tags"
    rmdir(p)
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    LakeTable.overwrite(evens, p) // v0
    LakeTable.tag(p, "baseline", 0)
    LakeTable.append(orders.filter(col("o_orderkey") % 2 =!= 0), p) // v1
    LakeTable.overwrite(orders, p) // v2
    LakeTable.overwrite(orders, p) // v3

    assert(LakeTable.tagVersion(p, "baseline") === 0)
    assert(LakeTable.readTag(spark, p, "baseline").count() === evens.count())
    intercept[IllegalArgumentException](LakeTable.readTag(spark, p, "nope"))
    intercept[IllegalArgumentException](LakeTable.tag(p, "bad", 99))

    // expire keeps the tagged v0 alive while dropping untagged v1
    LakeTable.expireSnapshots(spark, p, retain = 2)
    assert(LakeTable.readTag(spark, p, "baseline").count() === evens.count(),
      "expire must pin tagged snapshots")
    intercept[IllegalArgumentException](LakeTable.read(spark, p, Some(1)))

    // retag moves the pointer
    LakeTable.tag(p, "baseline", 3)
    assert(LakeTable.tagVersion(p, "baseline") === 3)
    assert(LakeTable.readTag(spark, p, "baseline").count() === orders.count())
    assert(LakeTable.tags(p) === Map("baseline" -> 3))
  }

  test("conflict revalidation: a concurrent append and a DELETE both land") {
    val p = "/tmp/graft_test/lake_concurrent_dml"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), p) // v0
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // the racer appends BETWEEN the DELETE's snapshot read and its
      // version claim — before round 13 the DELETE refused here
      arb.armRace(() =>
        LakeTable.append(Seq((200L, "racer")).toDF("k", "s"), p): Unit)
      LakeTable.delete(spark, p, col("k") % 2L === 0L)
      val ks = LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      // snapshot isolation: evens visible to the DELETE are gone; the
      // racer's row (even, but never visible to the predicate) SURVIVES
      assert(ks === Seq(1L, 3L, 5L, 7L, 9L, 200L), ks.mkString(", "))
      // both commits are in history, delete on top of the append
      val ops = LakeTable.history(spark, p).collect()
        .map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1).toSeq
      assert(ops.map(_._2) === Seq("overwrite", "append", "delete"), ops.mkString(", "))
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("conflict revalidation: overlapping DELETE vs DELETE still refuses by name") {
    val p = "/tmp/graft_test/lake_conflict_del_del"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), p) // v0
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      arb.armRace(() => LakeTable.delete(spark, p, col("k") === 2L): Unit)
      val e = intercept[IllegalStateException](
        LakeTable.delete(spark, p, col("k") === 3L))
      assert(e.getMessage.contains("rewrote or removed manifests"), e.getMessage)
      // only the racer's delete applied; the refused one changed nothing
      assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
        === (Seq(1L) ++ (3L to 10L)), "refused DELETE must leave the table intact")
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("conflict revalidation: a racing row-level delete file refuses") {
    val p = "/tmp/graft_test/lake_conflict_mor"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), p)
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // the racer's equality-delete subtraction would silently stop
      // applying to rows the UPDATE rewrites into fresh files
      arb.armRace(() => LakeTable.deleteMoR(spark, p, "k", col("k") === 2L): Unit)
      val e = intercept[IllegalStateException](LakeTable.update(
        spark, p, Map("s" -> lit("upd")), col("k") === 3L))
      assert(e.getMessage.contains("delete manifests"), e.getMessage)
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("conflict revalidation: a concurrent schema change refuses") {
    val p = "/tmp/graft_test/lake_conflict_schema"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), p)
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      arb.armRace(() => LakeTable.addColumn(spark, p, "extra"): Unit)
      val e = intercept[IllegalStateException](
        LakeTable.delete(spark, p, col("k") === 3L))
      assert(e.getMessage.contains("schema changed concurrently"), e.getMessage)
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("serializable isolation: a racer appending MATCHING rows refuses the DELETE") {
    val p = "/tmp/graft_test/lake_serial_match"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), p) // v0
    LakeTable.setTableProperties(spark, p,
      Map("write.delete.isolation-level" -> "serializable")) // v1
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // the racer's row (k=200, even) MATCHES the predicate — the
      // phantom serializable forbids; the snapshot default would rebase
      arb.armRace(() =>
        LakeTable.append(Seq((200L, "racer")).toDF("k", "s"), p): Unit)
      val e = intercept[IllegalStateException](
        LakeTable.delete(spark, p, col("k") % 2L === 0L))
      assert(e.getMessage.contains("serializable"), e.getMessage)
      // the refused DELETE committed nothing; the racer's append landed
      val ks = LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      assert(ks === ((1L to 10L) :+ 200L), ks.mkString(", "))
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("serializable isolation: a racer appending NON-matching rows still rebases") {
    val p = "/tmp/graft_test/lake_serial_disjoint"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), p)
    LakeTable.setTableProperties(spark, p,
      Map("write.delete.isolation-level" -> "serializable"))
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // k=201 is odd — the exact evaluation (not a stats overlap
      // guess) proves the racer adds no phantom; both commits land
      arb.armRace(() =>
        LakeTable.append(Seq((201L, "racer")).toDF("k", "s"), p): Unit)
      LakeTable.delete(spark, p, col("k") % 2L === 0L)
      val ks = LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      assert(ks === Seq(1L, 3L, 5L, 7L, 9L, 201L), ks.mkString(", "))
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("serializable isolation: a keyed merge refuses ANY racer-added rows") {
    val p = "/tmp/graft_test/lake_serial_merge"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 5L).map(i => (i, s"s$i")).toDF("k", "s"), p)
    LakeTable.setTableProperties(spark, p,
      Map("write.merge.isolation-level" -> "serializable"))
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // no row-predicate is derivable for a keyed merge (its match
      // set is the join) — Iceberg's alwaysTrue default: any racer
      // rows conflict, even on a key the merge never touches
      arb.armRace(() =>
        LakeTable.append(Seq((300L, "racer")).toDF("k", "s"), p): Unit)
      val e = intercept[IllegalStateException](
        LakeTable.upsert(Seq((2L, "upd")).toDF("k", "s"), p, "k"))
      assert(e.getMessage.contains("serializable"), e.getMessage)
      // under the snapshot default the same race rebases
      LakeTable.setTableProperties(spark, p,
        Map("write.merge.isolation-level" -> "snapshot"))
      arb.armRace(() =>
        LakeTable.append(Seq((301L, "racer2")).toDF("k", "s"), p): Unit)
      LakeTable.upsert(Seq((2L, "upd")).toDF("k", "s"), p, "k")
      val got = LakeTable.read(spark, p).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(2L) === "upd" && got(300L) === "racer" && got(301L) === "racer2")
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("commit.retry.num-retries=0 turns a raced append into a refusal") {
    val p = "/tmp/graft_test/lake_retry_prop"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p)
    LakeTable.setTableProperties(spark, p,
      Map("commit.retry.num-retries" -> "0"))
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      arb.armRace(() =>
        LakeTable.append(Seq((2L, "r")).toDF("k", "s"), p): Unit)
      // zero retries: the rebase loop never re-claims — the raw
      // version conflict surfaces to the caller
      intercept[Exception](
        LakeTable.append(Seq((3L, "x")).toDF("k", "s"), p))
      // restoring the default buys the retries back; both land
      LakeTable.setTableProperties(spark, p,
        Map("commit.retry.num-retries" -> "5"))
      arb.armRace(() =>
        LakeTable.append(Seq((4L, "r2")).toDF("k", "s"), p): Unit)
      LakeTable.append(Seq((5L, "y")).toDF("k", "s"), p)
      val ks = LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      assert(ks === Seq(1L, 2L, 4L, 5L), ks.mkString(", "))
      // malformed value refuses at the ALTER
      val e = intercept[IllegalArgumentException](
        LakeTable.setTableProperties(spark, p,
          Map("commit.retry.num-retries" -> "many")))
      assert(e.getMessage.contains("non-negative integer"), e.getMessage)
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("serializable isolation: bad value refuses at ALTER, not at the first race") {
    val p = "/tmp/graft_test/lake_serial_badval"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p)
    val e = intercept[IllegalArgumentException](
      LakeTable.setTableProperties(spark, p,
        Map("write.delete.isolation-level" -> "linearizable")))
    assert(e.getMessage.contains("expected serializable or snapshot"), e.getMessage)
  }

  test("conflict revalidation: dynamic overwrite rebases over out-of-partition appends only") {
    val p = "/tmp/graft_test/lake_conflict_dyn"
    rmdir(p)
    import spark.implicits._
    def rows(d: Long, tag: String) = Seq((d, 1L, tag), (d, 2L, tag)).toDF("d", "k", "s")
    // declare the layout FIRST (dynamic overwrite refuses mixed-spec
    // generations), then land every generation under it
    LakeTable.overwrite(rows(1L, "a").limit(0), p) // v0, empty anchor
    LakeTable.setPartitionSpec(p,
      Seq(graft.sources.LakeTable.PartitionTransform("d", "identity")))
    LakeTable.append(rows(1L, "a").unionByName(rows(2L, "a")), p) // v1
    LakeTable.append(rows(1L, "b"), p) // v2 under the declared layout
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // DISJOINT: the racer lands in d=3 while we replace d=1 → both land
      arb.armRace(() => LakeTable.append(rows(3L, "racer"), p): Unit)
      LakeTable.overwriteDynamic(rows(1L, "fresh"), p)
      val byD = LakeTable.read(spark, p).groupBy("d").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byD(3L) === 2L, "the disjoint racer's partition must land")
      assert(byD(1L) === 2L, "d=1 must hold exactly the replacement rows")
      assert(LakeTable.read(spark, p).filter(col("d") === 1L && col("s") =!= "fresh")
        .count() === 0L, "replaced partition holds only the fresh rows")
      // OVERLAPPING: the racer lands INSIDE the replaced partition → refuse
      arb.armRace(() => LakeTable.append(rows(2L, "racer2"), p): Unit)
      val e = intercept[Exception](LakeTable.overwriteDynamic(rows(2L, "fresh2"), p))
      assert(e.getMessage.contains("inside replaced partition"), e.getMessage)
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("conflict revalidation: maintenance rewrites rebase over racing appends") {
    val p = "/tmp/graft_test/lake_conflict_maint"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite((1L to 20L).map(i => (i, i * 2.0)).toDF("k", "v"), p) // v0
    LakeTable.append((21L to 25L).map(i => (i, i * 2.0)).toDF("k", "v"), p) // v1
    val arb = new graft.sources.RaceInjectionArbiter
    LakeTable.setCommitArbiter(p, arb)
    try {
      // compact races an append: the fold lands AND the racer's rows
      // ride along unfolded
      arb.armRace(() =>
        LakeTable.append(Seq((100L, 1.0)).toDF("k", "v"), p): Unit)
      LakeTable.compact(spark, p)
      assert(LakeTable.read(spark, p).count() === 26L,
        "compact + racing append must both land")
      // optimizeBy races an append the same way
      arb.armRace(() =>
        LakeTable.append(Seq((101L, 1.0)).toDF("k", "v"), p): Unit)
      LakeTable.optimizeBy(spark, p, 2, "k")
      assert(LakeTable.read(spark, p).count() === 27L,
        "optimize + racing append must both land")
      // ANALYZE races an append: stats land on the analyzed set, the
      // racer's fresh manifest rides unstatted
      arb.armRace(() =>
        LakeTable.append(Seq((102L, 1.0)).toDF("k", "v"), p): Unit)
      LakeTable.analyzeNdv(spark, p, Seq("k"))
      assert(LakeTable.read(spark, p).count() === 28L,
        "analyze + racing append must both land")
    } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
  }

  test("per-branch retention: a branch keeps its own policy while main expires") {
    val p = "/tmp/graft_test/lake_branch_expire"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, 1.0)).toDF("k", "v"), p) // main v0
    LakeTable.append(Seq((2L, 2.0)).toDF("k", "v"), p) // main v1
    LakeTable.createBranch(spark, p, "audit") // branch v0 = fork of main v1
    val bp = LakeTable.branchPath(p, "audit")
    LakeTable.append(Seq((10L, 10.0)).toDF("k", "v"), bp) // branch v1
    LakeTable.append(Seq((11L, 11.0)).toDF("k", "v"), bp) // branch v2
    LakeTable.append(Seq((3L, 3.0)).toDF("k", "v"), p) // main v2
    def liveOf(root: String): Seq[Int] =
      (0 to LakeTable.latestVersion(root).get).filter(v =>
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/_graft_meta/v$v")))
    // main declares keep-1; the branch declares NOTHING — per-root
    // policies, so the branch keeps its whole history
    LakeTable.setTableProperties(spark, p,
      Map("history.expire.min-snapshots-to-keep" -> "1")) // main v3
    LakeTable.expireByPolicy(spark, p)
    assert(liveOf(p) === Seq(LakeTable.latestVersion(p).get),
      s"main must expire to its policy: ${liveOf(p)}")
    assert(liveOf(bp) === Seq(0, 1, 2),
      s"an undeclared branch keeps its history: ${liveOf(bp)}")
    // both sides still read whole — the fork point's manifests stay
    // pinned through main's GC (externalRefs), per-branch expiry or not
    assert(LakeTable.read(spark, bp).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 10L, 11L))
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    // the branch declares ITS OWN policy — the next pass trims the
    // branch too, still content-intact
    LakeTable.setTableProperties(spark, bp,
      Map("history.expire.min-snapshots-to-keep" -> "1")) // branch v3
    LakeTable.expireByPolicy(spark, p)
    assert(liveOf(bp) === Seq(LakeTable.latestVersion(bp).get),
      s"the branch's own policy must apply: ${liveOf(bp)}")
    assert(LakeTable.read(spark, bp).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 10L, 11L))
    assert(LakeTable.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    // the walk starts at main by contract
    val e = intercept[IllegalArgumentException](LakeTable.expireByPolicy(spark, bp))
    assert(e.getMessage.contains("main table"), e.getMessage)
  }

  /** Spark jobs `body` starts (counted after the listener bus drains). */
  private def jobsOf(body: => Unit): Int = {
    val group = s"plan-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "lake read planning")
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  private def parquetIn(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally ls.close()
  }

  test("planning a many-commit table reads schema records: no Spark job") {
    val p = "/tmp/graft_test/lake_plan_jobs"
    rmdir(p)
    import spark.implicits._
    // model: id -> (grp, v)
    val model = scala.collection.mutable.Map(0L -> ("a", 0.0))
    LakeTable.overwrite(Seq((0L, "a", 0.0)).toDF("id", "grp", "v"), p) // v0
    // 55 streaming epochs, sink-shaped: one epoch dir each, committed
    // as a partial manifest (v1..v55); written by one job, then moved
    val nEpochs = 55
    val stage = "/tmp/graft_test/lake_plan_jobs_stage"
    rmdir(stage)
    (1 to nEpochs).map(e => (e.toLong, "s", e * 1.0, e)).toDF("id", "grp", "v", "e")
      .repartition(col("e")).write.partitionBy("e").parquet(stage)
    val epochSchema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("grp", "string").add("v", "double")
    (1 to nEpochs).foreach { e =>
      val dir = s"$p/data/stream-spec-e$e"
      Files.move(Paths.get(s"$stage/e=$e"), Paths.get(dir))
      assert(LakeTable.commitStreamEpoch(spark, p, parquetIn(dir), epochSchema, "q", e.toLong)
        .isDefined)
      model(e.toLong) = ("s", e * 1.0)
    }
    // appends under a hidden identity spec: the first carries one big
    // and one tiny partition file, the rest one tiny file each
    LakeTable.setPartitionSpec(p, Seq(LakeTable.PartitionTransform("grp", "identity")))
    val first = (1000L until 3000L).map(i => (i, "big", i * 0.5)) :+ ((3000L, "t", 1.0))
    LakeTable.append(first.toDF("id", "grp", "v"), p)
    first.foreach { case (i, g, v) => model(i) = (g, v) }
    (1 to 9).foreach { i =>
      val row = (3000L + i, "t", i * 2.0)
      LakeTable.append(Seq(row).toDF("id", "grp", "v"), p)
      model(row._1) = (row._2, row._3)
    }
    // binpack only the appended range: the first append's manifest is
    // re-manifested partially (its big file stays), the epochs are untouched
    LakeTable.compactSmall(spark, p, 8192L, preds = Seq(("id", 1000.0, 1e9)))
    LakeTable.deleteMoR(spark, p, "id", col("id") === 7L || col("id") === 3005L)
    model -= 7L; model -= 3005L
    val head = LakeTable.latestVersion(p).get
    assert(head >= 65, s"the table needs at least 65 commits, has ${head + 1}")
    val refs = LakeTable.listRefs(p, head)
    assert(refs.count(r => r.partial && r.base.contains("stream-spec-e")) === nEpochs)
    assert(refs.exists(r => r.partial && r.kind == "data" && !r.base.contains("stream-spec-e")),
      "the binpack must leave a partial re-manifest")
    assert(refs.exists(_.kind == "delete"))
    assert(refs.exists(_.pspec.nonEmpty))

    var all: org.apache.spark.sql.DataFrame = null
    var tiny: org.apache.spark.sql.DataFrame = null
    var range: org.apache.spark.sql.DataFrame = null
    val planJobs = jobsOf {
      all = LakeTable.read(spark, p)
      assert(all.schema.fieldNames.toSeq === Seq("id", "grp", "v"))
      tiny = LakeTable.readWhereEquals(spark, p, "grp", "t")
      range = LakeTable.readWhereBetween(spark, p, "id", 1500, 3003)
    }
    assert(planJobs === 0,
      "planning must read schema records and manifests on the driver, never start a job")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Double)] =
      df.select("id", "grp", "v").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(rowsOf(all) === model.toMap)
    assert(rowsOf(tiny) === model.toMap.filter(_._2._1 == "t"))
    assert(rowsOf(range) === model.toMap.filter { case (id, _) => id >= 1500 && id <= 3003 })

    // a dir without a record (a commit written before records existed)
    // still reads the same rows; only its own read pays inference
    val legacy = Paths.get(s"$p/data/stream-spec-e3/_graft_schema.json")
    assert(Files.exists(legacy))
    Files.delete(legacy)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { again = LakeTable.read(spark, p) } >= 1,
      "a dir without a record falls back to footer inference")
    assert(rowsOf(again) === model.toMap)
  }

  test("parquet manifest lists and manifests decode on the driver: no Spark job") {
    import spark.implicits._
    // the same commits under both encodings: a hidden spec, row
    // lineage, a consolidated manifest (per-entry seq pins) and stats
    def build(p: String): Unit = {
      rmdir(p)
      val spec = Seq(LakeTable.PartitionTransform("k", "bucket", 2))
      LakeTable.overwriteHiddenPartitioned(
        Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "g", "v"), p, spec) // v0
      LakeTable.enableRowLineage(spark, p) // v1
      LakeTable.appendHiddenPartitioned(
        Seq((3L, "c", 3.0)).toDF("k", "g", "v"), p, spec) // v2
      LakeTable.rewriteManifests(spark, p) // v3
    }
    val (pJ, pP) = ("/tmp/graft_test/lake_meta_json", "/tmp/graft_test/lake_meta_pq")
    build(pJ)
    LakeTable.withColumnarMetaThreshold(0)(build(pP))
    val head = LakeTable.latestVersion(pP).get
    assert(Files.exists(Paths.get(s"$pP/_graft_meta/v$head/list.parquet")))
    var refs: Seq[LakeTable.ManifestRef] = Nil
    var ops: Seq[String] = Nil
    var entries: Seq[LakeTable.ManifestEntry] = Nil
    val jobs = jobsOf {
      refs = (0 to head).flatMap(LakeTable.listRefs(pP, _))
      ops = (0 to head).map(LakeTable.operationOf(pP, _))
      entries = LakeTable.listRefs(pP, head).flatMap(LakeTable.readManifest)
    }
    assert(jobs === 0, "a parquet list or manifest must decode without a Spark job")
    assert(refs.exists(_.manifest.endsWith(".parquet")))
    // every decoded field but the paths equals the JSON twin's
    def fields(r: LakeTable.ManifestRef) =
      (r.kind, r.seq, r.nFiles, r.ranges, r.cols, r.pspec, r.partial, r.nRows, r.firstRowId)
    assert(refs.map(fields) === (0 to head).flatMap(LakeTable.listRefs(pJ, _)).map(fields))
    assert(refs.exists(_.pspec.nonEmpty) && refs.exists(_.partial) &&
      refs.exists(_.firstRowId >= 0), s"$refs")
    assert(ops === (0 to head).map(LakeTable.operationOf(pJ, _)))
    def entryFields(e: LakeTable.ManifestEntry) = (e.stats, e.kind, e.seq, e.rows, e.frid)
    assert(entries.map(entryFields).sortBy(_.toString) ===
      LakeTable.entriesOf(pJ, head).map(entryFields).sortBy(_.toString))
    assert(LakeTable.read(spark, pP).count() === 3)
  }

  test("a 200-commit table reads as one scan per schema generation: no Spark job at plan time") {
    val p = "/tmp/graft_test/lake_generations"
    rmdir(p)
    import spark.implicits._
    val model = scala.collection.mutable.Map(0L -> 0.0)
    LakeTable.overwrite(Seq((0L, "a", 0.0)).toDF("id", "grp", "v"), p) // v0
    // sink-shaped epochs (one commit dir each), all one generation
    // with v0: same field ids, same recorded schema
    val nEpochs = 199
    val stage = "/tmp/graft_test/lake_generations_stage"
    rmdir(stage)
    (1 to nEpochs).map(e => (e.toLong, "s", e * 1.0, e)).toDF("id", "grp", "v", "e")
      .repartition(col("e")).write.partitionBy("e").parquet(stage)
    val epochSchema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("grp", "string").add("v", "double")
    def scanLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }.size
    def planned(): (Int, Int, org.apache.spark.sql.DataFrame) = {
      var df: org.apache.spark.sql.DataFrame = null
      var leaves = 0
      val jobs = jobsOf { df = LakeTable.read(spark, p); leaves = scanLeaves(df) }
      (jobs, leaves, df)
    }
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1 to nEpochs).foreach { e =>
      val dir = s"$p/data/gen-spec-e$e"
      Files.move(Paths.get(s"$stage/e=$e"), Paths.get(dir))
      assert(LakeTable.commitStreamEpoch(spark, p, parquetIn(dir), epochSchema, "q", e.toLong)
        .isDefined)
      model(e.toLong) = e * 1.0
      if (e == 49) {
        val (jobs, leaves, df) = planned()
        assert(jobs === 0 && leaves === 1, s"50 commits: $jobs jobs, $leaves scan leaves")
        assert(rowsOf(df) === model.toMap)
      }
    }
    assert(LakeTable.latestVersion(p).get === nEpochs)
    val (jobs1, leaves1, df1) = planned()
    assert(jobs1 === 0, "planning must not grow jobs with the commit count")
    assert(leaves1 === 1, "one generation reads as one scan, whatever the commit count")
    assert(rowsOf(df1) === model.toMap)
    // an added column starts a second generation: two scans, not two hundred
    LakeTable.append(Seq((500L, "w", 5.0, 7L)).toDF("id", "grp", "v", "w"), p)
    model(500L) = 5.0
    val (jobs2, leaves2, df2) = planned()
    assert(jobs2 === 0 && leaves2 === 2, s"two generations: $jobs2 jobs, $leaves2 scan leaves")
    assert(rowsOf(df2) === model.toMap)
    assert(df2.filter(col("w").isNotNull).count() === 1)
  }
}
