package graft

import graft.sources.LakeTable
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSourceV2 connector ([[graft.sources.GraftLakeSource]]):
  * `spark.read.format("graftlake")` must agree with the library read
  * path row-for-row, push filters into the SAME manifest prune
  * (PlanAudit parity), reconstruct hive partition values, prune
  * partition DIRECTORIES at listing time, time-travel via
  * `versionAsOf`, resolve through the SQL session catalog, and refuse
  * the snapshots the file-level scan cannot represent with an error
  * naming the fold that lifts the restriction. */
class GraftLakeSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import SparkSpec.rmdir

  private def v2(path: String) = spark.read.format("graftlake").load(path)

  /** Every physical node of the EXECUTED plan, descending through the
    * AdaptiveSparkPlanExec wrapper (a leaf to `collect`, so a naive
    * `executedPlan.collect` under AQE finds nothing and asserts pass
    * vacuously). */
  private def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    def expand(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        expand(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        s +: expand(s.plan)
      case other => other +: other.children.flatMap(expand)
    }
    expand(df.queryExecution.executedPlan)
  }

  private def scansData(df: org.apache.spark.sql.DataFrame): Boolean =
    planNodes(df).exists(_.isInstanceOf[BatchScanExec])

  /** Data files the executed plan actually scanned (the V2 scan's
    * input partitions are FilePartitions over the pruned set). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect() // force planning + execution
    df.queryExecution.executedPlan.collect { case b: BatchScanExec =>
      b.inputRDD.partitions.collect { case p if p.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition] =>
        p.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition]
          .inputPartitions.collect { case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq }.flatten
      }.flatten.toSeq
    }.flatten
  }

  test("V2 load agrees with the library read and pins versions") {
    val p = "/tmp/graft_test/v2_basic"
    rmdir(p)
    import spark.implicits._
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    LakeTable.append(Seq((1000L, 9.0)).toDF("k", "v"), p)
    assert(v2(p).count() === 401)
    assert(v2(p).agg(sum("k")).head.getLong(0)
      === LakeTable.read(spark, p).agg(sum("k")).head.getLong(0))
    // versionAsOf pins the older snapshot
    assert(spark.read.format("graftlake").option("versionAsOf", 0).load(p).count() === 400)
    intercept[Exception](
      spark.read.format("graftlake").option("versionAsOf", 99).load(p).collect())
  }

  test("pushed range filters drive the manifest prune: PlanAudit parity with readWhere") {
    val p = "/tmp/graft_test/v2_prune"
    rmdir(p)
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    // library path first: capture its audit
    val lib = LakeTable.readWhereBetween(spark, p, "k", 0, 50)
    assert(lib.count() === 51)
    val libAudit = LakeTable.lastPlanAudit
    assert(libAudit.filesClaimed === 4 && libAudit.filesKept === 1, s"$libAudit")
    // V2 path: same predicate arrives via Spark filter pushdown
    val got = v2(p).filter(col("k") >= 0 && col("k") <= 50)
    assert(got.count() === 51)
    val v2Audit = LakeTable.lastPlanAudit
    assert(v2Audit === libAudit,
      s"V2 prune must equal the library plan: lib=$libAudit v2=$v2Audit")
    // and the executed scan touched exactly the surviving file
    assert(scannedFiles(got).size === 1)
  }

  test("column pruning reaches the parquet read schema") {
    val p = "/tmp/graft_test/v2_colprune"
    rmdir(p)
    val df = spark.range(0, 100).select(
      col("id").as("k"), (col("id") * 2.0).as("v"), lit("pad").as("s"))
    LakeTable.overwrite(df, p)
    val q = v2(p).select("k")
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    assert(scan.output.map(_.name) === Seq("k"),
      s"read schema must be pruned to the projection: ${scan.output}")
  }

  test("hive partitioning: values reconstructed, dirs pruned at listing time") {
    val p = "/tmp/graft_test/v2_hive"
    rmdir(p)
    val df = spark.range(0, 300).select(col("id").as("k"),
      concat(lit("t"), pmod(col("id"), lit(3))).as("tag"), (col("id") * 2.0).as("v"))
    LakeTable.overwritePartitioned(df.repartition(2), p, "tag")
    val r = v2(p)
    assert(r.count() === 300)
    // partition values come back from dir names, typed by the schema
    assert(r.filter(col("tag") === "t1").agg(sum("k")).head.getLong(0)
      === (1 until 300 by 3).map(_.toLong).sum)
    // dir pruning: only tag=t1 files are listed into the scan
    val files = scannedFiles(v2(p).filter(col("tag") === "t1"))
    assert(files.nonEmpty && files.forall(_.contains("tag=t1")),
      s"partition filter must prune directories at listing: $files")
    // parity with the library read
    assert(r.agg(sum("v")).head.getDouble(0)
      === LakeTable.read(spark, p).agg(sum("v")).head.getDouble(0))
  }

  test("additive schema evolution null-extends through the V2 scan") {
    val p = "/tmp/graft_test/v2_evolve"
    rmdir(p)
    import spark.implicits._
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p)
    LakeTable.append(Seq((2L, "b", "web")).toDF("k", "s", "channel"), p)
    val rows = v2(p).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.map(r => Option(r.getString(2))).toSeq === Seq(None, Some("web")),
      "old files must null-extend the new column")
  }

  test("SQL catalog: CREATE TABLE USING graftlake, filtered SELECT") {
    val p = "/tmp/graft_test/v2_sql"
    rmdir(p)
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    spark.sql("DROP TABLE IF EXISTS v2_sql_spec")
    try {
      spark.sql(s"CREATE TABLE v2_sql_spec USING graftlake OPTIONS (path '$p')")
      val n = spark.sql(
        "SELECT count(*) AS n FROM v2_sql_spec WHERE k BETWEEN 0 AND 50").head.getLong(0)
      assert(n === 51)
      // the SQL filter reached the manifest prune too
      assert(LakeTable.lastPlanAudit.filesKept === 1,
        s"${LakeTable.lastPlanAudit}")
    } finally spark.sql("DROP TABLE IF EXISTS v2_sql_spec")
  }

  test("metadata-only aggregate pushdown: count/min/max without touching a data file") {
    val p = "/tmp/graft_test/v2_aggpush"
    rmdir(p)
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0 - 100.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    LakeTable.append(spark.range(400, 401).select(col("id").as("k"), lit(-999.5).as("v")), p)
    val q = v2(p).agg(count(lit(1)).as("n"), min("k").as("mn_k"),
      max("k").as("mx_k"), min("v").as("mn_v"), max("v").as("mx_v"))
    val row = q.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3), row.getDouble(4))
      === ((401L, 0L, 400L, -999.5, 698.0)))
    // COMPLETE pushdown: the executed plan is a local one-row scan —
    // no BatchScanExec, so no parquet file was opened
    assert(!scansData(q),
      s"aggregate must be answered from metadata alone:\n${q.queryExecution.executedPlan}")
    assert(planNodes(q).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]))
    // SQL spelling through the session catalog pushes identically
    spark.sql("DROP TABLE IF EXISTS v2_agg_spec")
    try {
      spark.sql(s"CREATE TABLE v2_agg_spec USING graftlake OPTIONS (path '$p')")
      val sq = spark.sql("SELECT count(*) AS n, min(k) AS mn, max(v) AS mx FROM v2_agg_spec")
      assert(sq.head === org.apache.spark.sql.Row(401L, 0L, 698.0))
      assert(!scansData(sq))
    } finally spark.sql("DROP TABLE IF EXISTS v2_agg_spec")
  }

  test("aggregate pushdown refuses inexact shapes and falls back to a real scan") {
    val p = "/tmp/graft_test/v2_aggpush_refuse"
    rmdir(p)
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    // a filter makes file-granular metadata inexact → real scan, right answer
    val filtered = v2(p).filter(col("k") > 100).agg(count(lit(1)).as("n"))
    assert(filtered.head.getLong(0) === 299L)
    assert(scansData(filtered), "filtered aggregate must scan")
    // sum is not answerable from [min,max] stats → real scan
    val summed = v2(p).agg(sum("k").as("s"))
    assert(summed.head.getLong(0) === (0L until 400L).sum)
    assert(scansData(summed), "sum must scan")
    // group-by is file-granular-inexact → real scan
    val grouped = v2(p).groupBy((col("k") % 2).as("par")).agg(count(lit(1)).as("n"))
    assert(grouped.collect().map(_.getLong(1)).sorted.toSeq === Seq(200L, 200L))
    assert(scansData(grouped), "grouped aggregate must scan")
    // an all-null column never collects stats → min(s) refused, scanned
    val p2 = "/tmp/graft_test/v2_aggpush_nullcol"
    rmdir(p2)
    import spark.implicits._
    LakeTable.overwrite(
      Seq((1L, Option.empty[Double]), (2L, Option.empty[Double])).toDF("k", "s"), p2)
    val nullMin = v2(p2).agg(min("s").as("mn"))
    assert(nullMin.head.isNullAt(0))
    assert(scansData(nullMin), "min over an all-null column must scan (no stats coverage)")
  }

  test("GROUP BY over identity-partition keys pushes to metadata; others fall back") {
    import graft.sources.LakeTable.PartitionTransform
    val p = "/tmp/graft_test/v2_aggpush_group"
    rmdir(p)
    val spec = Seq(PartitionTransform("g", "identity"))
    val a = spark.range(0, 500)
      .select((col("id") % 5).as("g"), col("id").as("k"), (col("id") * 2.0).as("v"))
    val b = spark.range(500, 620)
      .select((col("id") % 5).as("g"), col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwriteHiddenPartitioned(a, p, spec)
    LakeTable.appendHiddenPartitioned(b, p, spec) // second generation, same spec
    val q = v2(p).groupBy("g")
      .agg(count(lit(1)).as("n"), min("k").as("mn"), max("v").as("mx"))
      .orderBy("g")
    val expected = a.unionAll(b).groupBy("g")
      .agg(count(lit(1)).as("n"), min("k").as("mn"), max("v").as("mx"))
      .orderBy("g").collect()
    assert(q.collect().toSeq === expected.toSeq)
    assert(!scansData(q),
      s"partition-key group-by must be metadata-only:\n${q.queryExecution.executedPlan}")
    // non-partition group key → real scan, same answer
    val q2 = v2(p).groupBy("k").agg(count(lit(1)).as("n"))
    assert(q2.collect().length === 620)
    assert(scansData(q2), "non-partition group key must scan")
    // a filter makes per-partition metadata counts inexact → real scan
    val q3 = v2(p).filter(col("k") > 100).groupBy("g").agg(count(lit(1)).as("n"))
    assert(q3.collect().map(_.getLong(1)).sum === 519L)
    assert(scansData(q3), "filtered group-by must scan")
    // null group values land in the hive default dir → unparseable
    // key → refused, scanned, and SQL's null group stays correct
    val p2 = "/tmp/graft_test/v2_aggpush_group_null"
    rmdir(p2)
    val withNull = spark.range(0, 100)
      .select(when(col("id") < 10, null).otherwise(col("id") % 3).as("g"), col("id").as("k"))
    LakeTable.overwriteHiddenPartitioned(withNull, p2, spec)
    val qn = v2(p2).groupBy("g").agg(count(lit(1)).as("n"))
    val got = qn.collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(got(-1L) === 10L, s"null group must survive: $got")
    assert(scansData(qn), "a null-keyed partition dir must refuse the metadata path")
  }

  test("metadata aggregate folds a multi-file manifest without opening data") {
    val p = "/tmp/graft_test/v2_aggpush_dist"
    rmdir(p)
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    val q = v2(p).agg(count(lit(1)).as("n"), min("v").as("mn"), max("k").as("mx"))
    assert(q.head === org.apache.spark.sql.Row(400L, 0.0, 399L))
    assert(!scansData(q), "metadata fold must not open a data file")
  }

  test("V2 scan reports EXACT statistics from manifests (rows and bytes)") {
    val p = "/tmp/graft_test/v2_stats"
    rmdir(p)
    val df = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    def v2Stats(q: org.apache.spark.sql.DataFrame) = {
      q.collect()
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.head
    }
    val full = v2Stats(v2(p).filter(col("k") >= 0))
    assert(full.rowCount === Some(BigInt(400)),
      s"exact numRows must reach Catalyst: ${full.rowCount}")
    // post-prune: only the surviving file's rows are reported
    val pruned = v2Stats(v2(p).filter(col("k") >= 0 && col("k") <= 50))
    assert(pruned.rowCount.exists(rc => rc >= 51 && rc < 400),
      s"post-prune cardinality must be the survivor file's rows: ${pruned.rowCount}")
    assert(full.sizeInBytes > pruned.sizeInBytes && pruned.sizeInBytes > 0)
  }

  test("V2 change-feed stream: per-version batches, content parity, checkpoint resume") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_cdc_stream"
    rmdir(p)
    LakeTable.overwrite(
      spark.range(0, 50).select(col("id").as("k"), (col("id") * 2.0).as("x")), p) // v0
    LakeTable.delete(spark, p, col("k") >= 40) // v1: CoW delete
    LakeTable.append(Seq((100L, 1.0), (101L, 2.0)).toDF("k", "x"), p) // v2
    val out = s"$p/_v2_stream_out"
    def drain(): Seq[Long] = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graftlake").option("changeFeed", "true")
        .load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            batches += id
            b.write.mode("append").parquet(s"$out/result")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches.toSeq
    }
    val firstRun = drain()
    assert(firstRun.size === 3, s"one micro-batch per version, got $firstRun")
    val got = spark.read.parquet(s"$out/result")
    assert(got.columns.toSet === Set("k", "x", "change_type", "v"))
    // content parity with the batch change feed, per version
    val want = (0 to 2).map { ver =>
      (if (ver == 0)
        LakeTable.read(spark, p, Some(0)).withColumn("change_type", lit("insert"))
      else LakeTable.changes(spark, p, ver - 1, ver))
        .withColumn("ver", lit(ver))
    }.reduce(_.unionByName(_))
    assert(got.select(col("v").as("ver2"), col("k"), col("change_type")).exceptAll(
      want.select(col("ver").as("ver2"), col("k"), col("change_type"))).isEmpty
      && want.count() === got.count(),
      "streamed CDC rows must equal the batch change feed")
    // restart: a new commit delivers EXACTLY the new version
    LakeTable.delete(spark, p, col("k") === 0L) // v3
    val secondRun = drain()
    assert(secondRun.size === 1, s"resume must deliver only v3, got $secondRun")
    val after = spark.read.parquet(s"$out/result")
    assert(after.count() === got.count() + 1) // one delete row for k=0
    assert(after.filter(col("v") === 3).select("change_type", "k").collect().toSeq
      === Seq(org.apache.spark.sql.Row("delete", 0L)))
  }

  test("change-feed endingVersion bounds delivery; a raised bound resumes past it") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_cdc_endv"
    rmdir(p)
    LakeTable.overwrite(
      spark.range(0, 20).select(col("id").as("k"), (col("id") * 2.0).as("x")), p) // v0
    LakeTable.append(Seq((100L, 1.0)).toDF("k", "x"), p) // v1
    LakeTable.append(Seq((200L, 2.0)).toDF("k", "x"), p) // v2
    LakeTable.append(Seq((300L, 3.0)).toDF("k", "x"), p) // v3
    val out = s"$p/_endv_out"
    def drain(endV: String): Int = {
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = spark.readStream.format("graftlake").option("changeFeed", "true")
        .option("endingVersion", endV)
        .load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            batches.incrementAndGet()
            b.write.mode("append").parquet(s"$out/result")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches.get()
    }
    assert(drain("1") === 2, "bounded read must deliver exactly v0..v1")
    val bounded = spark.read.parquet(s"$out/result")
    assert(bounded.agg(max("v")).head().getInt(0) === 1,
      "no row past the bound may be delivered")
    assert(bounded.count() === 21, "v0 snapshot (20) + v1 append (1)")
    // a raised bound resumes from the checkpointed offset, not v0
    assert(drain("3") === 2, "raised bound delivers exactly v2..v3")
    val resumed = spark.read.parquet(s"$out/result")
    assert(resumed.count() === 23 && resumed.agg(max("v")).head().getInt(0) === 3)
  }

  test("LINEAGE change-feed stream: _row_id-keyed update pairs, checkpoint resume") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_lincdc_stream"
    rmdir(p)
    LakeTable.overwrite(
      (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "x")
        .repartition(1).sortWithinPartitions("k"), p) // v0 (pre-lineage)
    LakeTable.enableRowLineage(spark, p) // v1: the feed's initial snapshot
    LakeTable.update(spark, p,
      Map("x" -> (col("x") + 100.0)), col("k") % 5 === 0L) // v2: 4 updates
    LakeTable.delete(spark, p, col("k") === 7L) // v3: 1 delete
    val out = s"$p/_lin_stream_out"
    def drain(): Seq[Long] = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graftlake").option("changeFeed", "lineage")
        .load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            batches += id
            b.write.mode("append").parquet(s"$out/result")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches.toSeq
    }
    val firstRun = drain()
    // v0 is a pre-enablement empty marker; v1..v3 deliver rows
    assert(firstRun.size === 3, s"one non-empty batch per live version: $firstRun")
    val got = spark.read.parquet(s"$out/result")
    assert(got.columns.contains("_row_id"),
      s"the lineage feed must carry the durable id: ${got.columns.toSeq}")
    // v1: the initial snapshot — every row an insert with its id
    val v1 = got.filter(col("v") === 1).collect()
    assert(v1.length === 20 && v1.forall(_.getAs[String]("change_type") == "insert"))
    assert(v1.map(_.getAs[Long]("_row_id")).toSet === (0L until 20L).toSet)
    // v2: preimage/postimage PAIRS sharing the row's durable id
    val v2b = got.filter(col("v") === 2).collect()
    val pre = v2b.filter(_.getAs[String]("change_type") == "update_preimage")
    val post = v2b.filter(_.getAs[String]("change_type") == "update_postimage")
    assert(pre.length === 4 && post.length === 4 && v2b.length === 8)
    val pairs = post.map(r => r.getAs[Long]("_row_id") -> r.getAs[Double]("x")).toMap
    pre.foreach { r =>
      val rid = r.getAs[Long]("_row_id")
      assert(pairs(rid) === r.getAs[Double]("x") + 100.0,
        s"pre/post must pair by _row_id and differ by the update: $rid")
    }
    // v3: the delete carries the row's id and its LAST image
    val v3b = got.filter(col("v") === 3).collect()
    assert(v3b.length === 1 && v3b.head.getAs[String]("change_type") == "delete")
    assert(v3b.head.getAs[Long]("k") === 7L)
    // RESTART resume: a new commit delivers exactly the new version
    LakeTable.update(spark, p, Map("x" -> lit(-1.0)), col("k") === 3L) // v4
    val secondRun = drain()
    assert(secondRun.size === 1, s"resume must deliver only v4: $secondRun")
    val v4 = spark.read.parquet(s"$out/result").filter(col("v") === 4).collect()
    assert(v4.length === 2 &&
      v4.map(_.getAs[String]("change_type")).toSet ===
        Set("update_preimage", "update_postimage"))
    assert(v4.map(_.getAs[Long]("_row_id")).distinct.length === 1,
      "the restarted feed's update pair still keys on one durable id")
  }

  test("change-feed data-loss contract: an expired gap refuses by name; allowDataLoss opts out") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_cdc_dataloss"
    rmdir(p)
    LakeTable.overwrite(
      (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("k", "x"), p) // v0
    (1 to 5).foreach { i =>
      LakeTable.append(Seq((100L + i, i * 10.0)).toDF("k", "x"), p) // v1..v5
    }
    // expire BEFORE any consumer existed (no changelog dir → no eager
    // materialization): v0..v3 drop, v4 survives but its parent is
    // gone, so only v5 can ever materialize change-data
    LakeTable.expireSnapshots(spark, p, retain = 2)
    val out = s"$p/_out"
    def drain(allowLoss: Boolean): Seq[org.apache.spark.sql.Row] = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val rd = spark.readStream.format("graftlake").option("changeFeed", "true")
      val q = (if (allowLoss) rd.option("allowDataLoss", "true") else rd)
        .load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          rows ++= b.collect(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rows.toSeq
    }
    // default: REFUSE at offset admission, naming the versions and the
    // expire, before anything enters the offset log
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(allowLoss = false)
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("no materializable changelog"), msg)
    assert(msg.contains("expire"), msg)
    assert(msg.contains("allowDataLoss"), msg)
    // explicit opt-out: the gap is skipped, the one materializable
    // version delivers (the refusal logged no offsets, so the same
    // checkpoint resumes cleanly)
    val got = drain(allowLoss = true)
    assert(got.nonEmpty, "v5's change-data must deliver under the opt-out")
    assert(got.map(r => r.getAs[Int]("v")).distinct === Seq(5),
      s"only v5 has materializable change-data: ${got.map(_.getAs[Int]("v")).distinct}")
    assert(got.map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type")))
      === Seq((105L, "insert")))
    // the legacy FILE-SOURCE feed shares the contract at setup (it
    // cannot notice a missing version mid-flight)
    val e2 = intercept[IllegalArgumentException](LakeTable.changesStream(spark, p))
    assert(e2.getMessage.contains("no materializable changelog") &&
      e2.getMessage.contains("allowDataLoss"), e2.getMessage)
    assert(LakeTable.changesStream(spark, p, allowDataLoss = true).isStreaming)
  }

  test("expire_snapshots materializes pending changelogs first: the gap never forms") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_cdc_nogap"
    rmdir(p)
    LakeTable.overwrite(
      (0 until 8).map(i => (i.toLong, i * 1.0)).toDF("k", "x"), p) // v0
    LakeTable.append(Seq((100L, 10.0)).toDF("k", "x"), p) // v1
    LakeTable.delete(spark, p, col("k") === 3L) // v2
    val out = s"$p/_out"
    def drain(): Seq[org.apache.spark.sql.Row] = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val q = spark.readStream.format("graftlake").option("changeFeed", "true")
        .load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          rows ++= b.collect(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rows.toSeq
    }
    assert(drain().size === 8 + 1 + 1) // v0 snapshot + v1 insert + v2 delete
    // the consumer lags: two more commits land, NOT yet materialized,
    // then a retention run expires their parents
    LakeTable.append(Seq((101L, 11.0)).toDF("k", "x"), p) // v3
    LakeTable.append(Seq((102L, 12.0)).toDF("k", "x"), p) // v4
    LakeTable.expireSnapshots(spark, p, retain = 1) // keeps only v4
    // eager materialization computed v3/v4's change-data BEFORE the
    // parents died: the lagging consumer resumes with NO gap and NO
    // refusal
    val resumed = drain()
    assert(resumed.map(r => (r.getAs[Int]("v"), r.getAs[Long]("k"))).sorted
      === Seq((3, 101L), (4, 102L)),
      s"the resumed consumer must see exactly v3 and v4: $resumed")
  }

  test("LINEAGE feed shares the data-loss contract and the eager-expire fix") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_lincdc_dataloss"
    rmdir(p)
    LakeTable.overwrite(
      (0 until 6).map(i => (i.toLong, i * 1.0)).toDF("k", "x")
        .repartition(1).sortWithinPartitions("k"), p) // v0
    LakeTable.enableRowLineage(spark, p) // v1: initial snapshot
    val out = s"$p/_out"
    def drain(): Seq[org.apache.spark.sql.Row] = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val q = spark.readStream.format("graftlake").option("changeFeed", "lineage")
        .load(p)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/_chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          rows ++= b.collect(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rows.toSeq
    }
    assert(drain().size === 6) // v1's initial snapshot (v0 is a marker)
    // lag two commits, expire their parents: eager materialization
    // keeps the lineage feed whole too
    LakeTable.update(spark, p, Map("x" -> (col("x") + 1.0)), col("k") === 2L) // v2
    LakeTable.append(Seq((50L, 5.0)).toDF("k", "x"), p) // v3
    LakeTable.expireSnapshots(spark, p, retain = 1)
    val resumed = drain()
    assert(resumed.map(_.getAs[Int]("v")).distinct.sorted === Seq(2, 3), s"$resumed")
    assert(resumed.count(_.getAs[String]("change_type").startsWith("update_")) === 2)
    // a FRESH lineage consumer of a table whose ENTIRE history expired
    // before any changelog existed has no schema and no data to start
    // from: the load refuses by name instead of dying on parquet
    // schema inference over an empty changelog dir
    val p2 = "/tmp/graft_test/v2_lincdc_dataloss_fresh"
    rmdir(p2)
    LakeTable.overwrite(Seq((1L, 1.0)).toDF("k", "x"), p2) // v0
    LakeTable.enableRowLineage(spark, p2) // v1
    LakeTable.append(Seq((2L, 2.0)).toDF("k", "x"), p2) // v2
    LakeTable.expireSnapshots(spark, p2, retain = 1) // no changelog dir: gap forms
    val e = intercept[IllegalStateException] {
      spark.readStream.format("graftlake").option("changeFeed", "lineage").load(p2)
    }
    assert(e.getMessage.contains("lineage changeFeed") &&
      e.getMessage.contains("materializable change-data") &&
      e.getMessage.contains("expire"), e.getMessage)
  }

  test("runtime V2 filtering: a broadcast join's dim keys prune fact FILES at execution") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_dpp"
    rmdir(p)
    // 4 range-clustered files on k: [0,100) [100,200) [200,300) [300,400)
    val fact = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    LakeTable.overwrite(fact.repartitionByRange(4, col("k")).sortWithinPartitions("k"), p)
    // a FILE-BACKED dim with a SELECTIVE filter — what plants the
    // dynamic-pruning subquery (a local Seq would constant-fold the
    // filter into a LocalRelation and no DPP is planted); the
    // surviving keys all land in ONE fact file's range
    val dimPath = s"$p/_dim"
    (Seq((10L, "a"), (20L, "b"), (30L, "c")) ++
      Seq((150L, "zz"), (250L, "zz"), (350L, "zz"))).toDF("k", "name")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = v2(p).join(broadcast(dim).filter(col("name").isin("a", "b", "c")), "k")
    val rows = joined.collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[Double]("v")).sorted.toSeq === Seq(20.0, 40.0, 60.0))
    // the executed scan read ONLY the file whose [min,max] admits the
    // dim's key range — runtime filtering re-planned the manifests
    val files = planNodes(joined).collect { case b: BatchScanExec =>
      b.inputRDD.partitions.collect {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions.collect {
            case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
          }.flatten
      }.flatten.toSeq
    }.flatten
    assert(files.distinct.size === 1,
      s"dim keys [10,30] fit one fact file; runtime filter must prune to it: $files")
  }

  test("row-assembly snapshots LIFT onto the library read: MoR, renames, mixed layouts") {
    import spark.implicits._
    // merge-on-read snapshot: the file-level scan cannot apply the
    // delete file (planV2 still refuses at the scan layer — spec'd
    // below), but the V2 READ surface now lifts onto the library plan
    // (round 14) and serves the post-delete rows; compact folds the
    // state and reads return to the plain V2 scan
    val p1 = "/tmp/graft_test/v2_refuse_mor"
    rmdir(p1)
    LakeTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), p1)
    LakeTable.deleteMoR(spark, p1, "k", col("k") === 1L)
    assert(v2(p1).collect().map(_.getLong(0)).toSeq === Seq(2L),
      "the lifted read must apply the live equality delete")
    LakeTable.compact(spark, p1)
    assert(v2(p1).collect().map(_.getLong(0)).toSeq === Seq(2L))
    // rename: per-file projection is a library-read feature — lifted
    val p2 = "/tmp/graft_test/v2_refuse_rename"
    rmdir(p2)
    LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), p2)
    LakeTable.renameColumn(spark, p2, "s", "label")
    assert(v2(p2).columns.toSeq === Seq("k", "label"))
    assert(v2(p2).head.getString(1) === "a",
      "the lifted read must serve the renamed column from old files")
    LakeTable.compact(spark, p2)
    assert(v2(p2).columns.toSeq === Seq("k", "label"))
    assert(v2(p2).head.getString(1) === "a")
    // hive + unpartitioned commits in one snapshot — lifted too
    val p3 = "/tmp/graft_test/v2_refuse_mixed"
    rmdir(p3)
    val d3 = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "tag", "v")
    LakeTable.overwritePartitioned(d3, p3, "tag")
    LakeTable.append(d3, p3)
    assert(v2(p3).collect().length === 4,
      "the lifted read must union both layouts")
    // (the scan layer's own refusal contract is unchanged — planV2
    // still names the lifting fold; it is simply unreachable from a
    // session with GraftExtensions, where the lift serves instead)
  }

  test("a partial hive-layout manifest lifts onto the library read") {
    import spark.implicits._
    val p = "/tmp/graft_test/v2_partial_hive"
    rmdir(p)
    // one large file under year=2020, two small ones under year=2021
    val big = (0L until 20000L).map(k => (k, 2020, k * 1.5)).toDF("k", "year", "v")
      .coalesce(1)
    val small = (20000L until 20010L).map(k => (k, 2021, k * 1.5)).toDF("k", "year", "v")
      .repartition(2)
    LakeTable.overwritePartitioned(big.union(small), p, "year")
    // binpack folds the two small files into a plain commit dir and
    // re-manifests the large one as a PARTIAL hive-layout manifest;
    // deleting the folded rows leaves that partial manifest alone
    LakeTable.compactSmall(spark, p, 50000L)
    LakeTable.delete(spark, p, col("year") === 2021)
    val v = LakeTable.latestVersion(p).get
    val refs = LakeTable.listRefs(p, v).filter(_.nFiles > 0)
    assert(refs.size === 1 && refs.head.partial,
      s"the snapshot must be one partial hive-layout manifest: $refs")
    val want = LakeTable.read(spark, p).select("k", "year", "v").orderBy("k")
      .collect().toSeq
    assert(want.size === 20000)
    assert(spark.sql(s"SELECT k, year, v FROM graftlake.`$p`").orderBy("k")
      .collect().toSeq === want)
    assert(v2(p).select("k", "year", "v").orderBy("k").collect().toSeq === want)
  }
}

