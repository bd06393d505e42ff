package graft

import graft.sources.LakeTable
import graft.sources.LakeTable.PartitionTransform
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-granular copy-on-write DELETE (Iceberg's delete planning):
  * untouched files carry, fully-matched files drop metadata-only,
  * and only boundary files rewrite. The semantics are covered by
  * LakeTableSpec and the model property test; THIS suite pins the
  * file-set behavior that makes the delete deployable at 100 TB. */
class FileGranularDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def files(p: String, v: Int): Set[String] =
    LakeTable.entriesOf(p, v).map(_.file).toSet

  test("partition-aligned delete writes ZERO data files (pure metadata commit)") {
    val p = "/tmp/graft_test/fgdel_aligned"
    SparkSpec.rmdir(p)
    val spec = Seq(PartitionTransform("day", "identity"))
    val df = (0 until 300)
      .map(i => (i.toLong, (i % 3).toLong, i * 1.0)).toDF("k", "day", "v")
    LakeTable.overwriteHiddenPartitioned(df, p, spec)
    val v0 = LakeTable.latestVersion(p).get
    val before = files(p, v0)
    LakeTable.delete(spark, p, col("day") === 1L)
    val v1 = LakeTable.latestVersion(p).get
    val after = files(p, v1)
    assert(after.subsetOf(before),
      s"aligned delete must not write data files; new: ${after -- before}")
    assert((before -- after).nonEmpty, "the matched day's files must drop")
    assert(LakeTable.read(spark, p).filter(col("day") === 1L).count() == 0)
    assert(LakeTable.read(spark, p).count() == 200)
  }

  test("boundary delete rewrites only the touched file; others carry") {
    val p = "/tmp/graft_test/fgdel_boundary"
    SparkSpec.rmdir(p)
    val spec = Seq(PartitionTransform("day", "identity"))
    val df = (0 until 300)
      .map(i => (i.toLong, (i % 3).toLong, i * 1.0)).toDF("k", "day", "v")
    LakeTable.overwriteHiddenPartitioned(df, p, spec)
    val v0 = LakeTable.latestVersion(p).get
    val before = files(p, v0)
    // touches SOME rows of day 2 only
    LakeTable.delete(spark, p, col("day") === 2L && col("k") < 100L)
    val v1 = LakeTable.latestVersion(p).get
    val after = files(p, v1)
    assert((before intersect after).nonEmpty, "untouched days' files must carry")
    assert((after -- before).nonEmpty, "the boundary file's survivors rewrite")
    // untouched days' files carried byte-identical (not rewritten)
    val carried = before intersect after
    assert(carried.exists(_.contains("__p_identity_day=0")) &&
      carried.exists(_.contains("__p_identity_day=1")),
      s"days 0/1 must carry as-is: $carried")
    val out = LakeTable.read(spark, p)
    assert(out.count() == 300 - 33) // k in {2,5,...,98} on day 2: 33 rows
    assert(out.filter(col("day") === 2L && col("k") < 100L).count() == 0)
  }

  test("CoW delete's survivor pass scans exactly the boundary file") {
    val p = "/tmp/graft_test/fgdel_survivor_scan"
    SparkSpec.rmdir(p)
    val nFiles = 6
    // six files in ONE commit; the string predicate implies no
    // interval, so classification cannot prune any file by stats
    val df = (0 until 600).map(i =>
      (i.toLong, if (i == 250) "hit" else "miss", i * 1.0)).toDF("k", "tag", "v")
    LakeTable.overwrite(df.repartitionByRange(nFiles, col("k")), p)
    assert(files(p, 0).size === nFiles)
    val writes = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.exists(
            _.isInstanceOf[org.apache.spark.sql.execution.command.DataWritingCommandExec]))
          writes.synchronized(writes += qe.executedPlan)
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // AQE off so the executed plan exposes FileSourceScanExec directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      LakeTable.delete(spark, p, col("tag") === "hit")
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    assert(writes.size === 1, s"one survivor write expected, got ${writes.size}")
    val scanned = writes.head.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }.sum
    assert(scanned === 1, s"the survivor pass must scan only the boundary file, scanned $scanned")
    val after = files(p, 1)
    assert((files(p, 0) -- after).size === 1 && (after -- files(p, 0)).size === 1)
    val out = LakeTable.read(spark, p)
    assert(out.count() === 599)
    assert(out.filter(col("tag") === "hit").count() === 0)
  }

  test("re-reading only an older generation's files keeps the table's columns") {
    val p = "/tmp/graft_test/fgdel_two_gen"
    // generation 0 (id, grp, v) in ONE file; generation 1 adds `w`.
    // Every statement below touches only the generation-0 file, while
    // its predicate or assignment names `w`.
    def twoGenerations(): Unit = {
      SparkSpec.rmdir(p)
      LakeTable.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("id", "grp", "v").coalesce(1), p)
      LakeTable.append(Seq((10L, "b", 10.0, 7L)).toDF("id", "grp", "v", "w"), p)
    }
    type R = (Long, String, Double, Option[Long])
    val model: Set[R] = Set((1L, "a", 1.0, None), (2L, "b", 2.0, None),
      (3L, "a", 3.0, None), (10L, "b", 10.0, Some(7L)))
    def rows(): Set[R] = LakeTable.read(spark, p).select("id", "grp", "v", "w").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    def replacedFiles(): Set[String] =
      files(p, LakeTable.latestVersion(p).get - 1) -- files(p, LakeTable.latestVersion(p).get)

    twoGenerations()
    // a string predicate implies no interval: classification spans both generations
    LakeTable.update(spark, p, Map("v" -> lit(0.0)), col("grp") === "a")
    assert(replacedFiles() === files(p, 0))
    assert(rows() === model.map { case (i, g, v, w) => (i, g, if (g == "a") 0.0 else v, w) })

    twoGenerations()
    LakeTable.delete(spark, p, col("w").isNull && col("grp") === "b")
    assert(replacedFiles() === files(p, 0))
    assert(rows() === model - ((2L, "b", 2.0, None)))

    twoGenerations()
    LakeTable.upsert(Seq((3L, "a", 30.0, 5L)).toDF("id", "grp", "v", "w"), p, "id")
    assert(replacedFiles() === files(p, 0))
    assert(rows() === model - ((3L, "a", 3.0, None)) + ((3L, "a", 30.0, Some(5L))))

    twoGenerations()
    LakeTable.mergeConditional(Seq((1L, "a", 1.0, 9L)).toDF("id", "grp", "v", "w"), p, "id",
      matched = Seq(LakeTable.MatchedUpdate(None, Map("w" -> (col("t.w") + col("s.w"))))))
    assert(replacedFiles() === files(p, 0))
    assert(rows() === model)  // NULL + 9 stays NULL
    LakeTable.mergeConditional(Seq((1L, "a", 1.0, 9L)).toDF("id", "grp", "v", "w"), p, "id",
      matched = Seq(LakeTable.MatchedUpdate(Some(col("t.w").isNull), Map("w" -> col("s.w")))))
    assert(rows() === model - ((1L, "a", 1.0, None)) + ((1L, "a", 1.0, Some(9L))))
  }

  test("a predicate refuting the newer generation can still name its columns") {
    val p = "/tmp/graft_test/fgdel_refuted_gen"
    // generation 0 (id, grp, v); generation 1 adds `w`. `id < 2`
    // implies an interval that refutes generation 1's manifest, so the
    // classification scan reads only generation 0 — which lacks `w`.
    def twoGenerations(): Unit = {
      SparkSpec.rmdir(p)
      LakeTable.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("id", "grp", "v").coalesce(1), p)
      LakeTable.append(Seq((10L, "b", 10.0, 7L)).toDF("id", "grp", "v", "w"), p)
    }
    type R = (Long, String, Double, Option[Long])
    val model: Set[R] = Set((1L, "a", 1.0, None), (2L, "b", 2.0, None),
      (3L, "a", 3.0, None), (10L, "b", 10.0, Some(7L)))
    def rows(): Set[R] = LakeTable.read(spark, p).select("id", "grp", "v", "w").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet

    twoGenerations()
    LakeTable.update(spark, p, Map("w" -> lit(5L)), col("id") < 2L)
    assert(LakeTable.auditOf(p).filesKept === 1L, s"${LakeTable.auditOf(p)}")
    assert(rows() === model - ((1L, "a", 1.0, None)) + ((1L, "a", 1.0, Some(5L))))
    assert(LakeTable.read(spark, p).columns.toSeq === Seq("id", "grp", "v", "w"))

    twoGenerations()
    LakeTable.delete(spark, p, col("id") < 2L && col("w").isNull)
    assert(rows() === model - ((1L, "a", 1.0, None)))
  }

  test("carried files keep their older MoR deletes subtracting") {
    val p = "/tmp/graft_test/fgdel_mor"
    SparkSpec.rmdir(p)
    val df = (0 until 100).map(i => (i.toLong, (i % 2).toLong, i * 1.0))
      .toDF("k", "day", "v")
    LakeTable.overwriteHiddenPartitioned(df, p,
      Seq(PartitionTransform("day", "identity")))
    LakeTable.deleteMoR(spark, p, "k", col("k") === 4L) // day-0 key, equality delete
    // CoW-delete the OTHER partition: day-0 files carry with their delete
    LakeTable.delete(spark, p, col("day") === 1L)
    val out = LakeTable.read(spark, p)
    assert(out.filter(col("k") === 4L).count() == 0,
      "carried file's equality delete must keep subtracting")
    assert(out.count() == 49) // 50 day-0 rows minus the MoR-deleted key
  }

  test("no matching rows: a carry-forward commit, nothing staged") {
    val p = "/tmp/graft_test/fgdel_none"
    SparkSpec.rmdir(p)
    LakeTable.overwrite((0 until 50).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    val v0 = LakeTable.latestVersion(p).get
    val before = files(p, v0)
    LakeTable.delete(spark, p, col("k") > 1000L)
    val v1 = LakeTable.latestVersion(p).get
    assert(files(p, v1) == before)
    assert(LakeTable.read(spark, p).count() == 50)
  }

  test("implied intervals: exact translation of conjunctive numeric shapes") {
    def iv(c: org.apache.spark.sql.Column) = LakeTable.impliedIntervals(c).toSet
    assert(iv(col("k") === 5L) == Set(("k", 5.0, 5.0)))
    assert(iv(lit(5L) === col("k")) == Set(("k", 5.0, 5.0)))
    assert(iv(col("k") > 3L && col("k") <= 9L) ==
      Set(("k", 3.0, Double.PositiveInfinity), ("k", Double.NegativeInfinity, 9.0)))
    assert(iv(lit(3L) < col("k")) == Set(("k", 3.0, Double.PositiveInfinity)))
    assert(iv(col("k").isin(7L, 2L, 4L)) == Set(("k", 2.0, 7.0)))
    assert(iv(col("day") === 1L && col("tag") === "x") == Set(("day", 1.0, 1.0)))
    // unsupported shapes contribute NOTHING (conservative): OR,
    // functions, string equality, null checks
    assert(iv(col("k") === 5L || col("k") === 9L).isEmpty)
    assert(iv(abs(col("k")) === 5L).isEmpty)
    assert(iv(col("tag") === "x").isEmpty)
    assert(iv(col("k").isNull).isEmpty)
    // NaN literals poison pruning (NaN sorts ABOVE every double in
    // Spark, but IEEE comparisons against stats refute everything):
    // they must contribute nothing, never a NaN bound
    assert(iv(col("v") <= lit(Double.NaN)).isEmpty)
    assert(iv(col("v") === lit(Double.NaN)).isEmpty)
    assert(iv(col("v").isin(5.0, Double.NaN)).isEmpty)
    // catalyst-wrapped predicates (the SQL DML rule's shape) flatten
    // to the same intervals as Column-DSL ones
    import org.apache.spark.sql.catalyst.expressions.{
      And => CAnd, AttributeReference, EqualTo => CEq, LessThan => CLt,
      Literal => CLit}
    import org.apache.spark.sql.types.LongType
    val day = AttributeReference("day", LongType)()
    val wrapped = org.apache.spark.sql.GraftSqlShim.column(
      CAnd(CEq(day, CLit(1L)), CLt(day, CLit(5L))))
    assert(iv(wrapped) ==
      Set(("day", 1.0, 1.0), ("day", Double.NegativeInfinity, 5.0)))
  }

  test("refuted-everywhere delete with MoR refs is a carry-forward commit") {
    val p = "/tmp/graft_test/fgdel_refuted_mor"
    SparkSpec.rmdir(p)
    LakeTable.overwrite((0 until 100).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.deleteMoR(spark, p, "k", col("k") === 4L)
    val before = LakeTable.listRefs(p, LakeTable.latestVersion(p).get)
      .map(_.manifest).toSet
    LakeTable.delete(spark, p, col("k") > 1000L) // interval refutes every manifest
    val after = LakeTable.listRefs(p, LakeTable.latestVersion(p).get)
      .map(_.manifest).toSet
    assert(after == before, "carry-forward must re-reference every manifest, MoR incl.")
    assert(LakeTable.read(spark, p).count() == 99)
  }

  test("pass-1 classification predicate reaches the Parquet scan (PushedFilters)") {
    val p = "/tmp/graft_test/fgdel_push"
    SparkSpec.rmdir(p)
    LakeTable.overwrite((0 until 100).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    // the planner's pass-1 shape: predicate directly on the assembled
    // scan — footer stats/dictionary skipping only fire if Catalyst
    // pushes it into the file source
    val plan = LakeTable.read(spark, p).filter(col("k") === 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,5)"),
      s"predicate must push to the scan; plan:\n$plan")
  }

  // ---- the same planner under UPDATE / upsert / MERGE ----

  private def partitionedTable(p: String): Unit = {
    SparkSpec.rmdir(p)
    val df = (0 until 300)
      .map(i => (i.toLong, (i % 3).toLong, i * 1.0)).toDF("k", "day", "v")
    LakeTable.overwriteHiddenPartitioned(df, p,
      Seq(PartitionTransform("day", "identity")))
  }

  test("UPDATE rewrites only files holding a matching row; others carry") {
    val p = "/tmp/graft_test/fgupd"
    partitionedTable(p)
    val before = files(p, LakeTable.latestVersion(p).get)
    LakeTable.update(spark, p,
      Map("v" -> (col("v") + 1000.0)), col("day") === 1L && col("k") < 50L)
    val after = files(p, LakeTable.latestVersion(p).get)
    val carried = before intersect after
    assert(carried.exists(_.contains("__p_identity_day=0")) &&
      carried.exists(_.contains("__p_identity_day=2")),
      s"untouched days' files must carry as-is: $carried")
    assert(!after.exists(f => before(f) && f.contains("__p_identity_day=1")),
      "the touched day's file must be replaced")
    val out = LakeTable.read(spark, p)
    assert(out.count() == 300)
    assert(out.filter(col("v") >= 1000.0).count() == 17) // k in {1,4,...,49} day 1
    // untouched rows of the SAME file rewrote unchanged
    assert(out.filter(col("day") === 1L && col("k") >= 50L && col("v") >= 1000.0)
      .count() == 0)
  }

  test("UPDATE with no matching rows carries every file") {
    val p = "/tmp/graft_test/fgupd_none"
    partitionedTable(p)
    val before = files(p, LakeTable.latestVersion(p).get)
    LakeTable.update(spark, p, Map("v" -> lit(0.0)), col("k") > 1000L)
    assert(files(p, LakeTable.latestVersion(p).get) == before)
    assert(LakeTable.read(spark, p).agg(sum(col("v"))).head.getDouble(0) > 0)
  }

  test("upsert rewrites only files holding a colliding key") {
    val p = "/tmp/graft_test/fgups"
    partitionedTable(p)
    val before = files(p, LakeTable.latestVersion(p).get)
    // keys 1 and 4 live on day 1; key 9999 is new
    val incoming = Seq((1L, 1L, -1.0), (4L, 1L, -4.0), (9999L, 0L, -9.0))
      .toDF("k", "day", "v")
    LakeTable.upsert(incoming, p, "k")
    val after = files(p, LakeTable.latestVersion(p).get)
    val carried = before intersect after
    assert(carried.exists(_.contains("__p_identity_day=0")) &&
      carried.exists(_.contains("__p_identity_day=2")),
      s"files without colliding keys must carry: $carried")
    val out = LakeTable.read(spark, p)
    assert(out.count() == 301)
    assert(out.filter(col("k") === 1L).head.getDouble(2) == -1.0)
    assert(out.filter(col("k") === 9999L).count() == 1)
    assert(out.filter(col("k") === 7L).head.getDouble(2) == 7.0,
      "non-colliding row of the rewritten file must survive unchanged")
  }

  test("MERGE without BY-SOURCE clauses carries unmatched files") {
    val p = "/tmp/graft_test/fgmrg"
    partitionedTable(p)
    val before = files(p, LakeTable.latestVersion(p).get)
    val src = Seq((1L, 500.0), (4L, -1.0), (8888L, 42.0)).toDF("k", "nv")
    LakeTable.mergeConditional(
      src.withColumn("day", lit(9L)).withColumn("v", col("nv")).drop("nv"),
      p, "k",
      matched = Seq(
        LakeTable.MatchedDelete(Some(col("s.v") < 0)),
        LakeTable.MatchedUpdate(None, Map("v" -> col("s.v")))),
      notMatchedInsert = Some(lit(true)))
    val after = files(p, LakeTable.latestVersion(p).get)
    val carried = before intersect after
    assert(carried.exists(_.contains("__p_identity_day=0")) &&
      carried.exists(_.contains("__p_identity_day=2")),
      s"files with no source-matched key must carry: $carried")
    val out = LakeTable.read(spark, p)
    assert(out.count() == 300)           // -1 delete (k=4) +1 insert (k=8888)
    assert(out.filter(col("k") === 4L).count() == 0)
    assert(out.filter(col("k") === 1L).head.getDouble(2) == 500.0)
    assert(out.filter(col("k") === 8888L).count() == 1)
    assert(out.filter(col("k") === 7L).head.getDouble(2) == 7.0)
  }

  test("rewritten survivors re-land under the touched files' layout") {
    val p = "/tmp/graft_test/fgdel_layout"
    partitionedTable(p)
    val before = files(p, LakeTable.latestVersion(p).get)
    LakeTable.delete(spark, p, col("day") === 2L && col("k") < 100L)
    val fresh = files(p, LakeTable.latestVersion(p).get) -- before
    assert(fresh.nonEmpty && fresh.forall(_.contains("__p_identity_day=2")),
      s"survivor rewrite must keep the hidden layout (no standing spec " +
        s"declared — inherited from the touched manifest): $fresh")
    // and the standing spec, when declared, wins for UPDATE rewrites
    LakeTable.setPartitionSpec(p, Seq(PartitionTransform("day", "identity")))
    val mid = files(p, LakeTable.latestVersion(p).get)
    LakeTable.update(spark, p, Map("v" -> lit(-1.0)), col("k") === 150L)
    val updFresh = files(p, LakeTable.latestVersion(p).get) -- mid
    assert(updFresh.nonEmpty && updFresh.forall(_.contains("__p_identity_day=0")),
      s"update rewrite must land under the standing spec: $updFresh")
    assert(LakeTable.read(spark, p).filter(col("k") === 150L).head.getDouble(2) == -1.0)
  }

  test("binpack folds WITHIN the partition layout, not across it") {
    val p = "/tmp/graft_test/fgdel_binpack"
    SparkSpec.rmdir(p)
    val spec = Seq(PartitionTransform("day", "identity"))
    // three tiny appends per layout → many sub-target files
    (0 until 3).foreach { g =>
      LakeTable.appendHiddenPartitioned(
        (0 until 60).map(i => ((g * 100 + i).toLong, (i % 3).toLong, i * 1.0))
          .toDF("k", "day", "v"), p, spec)
    }
    LakeTable.compactSmall(spark, p, 1024L * 1024)
    val files = LakeTable.entriesOf(p, LakeTable.latestVersion(p).get)
      .filter(_.kind == "data").map(_.file)
    assert(files.forall(_.contains("__p_identity_day=")),
      s"folded files must keep the hidden layout: $files")
    assert(LakeTable.read(spark, p).count() === 180)
    // pruning still works post-fold
    assert(LakeTable.readWhereBetween(spark, p, "day", 1, 1).count() === 60)
  }

  test("binpack packs toward targetBytes WITHIN a partition: oversized partitions split") {
    val p = "/tmp/graft_test/fgdel_binpack_split"
    SparkSpec.rmdir(p)
    val spec = Seq(PartitionTransform("day", "identity"))
    // four sub-target appends into ONE partition value
    (0 until 4).foreach { g =>
      LakeTable.appendHiddenPartitioned(
        (0 until 50).map(i => ((g * 1000 + i).toLong, 0L, i * 1.0))
          .toDF("k", "day", "v"), p, spec)
    }
    def dataFiles = LakeTable.entriesOf(p, LakeTable.latestVersion(p).get)
      .filter(_.kind == "data")
    val pre = dataFiles
    assert(pre.size == 4)
    val total = pre.map(_.bytes).sum
    // target fits ~2 input files per bin: every file is "small" (each
    // < target) but the partition's smalls sum to ~2 targets, so the
    // within-partition packer must emit >1 file where the old
    // one-file-per-partition fold emitted exactly 1
    LakeTable.compactSmall(spark, p, total * 2 / 3)
    val post = dataFiles
    assert(post.forall(_.file.contains("__p_identity_day=0")),
      s"folded files must keep the layout: ${post.map(_.file)}")
    assert(post.size >= 2 && post.size < pre.size,
      s"an oversized partition must split toward targetBytes, got ${post.size} files")
    assert(LakeTable.read(spark, p).count() === 200)
  }

  test("nondeterministic DELETE/UPDATE conditions are refused up front") {
    val p = "/tmp/graft_test/fgdel_nondet"
    partitionedTable(p)
    val e1 = intercept[IllegalArgumentException] {
      LakeTable.delete(spark, p, rand() < 0.5)
    }
    assert(e1.getMessage.contains("nondeterministic"))
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.update(spark, p, Map("v" -> lit(0.0)),
        col("k") > 10L && rand() < 0.5)
    }
    assert(e2.getMessage.contains("nondeterministic"))
    // deterministic ones still run
    LakeTable.delete(spark, p, col("k") === 1L)
    assert(LakeTable.read(spark, p).filter(col("k") === 1L).count() == 0)
    // UDF predicates: the UDF's own determinism flag decides (tests
    // may use udf(); main code never does)
    val nd = udf(() => scala.util.Random.nextDouble()).asNondeterministic()
    val e3 = intercept[IllegalArgumentException] {
      LakeTable.delete(spark, p, nd() < 0.5)
    }
    assert(e3.getMessage.contains("nondeterministic"))
    val det = udf((k: Long) => k == 2L)
    LakeTable.delete(spark, p, det(col("k")))
    assert(LakeTable.read(spark, p).filter(col("k") === 2L).count() == 0)
  }

  test("registered nondeterministic UDF is refused on BOTH guard surfaces") {
    val p = "/tmp/graft_test/fgdel_nondet_both"
    partitionedTable(p)
    spark.udf.register("graft_nd_probe",
      udf(() => scala.util.Random.nextDouble()).asNondeterministic())
    // DSL surface: call_udf of the registered nondet UDF — the guard
    // must consult the registry flag, not just the builtin name set
    val e1 = intercept[IllegalArgumentException] {
      LakeTable.delete(spark, p, call_udf("graft_nd_probe") < 0.5)
    }
    assert(e1.getMessage.contains("nondeterministic"))
    // SQL-string surface: same UDF through expr(...)
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.delete(spark, p, expr("graft_nd_probe() < 0.5"))
    }
    assert(e2.getMessage.contains("nondeterministic"))
    // structural-failure refusal: a call_udf target the guard cannot
    // even resolve must refuse like the SQL arm, not default to safe
    val e3 = intercept[IllegalArgumentException] {
      LakeTable.delete(spark, p, call_udf("graft_no_such_fn", col("k")) < lit(1))
    }
    assert(e3.getMessage.contains("nondeterministic"))
    // a registered DETERMINISTIC call_udf still runs on both surfaces
    spark.udf.register("graft_det_probe", udf((k: Long) => k == 3L))
    LakeTable.delete(spark, p, call_udf("graft_det_probe", col("k")))
    assert(LakeTable.read(spark, p).filter(col("k") === 3L).count() == 0)
    LakeTable.delete(spark, p, expr("graft_det_probe(k)"))
    assert(LakeTable.read(spark, p).count() > 0)
  }

  test("MERGE with a BY-SOURCE clause falls back to the full rewrite") {
    val p = "/tmp/graft_test/fgmrg_bysrc"
    partitionedTable(p)
    val src = Seq((1L, 1L, 500.0)).toDF("k", "day", "v")
    LakeTable.mergeConditional(
      src, p, "k",
      matched = Seq(LakeTable.MatchedUpdate(None, Map("v" -> col("s.v")))),
      notMatchedBySource = Seq(
        LakeTable.MatchedUpdate(Some(col("t.day") === 2L), Map("v" -> lit(-7.0)))))
    val out = LakeTable.read(spark, p)
    assert(out.count() == 300)
    assert(out.filter(col("k") === 1L).head.getDouble(2) == 500.0)
    assert(out.filter(col("day") === 2L && col("v") =!= -7.0).count() == 0,
      "every day-2 row must take the BY-SOURCE update")
    assert(out.filter(col("day") === 0L && col("k") =!= 1L && col("v") === -7.0)
      .count() == 0)
  }
}
