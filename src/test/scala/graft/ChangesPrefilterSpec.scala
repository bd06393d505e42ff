package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FILE-DELTA PREFILTER for the snapshot diffs (round 11): `changes`
  * and `changesWithLineage` restrict both endpoint reads AT PLAN TIME
  * to the files that changed between the versions — a carried file
  * serves the identical row multiset on both sides and cancels in the
  * diff, so pruning it is exact. These specs pin (a) the pruning is
  * visible in the scan's input files, (b) a one-sided row-level
  * delete pulls its TARGET files back into the diff, (c) the guard
  * (equality-delete drift) falls back to the full diff with identical
  * answers. */
class ChangesPrefilterSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def dataFiles(p: String, v: Int): Set[String] =
    LakeTable.read(spark, p, Some(v)).inputFiles.toSet

  test("append-only churn: the diff scans ONLY the appended file") {
    val p = "/tmp/graft_test/cp_append"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(4), p) // v0: 4 carried files
    LakeTable.append(
      (100 until 110).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(1), p) // v1: 1 new file
    val carried = dataFiles(p, 0)
    val ch = LakeTable.changes(spark, p, 0, 1)
    val rows = ch.collect()
    assert(rows.length === 10 &&
      rows.forall(_.getAs[String]("change_type") == "insert"),
      "append-only diff is exactly the appended rows")
    val scanned = ch.inputFiles.toSet
    assert(scanned.intersect(carried).isEmpty,
      s"carried files must not be LISTED in the diff's scan: " +
        s"${scanned.intersect(carried)}")
    assert(scanned.nonEmpty, "the appended file itself must be scanned")
  }

  test("a one-sided position delete pulls its target file back in") {
    val p = "/tmp/graft_test/cp_posdel"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(4), p) // v0
    val target = LakeTable.read(spark, p, Some(0))
      .filter(col("k") === 7L).select(input_file_name()).head().getString(0)
    LakeTable.deleteMoRPositional(spark, p, col("k") === 7L) // v1
    val ch = LakeTable.changes(spark, p, 0, 1)
    val rows = ch.collect()
    assert(rows.map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("k"))).toSet === Set(("delete", 7L)),
      "the posdel diff is exactly the deleted row")
    // the data-file sets are identical across the versions; the churn
    // is the posdel's TARGET file — every other data file stays out
    val scannedData = ch.inputFiles.toSet.intersect(dataFiles(p, 0))
    assert(scannedData === Set(target),
      s"only the delete's target data file may be scanned: $scannedData")
  }

  test("equality-delete drift refuses the prefilter; answers unchanged") {
    val p = "/tmp/graft_test/cp_eqguard"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(3), p) // v0
    LakeTable.deleteMoR(spark, p, "k", col("k") === 11L) // v1: equality delete
    val rows = LakeTable.changes(spark, p, 0, 1).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"))).toSet
    assert(rows === Set(("delete", 11L)),
      s"full-diff fallback under equality-delete drift stays exact: $rows")
  }

  test("a multi-file churn prefilters to exactly the model's rows") {
    val p = "/tmp/graft_test/cp_threshold"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(4), p) // v0
    LakeTable.append(
      (100 until 104).map(i => (i.toLong, 9.9)).toDF("k", "v")
        .repartition(2), p) // v1: 2-file churn
    val pruned = LakeTable.changes(spark, p, 0, 1).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"))).toSet
    val want = (100L until 104L).map(("insert", _)).toSet
    assert(pruned === want, s"prefiltered diff must equal the model: $pruned")
  }

  test("a big table with small churn STILL prefilters past the threshold") {
    val p = "/tmp/graft_test/cp_bigtable"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 80).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(8), p) // v0: 8 carried files
    LakeTable.append(Seq((500L, 5.5)).toDF("k", "v"), p) // v1: 1-file churn
    val carried = dataFiles(p, 0)
    // the table holds 9 live files, the churn 1: the diff prunes to it
    val ch = LakeTable.changes(spark, p, 0, 1)
    val rows = ch.collect()
    assert(rows.map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("k"))).toSet === Set(("insert", 500L)))
    assert(ch.inputFiles.toSet.intersect(carried).isEmpty,
      "carried files must stay out of the scan")
  }

  test("posdel into a carried file on a past-threshold table: one metadata job") {
    val p = "/tmp/graft_test/cp_bigposdel"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 80).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(8), p) // v0: 8 files
    val target = LakeTable.read(spark, p, Some(0))
      .filter(col("k") === 42L).select(input_file_name()).head().getString(0)
    LakeTable.deleteMoRPositional(spark, p, col("k") === 42L) // v1
    val ch = LakeTable.changes(spark, p, 0, 1)
    val rows = ch.collect()
    assert(rows.map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("k"))).toSet === Set(("delete", 42L)))
    // the target sits in a SHARED manifest, so the entry lookup
    // searches every live manifest — the scan must still restrict to
    // the target file
    val scannedData = ch.inputFiles.toSet.intersect(dataFiles(p, 0))
    assert(scannedData === Set(target),
      s"the churn lookup must isolate the target: $scannedData")
  }

  test("lineage diff scans only the rewritten file's two vintages") {
    val p = "/tmp/graft_test/cp_lineage"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(3), p) // v0
    LakeTable.enableRowLineage(spark, p) // v1
    val old = LakeTable.read(spark, p, Some(1))
      .filter(col("k") === 4L).select(input_file_name()).head().getString(0)
    LakeTable.update(spark, p, Map("v" -> lit(-1.0)), col("k") === 4L) // v2
    val ch = LakeTable.changesWithLineage(spark, p, 1, 2)
    val rows = ch.collect().map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet
    assert(rows === Set(
      ("update_preimage", 4L, 4.0), ("update_postimage", 4L, -1.0)),
      s"got $rows")
    // the two untouched v1 files are carried into v2 — neither vintage
    // of the diff may list them (manifest/metadata parquet may appear;
    // the assertion is over DATA files only)
    val untouched = dataFiles(p, 1) - old
    val scanned = ch.inputFiles.toSet
    assert(scanned.intersect(untouched).isEmpty,
      s"carried data files leaked into the lineage diff: " +
        s"${scanned.intersect(untouched)}")
    assert(scanned.contains(old),
      "the rewritten file's OLD vintage must be scanned for the preimage")
  }

  test("lineage diff prefilters past the plan threshold (distributed id map)") {
    val p = "/tmp/graft_test/cp_biglineage"
    SparkSpec.rmdir(p)
    // 8 one-file MANIFESTS (separate appends): an update into a
    // 1-file manifest churns 2 entries, and the id map spans all 8
    (0 until 8).foreach { g =>
      LakeTable.append(
        (g * 10 until (g + 1) * 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
          .repartition(1), p)
    }
    LakeTable.enableRowLineage(spark, p) // v8
    val old = LakeTable.read(spark, p, Some(8))
      .filter(col("k") === 11L).select(input_file_name()).head().getString(0)
    LakeTable.update(spark, p, Map("v" -> lit(-5.0)), col("k") === 11L) // v9
    val ch = LakeTable.changesWithLineage(spark, p, 8, 9)
    val rows = ch.collect().map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet
    assert(rows === Set(
      ("update_preimage", 11L, 11.0), ("update_postimage", 11L, -5.0)),
      s"got $rows")
    val untouched = dataFiles(p, 8) - old
    val scanned = ch.inputFiles.toSet
    assert(scanned.intersect(untouched).isEmpty,
      s"carried data files leaked into the lineage diff: " +
        s"${scanned.intersect(untouched)}")
  }

  test("appendsBetween serves exactly the appended rows, never lists old files") {
    val p = "/tmp/graft_test/cp_incappend"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(2), p) // v0
    LakeTable.append(
      (100 until 110).map(i => (i.toLong, 1.0)).toDF("k", "v"), p) // v1
    LakeTable.append(
      (200 until 205).map(i => (i.toLong, 2.0)).toDF("k", "v"), p) // v2
    val inc = LakeTable.appendsBetween(spark, p, 0, 2)
    assert(inc.collect().map(_.getAs[Long]("k")).toSet ===
      ((100L until 110L) ++ (200L until 205L)).toSet)
    assert(inc.inputFiles.toSet.intersect(dataFiles(p, 0)).isEmpty,
      "v0 files must not be listed")
    // half-open semantics: (1, 2] is just the second append
    assert(LakeTable.appendsBetween(spark, p, 1, 2).collect()
      .map(_.getAs[Long]("k")).toSet === (200L until 205L).toSet)
    // empty range: schema-ful empty
    val e = LakeTable.appendsBetween(spark, p, 2, 2)
    assert(e.columns.toSeq === Seq("k", "v") && e.count() === 0)
    // any non-append in range refuses by name and points at changes()
    LakeTable.delete(spark, p, col("k") === 100L) // v3
    val ex = intercept[IllegalArgumentException](
      LakeTable.appendsBetween(spark, p, 0, 3))
    assert(ex.getMessage.contains("changes()") && ex.getMessage.contains("v3"))
    // ranges that stop BEFORE the delete still serve
    assert(LakeTable.appendsBetween(spark, p, 0, 2).count() === 15)
  }

  test("zero-churn endpoints diff to an empty, schema-ful frame") {
    val p = "/tmp/graft_test/cp_zero"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p) // v0
    // a pure metadata commit: refuted-everywhere delete carries refs
    LakeTable.delete(spark, p, col("k") === 999L) // v1: no rows match
    val ch = LakeTable.changes(spark, p, 0, 1)
    assert(ch.columns.toSet === Set("k", "v", "change_type"))
    assert(ch.count() === 0, "a carry-forward commit changes nothing")
  }
}
