package graft

import graft.sources.LakeTable
import graft.sources.LakeTable.PartitionTransform
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `add_files` (S12a): Iceberg's metadata-only import of existing
  * parquet into a lake table. The entries ride a PARTIAL manifest
  * with the external dir as each entry's base — the consolidated-
  * manifest shape every consumer already handles — so reads,
  * time travel, lineage, and GC compose without new machinery.
  * Ownership TRANSFERS (the Iceberg contract): expire GC deletes
  * imported files in place once no live snapshot references them. */
class AddFilesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"/tmp/graft_test/addf_$tag"
    SparkSpec.rmdir(p); p
  }

  private def extDir(tag: String, ids: Range): String = {
    val d = fresh(s"${tag}_src")
    ids.map(i => (i.toLong, s"g${i % 3}", i * 1.5)).toDF("k", "g", "v")
      .write.parquet(d)
    d
  }

  private def mkTable(tag: String, ids: Range): String = {
    val p = fresh(tag)
    LakeTable.overwrite(
      ids.map(i => (i.toLong, s"g${i % 3}", i * 1.5)).toDF("k", "g", "v"), p)
    p
  }

  test("import reads in place, time travel excludes it, count pushdown serves") {
    val p = mkTable("basic", 0 until 50)
    val ext = extDir("basic", 50 until 80)
    val v = LakeTable.addFiles(spark, p, ext)
    assert(v === 1)
    val out = LakeTable.read(spark, p)
    assert(out.count() === 80)
    assert(out.inputFiles.exists(_.contains("addf_basic_src")),
      "the scan must list imported files in place")
    assert(LakeTable.read(spark, p, Some(0)).count() === 50,
      "v0 predates the import")
    // the stats job populated per-file rows → metadata count serves
    assert(out.agg(sum("k")).head().getLong(0) === (0L until 80L).sum)
    // the import's dir lives outside the table: the engine records no
    // schema there, and its files read by footer inference
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ext, "_graft_schema.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      LakeTable.entriesOf(p, 0).head.base, "_graft_schema.json")))
    assert(out.schema.fieldNames.toSeq === Seq("k", "g", "v"))
  }

  test("ownership transfers: expire GC deletes imported files in place") {
    val p = mkTable("own", 0 until 20)
    val ext = extDir("own", 20 until 40)
    LakeTable.addFiles(spark, p, ext) // v1
    val imported = LakeTable.read(spark, p).inputFiles
      .filter(_.contains("addf_own_src"))
      .map(f => java.net.URI.create(f).getPath)
    assert(imported.nonEmpty)
    // v2 overwrite drops the imported manifest from the live head...
    LakeTable.overwrite(Seq((99L, "g0", 0.0)).toDF("k", "g", "v"), p)
    // ...and expiring history reclaims the imported files IN PLACE
    val removed = LakeTable.expireSnapshots(spark, p, retain = 1)
    assert(imported.forall(f => removed.contains(f)),
      s"imported files must be GC'd on expire: $removed")
    assert(imported.forall(f => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(f))))
  }

  test("row lineage: imported rows take a fresh id span") {
    val p = mkTable("rl", 0 until 30)
    LakeTable.enableRowLineage(spark, p)
    val ext = extDir("rl", 30 until 45)
    LakeTable.addFiles(spark, p, ext)
    val ids = LakeTable.readWithLineage(spark, p)
      .select("_row_id").collect().map(_.getLong(0))
    assert(ids.length === 45)
    assert(ids.toSet.size === 45, "imported rows must get DISTINCT fresh ids")
  }

  test("refusals by name: schema, partitioning, constraints, nesting") {
    val p = mkTable("ref", 0 until 10)
    val wrong = fresh("ref_wrong")
    (0 until 5).map(i => (i.toLong, s"g$i")).toDF("k", "g").write.parquet(wrong)
    val e1 = intercept[IllegalArgumentException](
      LakeTable.addFiles(spark, p, wrong))
    assert(e1.getMessage.contains("schema"))

    val inside = s"$p/data/external"
    val e2 = intercept[IllegalArgumentException](
      LakeTable.addFiles(spark, p, inside))
    assert(e2.getMessage.contains("inside the table root"))

    val pc = mkTable("refc", 0 until 10)
    LakeTable.addConstraint(spark, pc, "pos", "v >= 0")
    val ext = extDir("refc", 10 until 15)
    val e3 = intercept[IllegalArgumentException](
      LakeTable.addFiles(spark, pc, ext))
    assert(e3.getMessage.contains("CHECK"))

    // duplicate import: the live version already references the files
    val pd = mkTable("refd", 0 until 10)
    val extd = extDir("refd", 10 until 15)
    LakeTable.addFiles(spark, pd, extd)
    val e5 = intercept[IllegalArgumentException](
      LakeTable.addFiles(spark, pd, extd))
    assert(e5.getMessage.contains("duplicate") ||
      e5.getMessage.contains("already referenced"))
    assert(LakeTable.read(spark, pd).count() === 15,
      "the refused re-import must not have duplicated rows")

    val pp = fresh("refp")
    LakeTable.setPartitionSpec(pp, Seq(PartitionTransform("g", "identity")))
    LakeTable.append(
      (0 until 10).map(i => (i.toLong, s"g${i % 3}", i * 1.5)).toDF("k", "g", "v"), pp)
    val e4 = intercept[IllegalArgumentException](
      LakeTable.addFiles(spark, pp, extDir("refp", 10 until 15)))
    assert(e4.getMessage.contains("partition"))
  }
}
