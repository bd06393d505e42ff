package graft

import graft.sources.LakeTable
import graft.sources.LakeTable.PartitionTransform
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg-v3 ROW LINEAGE (S10d): durable `_row_id` per row plus
  * `_last_updated_sequence_number`, assigned at commit from the
  * table's monotone counter and PRESERVED through every supported
  * rewrite — compaction, binpack, and file-granular DELETE/UPDATE
  * (an UPDATE keeps the row's id and bumps its last-updated). */
class RowLineageSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def lineageMap(p: String): Map[Long, (Long, Long)] =
    LakeTable.readWithLineage(spark, p).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("_row_id"),
          r.getAs[Long]("_last_updated_sequence_number"))).toMap

  test("enable assigns ids to existing rows; appends take fresh spans") {
    val p = "/tmp/graft_test/rl_basic"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 100).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    assert(!LakeTable.rowLineageEnabled(p))
    LakeTable.enableRowLineage(spark, p)
    assert(LakeTable.rowLineageEnabled(p))
    LakeTable.enableRowLineage(spark, p) // idempotent
    val m0 = lineageMap(p)
    assert(m0.size === 100)
    assert(m0.values.map(_._1).toSet === (0L until 100L).toSet,
      "enable must assign a dense 0..n-1 id space")
    // plain read stays clean of lineage columns
    assert(!LakeTable.read(spark, p).columns.exists(_.startsWith("_row")))
    LakeTable.append(
      (100 until 130).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    val m1 = lineageMap(p)
    assert(m1.size === 130)
    assert(m1.filter(_._1 < 100).forall { case (k, (rid, _)) => m0(k)._1 == rid },
      "existing rows keep their ids across an append")
    assert(m1.filter(_._1 >= 100).values.map(_._1).toSet === (100L until 130L).toSet,
      "appended rows take the next contiguous span")
  }

  test("compact and binpack preserve every row's id") {
    val p = "/tmp/graft_test/rl_compact"
    SparkSpec.rmdir(p)
    (0 until 3).foreach { g =>
      LakeTable.append(
        (g * 50 until (g + 1) * 50).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
          .repartition(2), p)
    }
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    LakeTable.compact(spark, p)
    assert(lineageMap(p) === before, "compact must preserve the id of every row")
    // more small appends, then binpack
    LakeTable.append(
      (150 until 170).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    val before2 = lineageMap(p)
    LakeTable.compactSmall(spark, p, 1024L * 1024)
    assert(lineageMap(p) === before2, "binpack must preserve ids")
    // the SORT-strategy rewrite re-materializes lineage like its
    // binpack sibling: every row keeps its durable id through the
    // re-sort (round-16 S17b)
    LakeTable.setSortOrder(p, "k")
    LakeTable.rewriteSorted(spark, p)
    assert(lineageMap(p) === before2, "sort rewrite must preserve ids")
    assert(LakeTable.read(spark, p).count() === 170)
  }

  test("UPDATE keeps the row's id and bumps last-updated; others untouched") {
    val p = "/tmp/graft_test/rl_update"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 60).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    LakeTable.update(spark, p, Map("v" -> lit(-1.0)), col("k") === 7L)
    val after = lineageMap(p)
    assert(after(7L)._1 === before(7L)._1, "an UPDATE keeps the row's durable id")
    assert(after(7L)._2 > before(7L)._2, "an UPDATE bumps last-updated-sequence")
    assert(after.filter(_._1 != 7L) === before.filter(_._1 != 7L),
      "untouched rows (even co-resident in the rewritten file) keep BOTH fields")
    assert(LakeTable.read(spark, p).filter(col("k") === 7L).head.getDouble(1) === -1.0)
  }

  test("file-granular DELETE: survivors keep ids through boundary rewrite AND partial carry") {
    val p = "/tmp/graft_test/rl_delete"
    SparkSpec.rmdir(p)
    val spec = Seq(PartitionTransform("day", "identity"))
    LakeTable.overwriteHiddenPartitioned(
      (0 until 300).map(i => (i.toLong, (i % 3).toLong, i * 1.0))
        .toDF("k", "day", "v"), p, spec)
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    // aligned delete (whole partition drops metadata-only, manifest
    // partially carries) + boundary delete (survivor rewrite)
    LakeTable.delete(spark, p, col("day") === 1L)
    LakeTable.delete(spark, p, col("day") === 0L && col("k") < 30L)
    val after = lineageMap(p)
    assert(after.keySet ===
      before.keySet.filter(k => k % 3 == 2 || (k % 3 == 0 && k >= 30)))
    assert(after.forall { case (k, (rid, _)) => before(k)._1 == rid },
      "every survivor keeps its id — through metadata carry and rewrite alike")
  }

  test("MoR deletes subtract from the lineage read; ids stay put") {
    val p = "/tmp/graft_test/rl_mor"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    LakeTable.deleteMoRPositional(spark, p, col("k") < 5L)
    LakeTable.deleteMoRVector(spark, p, col("k") >= 45L)
    val after = lineageMap(p)
    assert(after.keySet === (5L until 45L).toSet)
    assert(after.forall { case (k, (rid, _)) => before(k)._1 == rid })
  }

  test("MERGE: updated rows keep ids + bump last-updated; inserts derive fresh ids") {
    val p = "/tmp/graft_test/rl_merge"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    val src = Seq((10L, -1.0), (11L, -2.0), (100L, 5.0)).toDF("k", "v")
    LakeTable.mergeConditional(
      src, p, "k",
      matched = Seq(
        LakeTable.MatchedDelete(Some(col("s.v") < -1.5)),
        LakeTable.MatchedUpdate(None, Map("v" -> col("s.v")))),
      notMatchedInsert = Some(lit(true)))
    val after = lineageMap(p)
    assert(after.keySet === ((0L until 40L).toSet - 11L + 100L))
    assert(after(10L)._1 === before(10L)._1, "MERGE UPDATE keeps the row's id")
    assert(after(10L)._2 > before(10L)._2, "MERGE UPDATE bumps last-updated")
    assert((after - 10L - 100L) === (before - 10L - 11L),
      "co-resident untouched rows keep both fields through the rewrite")
    val usedIds = before.values.map(_._1).toSet
    assert(!usedIds.contains(after(100L)._1),
      "an inserted row derives a FRESH id from the new manifest's span")
    // ids are unique after the merge
    val ids = after.values.map(_._1).toSeq
    assert(ids.distinct.size === ids.size)
  }

  test("upsert is delete+insert lineage: kept rows keep ids, replaced take fresh") {
    val p = "/tmp/graft_test/rl_upsert"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    LakeTable.upsert(Seq((1L, 9.9), (50L, 1.0)).toDF("k", "v"), p, "k")
    val after = lineageMap(p)
    assert(after.keySet === ((0L until 30L).toSet + 50L))
    assert((after - 1L - 50L).forall { case (k, (rid, _)) => before(k)._1 == rid },
      "non-colliding rows keep their ids")
    val usedIds = before.values.map(_._1).toSet
    assert(!usedIds.contains(after(50L)._1))
    val ids = after.values.map(_._1).toSeq
    assert(ids.distinct.size === ids.size, "no id reuse even for the replaced key")
  }

  test("branches adopt the counter; fast-forward takes the max") {
    val p = "/tmp/graft_test/rl_branch"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    LakeTable.createBranch(spark, p, "audit")
    val bp = LakeTable.branchPath(p, "audit")
    LakeTable.append(
      (20 until 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), bp)
    val bm = lineageMap(bp)
    assert(bm.values.map(_._1).toSet === (0L until 30L).toSet,
      "branch appends continue the adopted counter — no id collision with main")
    LakeTable.fastForward(spark, p, "audit")
    val mm = lineageMap(p)
    assert(mm === bm, "fast-forwarded main sees the branch's lineage verbatim")
    LakeTable.append(
      (30 until 35).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    assert(lineageMap(p).values.map(_._1).toSet === (0L until 35L).toSet,
      "post-fast-forward main continues past the branch's counter")
  }

  test("a partial carry's pinned ids keep every surviving row's id") {
    val p = "/tmp/graft_test/rl_distmap"
    SparkSpec.rmdir(p)
    (0 until 3).foreach { g =>
      LakeTable.append(
        (g * 40 until (g + 1) * 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
          .repartition(3), p)
    }
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    // a partial carry so explicit frid pins are in the mix too
    LakeTable.delete(spark, p, col("k") === 50L)
    val after = lineageMap(p)
    assert(after.keySet === before.keySet - 50L)
    assert(after.forall { case (k, (rid, _)) => before(k)._1 == rid },
      "the id map over pinned and derived bases must keep every surviving id")
  }

  test("lineage-aware CDC pairs updates as preimage/postimage; no-change rows silent") {
    val p = "/tmp/graft_test/rl_cdc"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p) // v0
    LakeTable.enableRowLineage(spark, p) // v1
    LakeTable.update(spark, p, Map("v" -> lit(-1.0)), col("k") === 3L) // v2
    LakeTable.delete(spark, p, col("k") === 5L) // v3
    LakeTable.append(Seq((100L, 0.5)).toDF("k", "v"), p) // v4
    val rows = LakeTable.changesWithLineage(spark, p, 1, 4).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"),
        r.getAs[Double]("v"))).toSet
    assert(rows === Set(
      ("update_preimage", 3L, 3.0), ("update_postimage", 3L, -1.0),
      ("delete", 5L, 5.0), ("insert", 100L, 0.5)),
      s"got $rows")
    // identical endpoints diff to nothing
    assert(LakeTable.changesWithLineage(spark, p, 4, 4).count() === 0)
    // pre-lineage versions refuse with the plain-diff alternative named
    val e = intercept[IllegalArgumentException] {
      LakeTable.changesWithLineage(spark, p, 0, 4)
    }
    assert(e.getMessage.contains("changes()"))
  }

  test("the files metadata table surfaces first_row_id under lineage") {
    val p = "/tmp/graft_test/rl_files"
    SparkSpec.rmdir(p)
    LakeTable.append(
      (0 until 60).map(i => (i.toLong, i * 1.0)).toDF("k", "v").repartition(3), p)
    assert(!LakeTable.files(spark, p).columns.contains("first_row_id"),
      "pre-lineage files table keeps its shape")
    LakeTable.enableRowLineage(spark, p)
    val rows = LakeTable.files(spark, p).collect()
    val frids = rows.filter(_.getAs[String]("kind") == "data")
      .map(r => Option(r.getAs[java.lang.Long]("first_row_id")).map(_.toLong))
    assert(frids.forall(_.isDefined))
    assert(frids.flatten.toSet.contains(0L), "one file starts the span at 0")
    // spans must tile [0, 60): sorted bases are cumulative counts
    assert(frids.flatten.sorted.zip(Seq(0L, 20L, 40L)).forall(t => t._1 == t._2),
      s"3 × 20-row files must tile the span: ${frids.flatten.sorted.toSeq}")
  }

  test("concurrent appends never collide id spans (rebase re-reads the counter)") {
    val p = "/tmp/graft_test/rl_concurrent"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(Seq((0L, 0.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val writes = (1 to 6).map { i =>
      scala.concurrent.Future {
        LakeTable.append(
          (i * 100 until i * 100 + 10).map(j => (j.toLong, j * 1.0)).toDF("k", "v"), p)
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(writes),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    val m = lineageMap(p)
    assert(m.size === 61)
    val ids = m.values.map(_._1).toSeq
    assert(ids.distinct.size === ids.size,
      "racing appends must take DISJOINT id spans through the rebase loop")
    assert(ids.toSet === (0L until 61L).toSet,
      "rebased spans stay dense — the counter is re-read per attempt")
  }

  test("action-granular last-updated: a duplicate-keyed sibling the clause skipped keeps its value") {
    val p = "/tmp/graft_test/rl_dupkey"
    SparkSpec.rmdir(p)
    // duplicate TARGET keys are legal (only source dupes are refused)
    LakeTable.overwrite(
      Seq((1L, 1.0), (1L, 10.0), (2L, 2.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    LakeTable.mergeConditional(
      Seq((1L, 0.0)).toDF("k", "v"), p, "k",
      matched = Seq(LakeTable.MatchedUpdate(
        Some(col("t.v") > 5.0), Map("v" -> lit(99.0)))))
    val rows = LakeTable.readWithLineage(spark, p).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v")) ->
        r.getAs[Long]("_last_updated_sequence_number")).toMap
    assert(rows((1L, 99.0)) > 0L, "the row the clause FIRED on must bump")
    assert(rows((1L, 1.0)) === 0L,
      "the duplicate-keyed sibling the clause skipped must keep its last-updated")
    assert(rows((2L, 2.0)) === 0L)
  }

  test("nondeterministic MERGE clause expressions refuse up front") {
    val p = "/tmp/graft_test/rl_ndmerge"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(Seq((1L, 1.0)).toDF("k", "v"), p)
    val e = intercept[IllegalArgumentException] {
      LakeTable.mergeConditional(
        Seq((1L, 0.0)).toDF("k", "v"), p, "k",
        matched = Seq(LakeTable.MatchedUpdate(
          Some(rand() < 0.5), Map("v" -> lit(0.0)))))
    }
    assert(e.getMessage.contains("nondeterministic"), e.getMessage)
    intercept[IllegalArgumentException] {
      LakeTable.mergeConditionalMoR(
        Seq((1L, 0.0)).toDF("k", "v"), p, "k",
        matched = Seq(LakeTable.MatchedDelete(Some(rand() < 0.5))))
    }
  }

  test("an emptied table keeps the lineage contract; CDC against it is one-sided") {
    val p = "/tmp/graft_test/rl_empty"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p) // v0
    LakeTable.enableRowLineage(spark, p) // v1
    LakeTable.delete(spark, p, lit(true)) // v2: drops every file
    val empty = LakeTable.readWithLineage(spark, p)
    assert(empty.columns.contains("_row_id") &&
      empty.columns.contains("_last_updated_sequence_number"),
      "the lineage read must honor its column contract even when empty")
    assert(empty.count() === 0)
    val deletes = LakeTable.changesWithLineage(spark, p, 1, 2).collect()
    assert(deletes.length === 10 &&
      deletes.forall(_.getAs[String]("change_type") == "delete"),
      "diffing a full version against an emptied one is all deletes")
  }

  test("time travel serves the lineage as of the version") {
    val p = "/tmp/graft_test/rl_tt"
    SparkSpec.rmdir(p)
    LakeTable.overwrite(
      (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p) // v1
    val v1 = LakeTable.latestVersion(p).get
    LakeTable.delete(spark, p, col("k") < 5L) // v2
    assert(LakeTable.readWithLineage(spark, p, Some(v1)).count() === 10)
    assert(LakeTable.readWithLineage(spark, p).count() === 5)
    // pre-enable versions refuse honestly
    val e = intercept[IllegalArgumentException] {
      LakeTable.readWithLineage(spark, p, Some(0))
    }
    assert(e.getMessage.contains("not enabled"))
  }

  test("URI-scheme manifest entries keep the lineage pairing (scheme-agnostic join key)") {
    // On an object store both the scan's `_metadata.file_path` and the
    // manifest entries are scheme-qualified URIs; locally the entries
    // are plain paths while the scan reports file:///p. The lineage
    // join must pair them whatever mix of forms the two layers carry —
    // simulate the worst case by rewriting a live manifest's entries
    // to file://-prefixed URIs and asserting every id is unchanged.
    val p = "/tmp/graft_test/rl_scheme"
    SparkSpec.rmdir(p)
    LakeTable.append(
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v").repartition(2), p)
    LakeTable.append(
      (40 until 60).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), p)
    LakeTable.enableRowLineage(spark, p)
    val before = lineageMap(p)
    assert(before.size === 60)
    val v = LakeTable.latestVersion(p).get
    val manifests = LakeTable.listRefs(p, v).filter(_.kind == "data").map(_.manifest)
    assert(manifests.nonEmpty)
    val rewritten = manifests.filter(_.endsWith(".json")).map { m =>
      val mp = java.nio.file.Paths.get(m)
      val lines = java.nio.file.Files.readAllLines(mp)
      val out = new java.util.ArrayList[String]()
      lines.forEach(l => out.add(l.replace("\"file\":\"/", "\"file\":\"file:///")))
      java.nio.file.Files.write(mp, out)
      m
    }
    assert(rewritten.nonEmpty, "fixture requires at least one JSON manifest")
    assert(lineageMap(p) === before,
      "a scheme-qualified manifest entry must pair with the same scan rows " +
        "and derive the same ids as its plain-path form")
  }
}
