package graft

import graft.sources.LakeTable
import graft.sources.LakeTable.PartitionTransform
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition overwrite ([[LakeTable.overwriteDynamic]] —
  * Iceberg's `replacePartitions`): replace exactly the partitions the
  * batch touches, carry the rest file-granular, and refuse every
  * shape where "the partitions the batch touches" is ambiguous. */
class DynamicOverwriteSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import SparkSpec.rmdir

  private def fresh(name: String): String = {
    val p = s"/tmp/graft_test/dynow_$name"
    rmdir(p); p
  }

  private def rows(path: String): Set[(Long, Long, Double)] = {
    LakeTable.read(spark, path)
      .select("k", "day", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  // k = id, day = identity partition key, v = payload
  private def batch(days: Seq[Long], tag: Double) = {
    import spark.implicits._
    days.flatMap(dy => (0L until 4L).map(k => (dy * 10 + k, dy, tag)))
      .toDF("k", "day", "v")
  }

  test("replaces exactly the touched partitions; untouched ones carry file-granular") {
    val p = fresh("basic")
    LakeTable.setPartitionSpec(p, Seq(PartitionTransform("day", "identity")))
    LakeTable.append(batch(Seq(0L, 1L, 2L), tag = 1.0), p)
    val v0 = LakeTable.latestVersion(p).get
    // backfill day 1 only, with fewer rows and a new payload
    import spark.implicits._
    val fix = Seq((99L, 1L, 7.0)).toDF("k", "day", "v")
    LakeTable.overwriteDynamic(fix, p)
    val expected =
      batch(Seq(0L, 2L), 1.0).as[(Long, Long, Double)].collect().toSet + ((99L, 1L, 7.0))
    assert(rows(p) == expected)
    // untouched days' FILES carried (not rewritten): v0 files survive
    val v1 = LakeTable.latestVersion(p).get
    val f0 = LakeTable.entriesOf(p, v0).map(_.file).toSet
    val f1 = LakeTable.entriesOf(p, v1).map(_.file).toSet
    assert((f0 intersect f1).nonEmpty, "untouched partitions must keep their files")
    assert((f0 -- f1).nonEmpty, "replaced partition's files must drop")
    // prior snapshot time-travels intact
    assert(LakeTable.read(spark, p, Some(v0)).count() == 12)
  }

  test("a batch spanning files inside one manifest splits it partially") {
    val p = fresh("partial")
    LakeTable.setPartitionSpec(p, Seq(PartitionTransform("day", "identity")))
    // ONE append = ONE manifest covering three day-partitions
    LakeTable.append(batch(Seq(0L, 1L, 2L), 1.0), p)
    import spark.implicits._
    LakeTable.overwriteDynamic(Seq((50L, 2L, 9.0)).toDF("k", "day", "v"), p)
    val expected =
      batch(Seq(0L, 1L), 1.0).as[(Long, Long, Double)].collect().toSet + ((50L, 2L, 9.0))
    assert(rows(p) == expected)
  }

  test("zero-row batch replaces nothing (carry-forward commit, never truncate)") {
    val p = fresh("empty")
    LakeTable.setPartitionSpec(p, Seq(PartitionTransform("day", "identity")))
    LakeTable.append(batch(Seq(0L, 1L), 1.0), p)
    val before = rows(p)
    import spark.implicits._
    LakeTable.overwriteDynamic(
      Seq.empty[(Long, Long, Double)].toDF("k", "day", "v"), p)
    assert(rows(p) == before)
  }

  test("refuses without a declared partition spec") {
    val p = fresh("nospec")
    LakeTable.append(batch(Seq(0L), 1.0), p)
    val e = intercept[IllegalArgumentException] {
      LakeTable.overwriteDynamic(batch(Seq(0L), 2.0), p)
    }
    assert(e.getMessage.contains("declared partition spec"))
  }

  test("refuses on live MoR delete manifests") {
    val p = fresh("mor")
    LakeTable.setPartitionSpec(p, Seq(PartitionTransform("day", "identity")))
    LakeTable.append(batch(Seq(0L, 1L), 1.0), p)
    LakeTable.deleteMoR(spark, p, "k", col("k") === 1L)
    val e = intercept[IllegalArgumentException] {
      LakeTable.overwriteDynamic(batch(Seq(0L), 2.0), p)
    }
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("refuses when live rows sit under a different spec; zero-row anchors pass") {
    val p = fresh("mixed")
    // rows land under bucket spec, then the declared spec changes
    LakeTable.appendHiddenPartitioned(
      batch(Seq(0L, 1L), 1.0), p, Seq(PartitionTransform("day", "bucket", 4)))
    LakeTable.setPartitionSpec(p, Seq(PartitionTransform("day", "identity")))
    val e = intercept[IllegalArgumentException] {
      LakeTable.overwriteDynamic(batch(Seq(0L), 2.0), p)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("hive-layout partition columns keep the types their directory names infer") {
    val p = fresh("hive_types")
    import spark.implicits._
    // the files record only their own columns; `day` and `code` come
    // back from the `col=value` dir names, typed by Spark's partition
    // inference exactly as before records existed
    LakeTable.overwritePartitioned(
      Seq((1L, 20240101L, "007", 1.5), (2L, 20240102L, "010", 2.5))
        .toDF("k", "day", "code", "v"), p, "day", "code")
    val back = LakeTable.read(spark, p)
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    import org.apache.spark.sql.types._
    assert(types === Map("k" -> LongType, "v" -> DoubleType,
      "day" -> IntegerType, "code" -> IntegerType))
    assert(back.select("k", "day", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet ===
      Set((1L, 20240101, 7), (2L, 20240102, 10)))
  }
}
