package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-file NDV sketches (Iceberg's Puffin-stats analogue):
  * `analyzeNdv` attaches a DataSketches HLL sketch per (data file,
  * column) to the manifests in a metadata-only commit, and
  * `approxCountDistinct` answers COUNT(DISTINCT) from the manifest
  * sketches alone — asserted here to agree BIT-FOR-BIT with SQL
  * `hll_sketch_estimate(hll_union_agg(...))` over the same per-file
  * sketches (same library, lgK, HLL_8 target), and to refuse
  * honestly when the metadata could diverge from the data. */
class NdvSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def table(p: String, parts: Int = 3): Unit = {
    SparkSpec.rmdir(p)
    // three appends → three+ files, duplicated keys across files
    (0 until parts).foreach { g =>
      val df = (0 until 4000)
        .map(i => ((i % 1500).toLong, s"u${i % 97}", (g * 4000 + i).toLong))
        .toDF("k", "user", "seqid")
      LakeTable.append(df, p)
    }
  }

  test("columnar-scale ANALYZE rewrites manifests distributed; fold answers distributed too") {
    // force the big-table ANALYZE path on honest small data: manifests
    // go columnar past 10 entries (so ANALYZE takes the distributed
    // per-manifest rewrite — driver never collects the sketches); the
    // read-side fold decodes the columnar manifests on the driver
    val p = "/tmp/graft_test/ndv_distributed"
    SparkSpec.rmdir(p)
    LakeTable.withColumnarMetaThreshold(10) {
      val df = (0 until 6000)
        .map(i => ((i % 300).toLong, s"u${i % 97}", i.toLong))
        .toDF("k", "user", "seqid")
      LakeTable.append(df.repartition(30), p) // 30 files > threshold
      LakeTable.append(df.limit(100), p) // a SMALL manifest too: mixed paths
      LakeTable.analyzeNdv(spark, p, Seq("k", "user"))
      val driverFold = LakeTable.approxCountDistinct(spark, p, "k")
      val driverFoldU = LakeTable.approxCountDistinct(spark, p, "user")
      assert(driverFold == 300L, s"coupon-mode estimate must be exact: $driverFold")
      assert(driverFoldU == 97L)
      // a second ANALYZE (re-sketch) over already-sketched columnar
      // manifests must replace, not duplicate or collide
      LakeTable.analyzeNdv(spark, p, Seq("k"))
      assert(LakeTable.approxCountDistinct(spark, p, "k") === 300L)
      assert(LakeTable.approxCountDistinct(spark, p, "user") === 97L,
        "re-analyzing one column must not clobber the other's sketches")
    }
  }

  test("analyze is metadata-only; estimates honest, exact in coupon mode") {
    val p = "/tmp/graft_test/ndv_basic"
    table(p)
    val v0 = LakeTable.latestVersion(p).get
    val before = LakeTable.entriesOf(p, v0).map(_.file).toSet
    LakeTable.analyzeNdv(spark, p, Seq("k", "user"))
    val v1 = LakeTable.latestVersion(p).get
    assert(LakeTable.entriesOf(p, v1).map(_.file).toSet == before,
      "ANALYZE must not write or drop any data file")
    val est = LakeTable.approxCountDistinct(spark, p, "k")
    val estUser = LakeTable.approxCountDistinct(spark, p, "user")
    // an HONEST estimate of the exact NDV (1500 / 97); `user` (97 ≪
    // 512) is still in exact coupon mode, so its estimate IS exact
    assert(math.abs(est - 1500.0) / 1500.0 < 0.05, s"k estimate $est vs 1500")
    assert(estUser == 97L, s"coupon-mode estimate must be exact, got $estUser")
  }

  /** The interchangeability contract at REGISTER-mode cardinality:
    * the driver-side manifest fold returns bit-for-bit what SQL
    * `hll_sketch_estimate(hll_union_agg(...))` says over the same
    * per-file sketch bytes. (A directly-built whole-column sketch
    * may differ ~1σ — merged sketches estimate through the composite
    * estimator, direct ones through HIP; both are honest.) */
  test("driver union == SQL hll_union_agg over the manifest sketches") {
    val p = "/tmp/graft_test/ndv_union"
    SparkSpec.rmdir(p)
    val df = (0 until 120000).map(i => (i.toLong, "x")).toDF("k", "pad")
    LakeTable.append(df.filter(col("k") % 2 === 0), p)
    LakeTable.append(df.filter(col("k") % 2 =!= 0), p)
    LakeTable.analyzeNdv(spark, p, Seq("k"))
    val est = LakeTable.approxCountDistinct(spark, p, "k")
    val v = LakeTable.latestVersion(p).get
    val sketches = LakeTable.entriesOf(p, v).flatMap { e =>
      e.bloom.collectFirst { case (key, len +: packed) if key.startsWith("ndv:") =>
        packed.take(len.toInt).map(_.toByte).toArray }
    }
    val sqlUnion = sketches.toDF("sk")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head.getLong(0)
    assert(est == sqlUnion, s"driver fold $est != hll_union_agg $sqlUnion")
    assert(math.abs(est - 120000.0) / 120000.0 < 0.05, s"estimate $est vs 120000")
  }

  test("a post-ANALYZE append refuses until re-analyzed") {
    val p = "/tmp/graft_test/ndv_append"
    table(p)
    LakeTable.analyzeNdv(spark, p, Seq("k"))
    LakeTable.append(Seq((9999L, "x", 0L)).toDF("k", "user", "seqid"), p)
    val e = intercept[IllegalArgumentException] {
      LakeTable.approxCountDistinct(spark, p, "k")
    }
    assert(e.getMessage.contains("no NDV sketch"))
    LakeTable.analyzeNdv(spark, p, Seq("k"))
    val est = LakeTable.approxCountDistinct(spark, p, "k")
    assert(math.abs(est - 1501.0) / 1501.0 < 0.05)
  }

  test("merge-on-read deletes refuse, naming the kind; compaction clears it") {
    val p = "/tmp/graft_test/ndv_mor"
    table(p)
    LakeTable.analyzeNdv(spark, p, Seq("k"))
    LakeTable.deleteMoR(spark, p, "k", col("k") < 500L)
    val e = intercept[IllegalArgumentException] {
      LakeTable.approxCountDistinct(spark, p, "k")
    }
    assert(e.getMessage.contains("merge-on-read") && e.getMessage.contains("delete"))
    LakeTable.compact(spark, p)
    LakeTable.analyzeNdv(spark, p, Seq("k"))
    val est = LakeTable.approxCountDistinct(spark, p, "k")
    assert(math.abs(est - 1000.0) / 1000.0 < 0.05, s"post-compact estimate $est")
  }

  test("an unanalyzed column refuses by name; all-null columns estimate 0") {
    val p = "/tmp/graft_test/ndv_cols"
    SparkSpec.rmdir(p)
    LakeTable.append(
      (0 until 100).map(i => (i.toLong, null: String)).toDF("k", "s"), p)
    LakeTable.analyzeNdv(spark, p, Seq("s"))
    assert(LakeTable.approxCountDistinct(spark, p, "s") == 0L)
    val e = intercept[IllegalArgumentException] {
      LakeTable.approxCountDistinct(spark, p, "k")
    }
    assert(e.getMessage.contains("no NDV sketch"))
  }
}
