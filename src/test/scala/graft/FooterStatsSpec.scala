package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Footer-based manifest stats (round-16 optimization): a commit's
  * per-file min/max/row-count now comes from the parquet footers the
  * write already produced instead of a second full-data aggregation
  * job. These tests pin equivalence against an in-test replay of the
  * old aggregation semantics over a torture frame — nulls, NaN, ±Inf,
  * |long| > 2^53, decimals of every physical width, and non-numeric
  * columns that must stay statless — plus the distributed fan-out
  * branch past the driver bound. */
class FooterStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** The OLD collectStats semantics, replayed per file via one Spark
    * aggregation: numeric columns' (min, max) with NaN/±Inf/all-null
    * dropping; used as the expected side. Bounds come back raw (not
    * ulp-widened) — the test widens with the same rules inline. */
  private def aggStats(files: Seq[String], numCols: Seq[String])
      : Map[String, (Map[String, (Any, Any)], Long)] = {
    val df = spark.read.parquet(files: _*)
    val aggs = count(lit(1)).as("__rows") +: numCols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val file = java.net.URI.create(r.getAs[String]("__file")).getPath
        val st = numCols.flatMap { c =>
          (Option(r.getAs[Any](s"__mn_$c")), Option(r.getAs[Any](s"__mx_$c"))) match {
            case (Some(mn), Some(mx)) => Some(c -> (mn, mx))
            case _ => None
          }
        }.toMap
        file -> (st, r.getAs[Long]("__rows"))
      }.toMap
  }

  private def lo(v: Any): Double = v match {
    case l: java.lang.Long if math.abs(l.longValue) > (1L << 53) =>
      Math.nextDown(l.doubleValue)
    case d: java.math.BigDecimal => Math.nextDown(d.doubleValue)
    case n: java.lang.Number => n.doubleValue
  }
  private def hi(v: Any): Double = v match {
    case l: java.lang.Long if math.abs(l.longValue) > (1L << 53) =>
      Math.nextUp(l.doubleValue)
    case d: java.math.BigDecimal => Math.nextUp(d.doubleValue)
    case n: java.lang.Number => n.doubleValue
  }
  private def nan(v: Any): Boolean = v match {
    case d: java.lang.Double => d.isNaN
    case f: java.lang.Float  => f.isNaN
    case _ => false
  }

  test("footer stats equal the aggregation-job stats on a torture frame") {
    val p = "/tmp/graft_test/footer_stats_eq"
    SparkSpec.rmdir(p)
    val n = 4000
    val df = spark.range(n).select(
      col("id").as("k"),
      (col("id") % 1000).cast("int").as("i32"),
      // longs straddling the 2^53 double-exactness boundary
      (col("id") * 1000000L + lit(9007199254740993L)).as("big"),
      col("id").cast("float").as("f32"),
      (col("id") * 1.5 - 700.0).as("d64"),
      col("id").cast("decimal(9,2)").as("dec9"),
      col("id").cast("decimal(18,4)").as("dec18"),
      (col("id").cast("decimal(24,6)") * lit(-3)).as("dec24"),
      when(col("id") % 3 === 0, col("id").cast("double")).as("some_null"),
      lit(null).cast("double").as("all_null"),
      to_date(lit("2020-01-01")).as("dt"),
      concat(lit("s"), col("id")).as("s"))
    LakeTable.overwrite(df.repartition(5, col("k")), p)
    val entries = LakeTable.entriesOf(p, 0)
    assert(entries.size == 5)
    val numCols = Seq("k", "i32", "big", "f32", "d64",
      "dec9", "dec18", "dec24", "some_null", "all_null")
    val expected = aggStats(entries.map(_.file), numCols)
    entries.foreach { e =>
      val (expSt, expRows) = expected(e.file)
      assert(e.rows == expRows, s"row count drift for ${e.file}")
      // exactly the columns the aggregation kept, no more, no fewer:
      // dt/s are non-numeric, all_null has no values
      assert(e.stats.keySet == expSt.keySet,
        s"stat columns ${e.stats.keySet} vs expected ${expSt.keySet}")
      expSt.foreach { case (c, (mn, mx)) =>
        assert(!nan(mn) && !nan(mx), s"$c: torture frame has no NaN here")
        assert(e.stats(c) == Seq(lo(mn), hi(mx)),
          s"$c bounds ${e.stats(c)} != (${lo(mn)}, ${hi(mx)})")
      }
    }
  }

  test("NaN and ±Inf taint their column; other columns keep stats") {
    val p = "/tmp/graft_test/footer_stats_taint"
    SparkSpec.rmdir(p)
    Seq((1L, Double.NaN, 1.0), (2L, 5.0, Double.PositiveInfinity),
        (3L, 7.0, 2.0))
      .toDF("k", "has_nan", "has_inf")
      .coalesce(1).transform(d => { LakeTable.overwrite(d, p); d })
    val st = LakeTable.entriesOf(p, 0).head.stats
    assert(!st.contains("has_nan"), "NaN-tainted column must carry no stats")
    assert(!st.contains("has_inf"), "±Inf bound must drop the column's stats")
    assert(st("k") == Seq(1.0, 3.0))
  }

  test("NaN-suppressed chunk stats taint the column across row groups") {
    // parquet-mr SUPPRESSES a float/double chunk's min/max when the
    // chunk saw a NaN (hasNonNullValue=false, numNulls set) even
    // though the chunk holds real non-null values. In a multi-row-
    // group file the fold must NOT treat such a chunk as all-null:
    // the other groups' bounds would exclude real values (here
    // -1e9 hides next to the NaN) and stats-overlap pruning would
    // skip files containing matching rows.
    val p = "/tmp/graft_test/footer_stats_nan_rg"
    SparkSpec.rmdir(p)
    spark.range(4000).select(
        col("id").as("k"),
        when(col("id") === 0, Double.NaN)
          .when(col("id") === 1, -1e9)
          .otherwise(col("id") + 1000.0).as("v"),
        // padding so 4000 rows comfortably exceed the 4 KB block size
        concat_ws("", Seq.fill(9)(hex(col("id") * 31)): _*).as("pad"))
      .coalesce(1)
      .write.option("parquet.block.size", "4096").parquet(p)
    val file = new java.io.File(p).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).head
    // the scenario only exists with >1 row group and the NaN isolated
    // in the first — verify the file actually has that shape
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(file))
    import scala.jdk.CollectionConverters._
    assert(footer.getBlocks.size > 1, "test needs multiple row groups")
    val (_, stats, rows) = LakeTable.footerStatsBatch(Iterator(file)).next()
    assert(rows == 4000L)
    assert(stats("k") == Seq(0.0, 3999.0), "clean column keeps its stats")
    assert(!stats.contains("v"),
      "a NaN-suppressed chunk must taint the column even when other " +
        s"row groups carry stats (got ${stats.get("v")})")
  }

  test("footer reads build their parquet read options from the caller's conf") {
    val p = "/tmp/graft_test/footer_stats_conf"
    SparkSpec.rmdir(p)
    spark.range(10).select(col("id").as("k")).coalesce(1).write.parquet(p)
    val file = new java.io.File(p).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).head
    // the session's conf, recording every key read through it
    val read = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val conf = new org.apache.hadoop.conf.Configuration(
        spark.sessionState.newHadoopConf()) {
      override def get(name: String): String = { read.add(name); super.get(name) }
    }
    val (_, stats, rows) = LakeTable.footerStatsBatch(Iterator(file), conf).next()
    assert(rows == 10L && stats("k") == Seq(0.0, 9.0))
    // a fresh per-file Configuration would answer this key instead
    // (and re-parse core-default.xml / core-site.xml for every footer)
    assert(read.contains("parquet.strings.signed-min-max.enabled"),
      s"parquet read options must come from the caller's conf; read: $read")
  }

  test("the distributed branch past the driver bound agrees with the driver loop") {
    val p1 = "/tmp/graft_test/footer_stats_drv"
    val p2 = "/tmp/graft_test/footer_stats_dist"
    SparkSpec.rmdir(p1); SparkSpec.rmdir(p2)
    val df = spark.range(900).select(col("id").as("k"),
      (col("id") * 2.5).as("v")).repartition(6, col("k"))
    LakeTable.overwrite(df, p1)
    LakeTable.withFooterStatsDriverMax(2) { LakeTable.overwrite(df, p2) }
    def statsByRows(p: String) =
      LakeTable.entriesOf(p, 0).map(e => (e.rows, e.stats)).sortBy(_._1.toString)
    assert(statsByRows(p1).map(_._2).toSet == statsByRows(p2).map(_._2).toSet,
      "distributed footer fan-out must produce the driver loop's stats")
    assert(statsByRows(p1).map(_._1).sum == 900L)
    assert(statsByRows(p2).map(_._1).sum == 900L)
  }
}
