package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: Spark schedules concurrent jobs fine and the
    // per-query fixed cost (planning + tiny shuffles) overlaps. Results
    // are per-query parquet dirs, so there is no shared output state.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // dev-only: SPARK_GRAFT_ONLY=name1,name2 restricts the run to the
    // named queries (and their oracles) for fast single-query
    // iteration; the driver never sets it, so its gate always runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // the filter must never silently narrow the official gate: if the
    // variable leaks into the driver environment, both the outputs and
    // oracle_sql.json would cover a subset with no visible trace
    // (round-5 ADVICE) — so an active filter screams on stderr AND
    // leaves a marker file the driver (or a human) can see in outDir
    only.foreach { names =>
      System.err.println(
        s"[verify] *** SPARK_GRAFT_ONLY ACTIVE — running ${names.size} " +
          s"of ${SparkEntry.queries.size} queries: ${names.mkString(",")} — " +
          "THIS IS NOT A FULL VERIFY RUN ***")
      Files.writeString(Paths.get(s"$outDir/FILTERED_RUN"),
        names.toSeq.sorted.mkString("\n"))
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // Setup pass: build the shared materializations once-and-blocking
    // BEFORE the pool starts, so the 4 in-flight queries never race a
    // multi-second shared build (round-7 verdict #1 — the build
    // otherwise lands on whichever consumer the pool schedules first).
    if (only.isEmpty) {
      try {
        etl.Preprocess.prestageShared(spark, sfDir)
        llm.Dedup.prestageShared(spark, sfDir)
        sources.LakeTable.prestageShared(spark, sfDir)
        llm.TextAnalysis.prestageShared(spark, sfDir)
        streaming.StreamJoin.prestageShared(spark, sfDir)
        ops.Relational.prestageShared(spark, sfDir)
      } catch { case e: Throwable => System.err.println(s"[verify] prestage: $e") }
    }
    val futures = SparkEntry.queries.toSeq.filter(t => selected(t._1)).map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // a STALE output from a previous run into the same outDir
          // would let the oracle compare pass on old data and mask
          // the regression — the failure must leave no output at all
          graft.Util.rmRecursive(s"$outDir/$name")
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    // non-daemon pool: an exception here would otherwise keep the JVM
    // alive forever instead of failing the driver's step fast
    finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(t => selected(t._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
