package graft

/** Dev utility: print the formatted physical plan (and optionally time
  * a noop-write execution) of one named query from SparkEntry.
  * Usage: runMain graft.Explain <queryName> [sfDir] [--run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1) else "/root/testdata/sf0.1"
    val run = args.contains("--run")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    // comma-separated names: one JVM amortizes across a plan-dump
    // sweep (plans/rN evidence); each query's plan is delimited
    name.split(",").map(_.trim).filter(_.nonEmpty).filter(_ != name).foreach { n =>
      println(s"=== $n ===")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    if (name.contains(",")) { spark.stop(); return }
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (run) {
      // run twice: first pass pays JIT/codegen/footer warmup, second
      // approximates the warm in-bench timing
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[explain] $name noop-write #$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
