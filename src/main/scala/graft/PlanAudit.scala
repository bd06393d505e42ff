package graft

/** Dev utility: one-line physical-plan red-flag summary per query —
  * exchange count, join strategies, cartesian products, codegen spans.
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        val flags = Seq(
          "xchg" -> n("Exchange "),
          "bhj" -> n("BroadcastHashJoin"),
          "smj" -> n("SortMergeJoin"),
          "bnlj" -> n("BroadcastNestedLoopJoin"),
          "cart" -> n("CartesianProduct"),
          "wsc" -> n("WholeStageCodegen"),
          "sort" -> n("Sort "),
          "window" -> n("Window"))
          .filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(f"[audit] $name%-26s $flags")
      } catch { case e: Throwable => println(s"[audit] $name FAILED: ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
