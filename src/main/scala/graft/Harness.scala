package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of every main (Bench, Verify,
  * ProfileQuery, Explain, PlanAudit, Fuzz), so the plan a tool shows
  * is the plan Bench times. `SPARK_GRAFT_CPUS` (default 32) sizes the
  * local master and the shuffle partitions; `extra` confs apply last. */
object Harness {
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // SCALE-ADAPTIVE partitioning (round-16 optimization, guide
      // §2.2): size post-shuffle partitions by DATA (the 64 MB
      // advisory target), not by core count — Spark's own docs
      // recommend parallelismFirst=false; the default true splits
      // kilobyte-scale shuffles into #cores tasks whose fixed
      // per-task cost (ser/deser, scheduler, codegen instance) IS the
      // cost at lifecycle scale, and at 100 TB the advisory target
      // governs identically. canChangeCachedPlanOutputPartitioning
      // lets AQE apply the same rule under persist(): cached plans
      // otherwise pin pre-AQE partition counts and every consumer
      // stage re-pays #cores empty tasks (measured: lake_apply_changes
      // 588 tasks / 94 task-seconds of pure overhead → 51 / 4.4).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
  }
}
