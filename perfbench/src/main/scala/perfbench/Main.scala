package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed op. `start`/`end` are epoch ms on the probe's clock; the
  * JVM deltas are taken around the op alone, so untimed checks between
  * ops never count. */
final class OpRec(val id: Int, val kind: String) {
  var start, end = 0.0
  var cpuMs, gcMs = 0.0
  var diskBytes = 0L
  var rows = 0L
  var error: String = null
  /** Op-specific facts taken outside the timed region (file deltas,
    * scan shape), aggregated by aggregate.py. */
  val info = mutable.LinkedHashMap.empty[String, Double]
  def ms: Double = end - start
  def ok: Boolean = error == null
  def fail(why: String): Unit = if (error == null) error = why
}

/** What one run shares with its workload: the session, the probe, the
  * seed and the op log. */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long,
    val seconds: Double, val scale: Double, val work: String) {
  val ops = ArrayBuffer.empty[OpRec]
  val warmOps = ArrayBuffer.empty[OpRec]
  val setupS = ArrayBuffer.empty[Double]
  /** Per-layer figures of the table at the end of the run (sources.metadata.*). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Set only by the benchmark's own tests: the workload corrupts its
    * output behind the engine's back once, and the check must catch it. */
  val corrupt: Boolean = sys.props.get("perfbench.corrupt").contains("1")
  /** Table bytes on disk over bytes of a compact copy of the live rows. */
  var spaceAmp = 0.0

  /** Warm-up ops run through [[op]] like timed ones but are not kept. */
  var warming = false
  private var nextOp = 0

  /** Seconds of op time measured so far (the run's budget counts op
    * time only, so check time never changes how many ops a run makes). */
  def opSeconds: Double = ops.iterator.map(_.ms).sum / 1e3

  private val born = System.nanoTime()

  /** Mean op time per kind, for the progress log. */
  def opTimes(recs: Seq[OpRec]): String =
    recs.groupBy(_.kind).map { case (k, os) => f"$k ${os.map(_.ms).sum / os.size}%.0f ms" }.mkString(", ")

  /** Progress on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%6.1f s  $msg")

  def timeSetup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupS += (System.nanoTime() - t0) / 1e9
  }

  /** Run one timed op inside an `op` span; the workload opens the
    * layer span inside it. A throwing op is recorded as failed and the
    * run goes on, since the engine leaves the table at its last commit. */
  def op[A](kind: String)(body: => A): (Option[A], OpRec) = {
    val rec = new OpRec(nextOp, kind)
    nextOp += 1
    if (warming) warmOps += rec else ops += rec
    val (cpu0, gc0, disk0) = (Jvm.cpuMs(), Jvm.gcMs(), Jvm.diskReadBytes())
    probe.beginOp(rec.id)
    rec.start = probe.now()
    val out =
      try Some(probe.span("op")(body))
      catch { case e: Throwable =>
        rec.fail(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
        None
      }
    rec.end = probe.now()
    probe.endOp()
    rec.cpuMs = Jvm.cpuMs() - cpu0
    rec.gcMs = Jvm.gcMs() - gc0
    rec.diskBytes = Jvm.diskReadBytes() - disk0
    (out, rec)
  }
}

object Jvm {
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  /** Block-device reads of this process (page-cache hits excluded). */
  def diskReadBytes(): Long = try {
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("read_bytes:") => l.substring(11).trim.toLong }
      .getOrElse(0L)
  } catch { case _: Throwable => 0L }
  /** Used heap after full collections. The pauses let Spark's context
    * cleaner drop blocks whose owners the previous collection freed. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Entry point of one benchmark run:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson> [scale]`.
  * It runs the workload in one JVM on `local[<cores>]` with one
  * closed-loop client thread and writes the raw record (ops with their
  * checks, set-up times, listener records, spans) as JSON; aggregate.py
  * derives the metrics. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "lake_commits" -> LakeCommits.run,
    "dialogue_stream" -> DialogueStream.run)

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // Bench's session confs, plus what this benchmark needs on top:
    // everything it writes stays under its work dir, a catalog for the
    // SQL read path, and the state store transformWithState requires.
    // Changelog checkpointing keeps RocksDB's per-batch commit off a full
    // checkpoint, whose fsyncs made batch times follow the host's disk.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$work/lake")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args.take(6)
    val scale = if (args.length > 6) args(6).toDouble else 1.0
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    Files.createDirectories(Paths.get(work))
    val spark = session(work)
    val probe = new Probe(spark, tracing = traceS == "1")
    val ctx = new Ctx(spark, probe, seedS.toLong, secondsS.toDouble, scale, work)
    try {
      run(ctx)
      ctx.log("checks done")
      probe.drain()
      val heap = Jvm.liveHeapMb()
      Files.writeString(Paths.get(out), Report.json(ctx, workload, heap))
    } finally spark.stop()
  }
}
