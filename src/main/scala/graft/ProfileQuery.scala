package graft
import org.apache.spark.scheduler._

/** Dev utility (round-16 optimization): run named queries with a
  * listener that counts Spark JOBS/stages/tasks and folds task
  * metrics (executor run time, input bytes, shuffle read/write).
  * Job count and byte totals are load-independent, so they attribute
  * a slow query to its plan (too many driver actions, a re-scan, a
  * wide shuffle) even when the shared host is noisy — wall-clock
  * alone cannot (guide §1). Prestages the shared frames exactly like
  * Bench so per-query numbers are bench-shaped.
  * Usage: runMain graft.ProfileQuery <q1,q2,...> [sfDir]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // A/B knobs for overhead experiments (dev tool only)
    val spark = Harness.session(sys.env.get("GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v })
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_PROFILE_WINDOW_STACKS=1: print the driver stack at every
    // "No Partition Defined" warning — the only way to attribute an
    // unpartitioned WindowExec to the query code that planted it
    // (dev tool; the log event itself carries no call site)
    if (sys.env.get("GRAFT_PROFILE_WINDOW_STACKS").exists(_ == "1")) {
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val app = new AbstractAppender(
          "graftWinStacks", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("No Partition Defined"))
            new Exception("unpartitioned window planted here")
              .printStackTrace(System.err)
      }
      app.start()
      ctx.getConfiguration.addAppender(app)
      ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
      ctx.updateLoggers()
    }
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val deserMs = new java.util.concurrent.atomic.AtomicLong
    val gcTaskMs = new java.util.concurrent.atomic.AtomicLong
    val cpuTaskMs = new java.util.concurrent.atomic.AtomicLong
    val inputB = new java.util.concurrent.atomic.AtomicLong
    val shReadB = new java.util.concurrent.atomic.AtomicLong
    val shWriteB = new java.util.concurrent.atomic.AtomicLong
    val jobLog = sys.env.get("GRAFT_PROFILE_JOBS").exists(_ == "1")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) {
          val site = Option(j.properties).flatMap(p =>
            Option(p.getProperty("callSite.short"))
              .orElse(Option(p.getProperty("spark.job.description"))))
            .orElse(j.stageInfos.lastOption.map(_.name))
            .getOrElse("?")
          jobStartNs.put(j.jobId, (System.nanoTime(), site))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (jobLog) {
        Option(jobStartNs.remove(j.jobId)).foreach { case (t0, site) =>
          System.err.println(
            f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3 / 1e3}%8.0f ms  $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (jobLog) {
          val i = s.stageInfo
          val rt = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(-1L)
          if (rt >= 100L) System.err.println(
            f"[stage] ${i.stageId}%4d ${rt}%7d taskMs ${i.numTasks}%4d tasks  ${i.name.linesIterator.take(1).mkString}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          gcTaskMs.addAndGet(m.jvmGCTime)
          cpuTaskMs.addAndGet(m.executorCpuTime / 1000000L)
          inputB.addAndGet(m.inputMetrics.bytesRead)
          shReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    try { // same untimed prestage as Bench
      graft.etl.Preprocess.prestageShared(spark, sfDir)
      graft.llm.Dedup.prestageShared(spark, sfDir)
      graft.sources.LakeTable.prestageShared(spark, sfDir)
      graft.llm.TextAnalysis.prestageShared(spark, sfDir)
      graft.streaming.StreamJoin.prestageShared(spark, sfDir)
      graft.ops.Relational.prestageShared(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[profile] prestage: $e") }
    println(f"${"query"}%-30s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"taskSec"}%8s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s")
    names.foreach { name =>
      graft.Util.drainStreamState()
      Seq(jobs, stages, tasks, runMs, deserMs, gcTaskMs, cpuTaskMs,
        inputB, shReadB, shWriteB).foreach(_.set(0L))
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name: $e") }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before reading
      // (listenerBus is private[spark] — a short sleep suffices for a
      // dev tool reading monotonic counters)
      Thread.sleep(300)
      println(f"$name%-30s $sec%8.2f ${jobs.get}%5d ${stages.get}%6d " +
        f"${tasks.get}%6d ${runMs.get / 1e3}%8.1f ${inputB.get / 1e6}%8.1f " +
        f"${shReadB.get / 1e6}%8.1f ${shWriteB.get / 1e6}%8.1f " +
        f"deser=${deserMs.get / 1e3}%6.1f gcT=${gcTaskMs.get / 1e3}%6.1f " +
        f"cpuT=${cpuTaskMs.get / 1e3}%6.1f")
    }
    spark.stop()
  }
}
