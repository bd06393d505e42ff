package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent, QueryIdleEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds, so spans
  * from the benchmark's clock and from Spark's event times share one
  * axis. `op` is the op the span belongs to (-1: outside any op). */
final case class Span(id: Int, parent: Int, name: String, op: Int, start: Double, end: Double)

/** One Spark job: its op, parent span, streaming batch id (-1: none),
  * start and end (epoch ms) and stage count. */
final case class JobRec(op: Int, parent: Int, batch: Long, start: Double,
    var end: Double = -1, stages: Int)

/** Per-task figures folded into the op that launched the task. */
final class TaskSums {
  var tasks, emptyTasks, failedTasks = 0L
  var taskMs, cpuMs, gcMs, overheadMs = 0.0
  var inputBytes, inputRecords, shuffleRead, shuffleWrite, outputBytes, spillBytes = 0L

  def toMap: Map[String, Double] = Map(
    "tasks" -> tasks.toDouble, "empty_tasks" -> emptyTasks.toDouble,
    "failed_tasks" -> failedTasks.toDouble, "task_ms" -> taskMs, "task_cpu_ms" -> cpuMs,
    "task_gc_ms" -> gcMs, "task_overhead_ms" -> overheadMs,
    "input_bytes" -> inputBytes.toDouble, "input_records" -> inputRecords.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "output_bytes" -> outputBytes.toDouble, "spill_bytes" -> spillBytes.toDouble)
}

/** Everything the benchmark observes from outside the engine: Spark's
  * public listener surfaces plus the spans the benchmark records
  * around its own calls into the engine. It keeps raw records only;
  * aggregate.py turns them into metrics. With tracing off the probe
  * registers nothing and records nothing, so the untraced run carries
  * none of its cost.
  *
  * Attribution: the benchmark has one closed-loop client thread. It
  * sets two local properties on that thread before each call
  * (`perfbench.op`, `perfbench.span`); jobs inherit them. Jobs of a
  * streaming micro-batch run on the stream thread and carry
  * `streaming.sql.batchId` instead, and belong to the op in flight. */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble

  /** Epoch milliseconds on the monotonic clock. */
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  private val nextId = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Int] = Nil
  @volatile private var currentOp: Int = -1

  // ---- benchmark-side spans ----

  /** Open a span on the client thread around `body`; Spark jobs the
    * body launches take it as their parent. */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(-1)
      val start = now()
      stack = id :: stack
      spark.sparkContext.setLocalProperty("perfbench.span", id.toString)
      try body
      finally {
        stack = stack.tail
        spark.sparkContext.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
        spans.add(Span(id, parent, name, currentOp, start, now()))
      }
    }

  def beginOp(op: Int): Unit = {
    currentOp = op
    if (tracing) spark.sparkContext.setLocalProperty("perfbench.op", op.toString)
  }

  def endOp(): Unit = {
    currentOp = -1
    if (tracing) spark.sparkContext.setLocalProperty("perfbench.op", null)
  }

  // ---- Spark jobs and tasks ----

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** op -> task sums; key -1 collects work outside any op. */
  val taskSums = new ConcurrentHashMap[Int, TaskSums]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
      val rec = JobRec(
        // the client blocks in processAllAvailable while a micro-batch
        // runs, so a streaming job belongs to the op in flight
        op = if (batch >= 0) currentOp else prop("perfbench.op").map(_.toInt).getOrElse(-1),
        parent = if (batch >= 0) -1 else prop("perfbench.span").map(_.toInt).getOrElse(-1),
        batch = batch, start = e.time.toDouble, stages = e.stageInfos.size)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).map(_.op).getOrElse(-1)
      val s = taskSums.computeIfAbsent(op, _ => new TaskSums)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        if (m != null) {
          val run = m.executorRunTime.toDouble
          s.taskMs += run
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.overheadMs += math.max(0.0, e.taskInfo.duration - run -
            m.executorDeserializeTime - m.resultSerializationTime)
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.outputBytes += m.outputMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          if (records == 0L) s.emptyTasks += 1
        }
      }
    }
  }

  // ---- planning phases (Catalyst + injected rules) ----

  /** (start, end, phase) of every tracked phase of every QueryExecution. */
  val phases = new ConcurrentLinkedQueue[(Double, Double, String)]()
  /** start time of each QueryExecution (its earliest phase). */
  val executions = new ConcurrentLinkedQueue[Double]()

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq
      ps.foreach { case (name, p) =>
        phases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble, name)) }
      if (ps.nonEmpty) executions.add(ps.map(_._2.startTimeMs).min.toDouble)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  // ---- streaming progress ----

  /** Each micro-batch's progress report, as Spark's own JSON. */
  val progress = new ConcurrentLinkedQueue[String]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress.json)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so
    * far; the session's execution and streaming listener buses ride it. */
  def drain(): Unit =
    if (tracing) org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)

  /** The raw record of everything observed, for aggregate.py. */
  def raw: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.map(s => Seq(s.id, s.parent, s.name, s.op, s.start, s.end)),
    "jobs" -> jobs.asScala.toSeq.sortBy(_._1).collect { case (_, j) if j.end >= 0 =>
      Map("op" -> j.op, "parent" -> j.parent, "batch" -> j.batch, "start" -> j.start,
        "end" -> j.end, "stages" -> j.stages) },
    "tasks" -> taskSums.asScala.toSeq.map { case (op, s) => op.toString -> s.synchronized(s.toMap) }.toMap,
    "phases" -> phases.asScala.toSeq.map { case (s, e, name) => Seq(s, e, name) },
    "executions" -> executions.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}
