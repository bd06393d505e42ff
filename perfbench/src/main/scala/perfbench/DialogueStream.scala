package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import graft.reward.RewardConfig
import graft.sources.LakeTable
import graft.streaming.{DialogueStateMachine, SessionSummary, TurnEvent}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.StreamingQuery

/** Seeded interleaved dialogues: a pool of live dialogues, each planned
  * for 5-20 turns; every batch advances a random subset by one turn and
  * replaces the dialogues that ran out. Layers walk between 1 and 5, so
  * all of `Termination`'s reasons occur. Every emitted turn is kept, with
  * the batch it landed in, for the correctness check. */
final class DialogueGen(seed: Long, live: Int, perBatch: Int) {
  private val rnd = new Random(seed)
  private final class Live(val id: Long, val length: Int) { var turn = 0; var layer = 1 + rnd.nextInt(2) }
  private var nextId = 0L
  private def start() = { nextId += 1; new Live(nextId, 5 + rnd.nextInt(16)) }
  private val pool = Array.fill(live)(start())
  val turns = mutable.LongMap.empty[mutable.ArrayBuffer[(TurnEvent, Int)]]

  def batch(index: Int): Seq[TurnEvent] = {
    val picked = rnd.shuffle(pool.indices.toVector).take(perBatch).sorted
    picked.map { i =>
      val d = pool(i)
      d.turn += 1
      val u = rnd.nextDouble()
      d.layer = math.max(1, math.min(5, d.layer + (if (u < 0.45) 0 else if (u < 0.85) 1 else -1)))
      val ev = TurnEvent(d.id, d.turn, d.layer, rnd.nextInt(100) / 100.0)
      turns.getOrElseUpdate(d.id, mutable.ArrayBuffer.empty) += ev -> index
      if (d.turn == d.length) pool(i) = start()
      ev
    }
  }
}

/** `dialogue_stream`: the paper's per-turn scoring stream. Seeded turn
  * files land in a file source, `DialogueStateMachine.streamingSummariesTws`
  * scores them, and the `graftlake` sink commits the closed-session
  * summaries. The loop is closed: land one batch file, then
  * `processAllAvailable`. One op is one micro-batch, timed from the
  * file landing to the sink commit. Per-batch streaming overhead and
  * many small epoch commits dominate. */
object DialogueStream {
  val LiveDialogues = 5000
  val TurnsPerBatch = 2000
  val SetupReps = 3
  val WarmBatches = 3

  private def json(e: TurnEvent): String =
    s"""{"dia_id":${e.dia_id},"turn":${e.turn},"layer":${e.layer},"confidence":${e.confidence}}"""

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val live = math.max(10, (LiveDialogues * ctx.scale).round.toInt)
    val perBatch = math.max(4, (TurnsPerBatch * ctx.scale).round.toInt)
    var gen: DialogueGen = null
    var query: StreamingQuery = null
    var (src, sink, stage) = ("", "", "")
    var landed = 0
    /** batch index -> op that landed it */
    val opOfBatch = mutable.Map.empty[Int, OpRec]

    /** Generate the next batch and write it to the staging dir; the
      * returned call lands it in the source dir with one atomic move. */
    def stageBatch(): (Int, () => Unit) = {
      val evs = gen.batch(landed)
      val staged = Paths.get(s"$stage/batch-$landed.json")
      val target = Paths.get(s"$src/batch-$landed.json")
      Files.write(staged, evs.map(json).mkString("\n").getBytes(StandardCharsets.UTF_8))
      landed += 1
      (evs.size, () => Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE))
    }

    for (r <- 0 until SetupReps) {
      if (query != null) query.stop()
      ctx.timeSetup {
      val dir = s"${ctx.work}/stream$r"
      graft.Util.rmRecursive(dir)
      src = s"$dir/in"; sink = s"$dir/sink"; stage = s"$dir/stage"
      Seq(src, stage).foreach(d => Files.createDirectories(Paths.get(d)))
      gen = new DialogueGen(ctx.seed, live, perBatch)
      landed = 0
      val turns = spark.readStream.schema(Encoders.product[TurnEvent].schema).json(src).as[TurnEvent]
      query = DialogueStateMachine.streamingSummariesTws(turns)
        .writeStream.format("graftlake")
        .option("checkpointLocation", s"$dir/checkpoint")
        .start(sink)
      stageBatch()._2()
      query.processAllAvailable()
    }}
    val files = new TableFiles(sink)
    ctx.log(s"set-up done: ${ctx.setupS.map(t => f"$t%.2f").mkString(", ")} s")

    /** One op: from the batch file landing to the sink commit. */
    def step(): Unit = {
      val (n, landBatch) = stageBatch()
      val (_, rec) = ctx.op("batch") {
        landBatch()
        query.processAllAvailable()
      }
      rec.rows = n
      opOfBatch(landed - 1) = rec
      files.delta().into(rec)
    }

    ctx.warming = true
    (1 to WarmBatches).foreach(_ => step())
    ctx.warming = false
    ctx.log("warm-up done")
    ctx.probe.span("workload") {
      while (ctx.opSeconds < ctx.seconds) step()
    }
    query.stop()
    ctx.log(s"timed ops done: ${ctx.ops.size} batches")
    if (ctx.corrupt)
      LakeTable.append(Seq(SessionSummary(-1L, 1, 1, "max_turns", 1, 0.5)).toDS().toDF(), sink)

    // final check: the sink against the state machine folded over the
    // same turns; a wrong or missing summary fails the op that landed
    // its closing turn
    val cfg = RewardConfig()
    val expected = gen.turns.iterator.flatMap { case (id, ts) =>
      val s = DialogueStateMachine.runSession(id, ts.iterator.map(_._1), cfg)
      Option(s.terminate_reason).map(_ => id -> s)
    }.toMap
    // a sink that has committed only empty epochs has no columns yet
    val sinkRows = LakeTable.read(spark, sink)
    val got = if (sinkRows.columns.contains("dia_id")) sinkRows.as[SessionSummary].collect()
      else Array.empty[SessionSummary]
    val gotById = got.groupBy(_.dia_id)
    (expected.keySet ++ gotById.keySet).foreach { id =>
      val g = gotById.getOrElse(id, Array.empty[SessionSummary]).toSeq
      if (g != expected.get(id).toSeq) {
        val ts = gen.turns.getOrElse(id, mutable.ArrayBuffer.empty)
        val closing = expected.get(id).map(s => ts(s.end_turn - 1)._2).orElse(ts.lastOption.map(_._2))
        val why = s"dialogue $id: sink ${g.mkString(",")}, state machine ${expected.get(id)}"
        closing.flatMap(opOfBatch.get).orElse(ctx.ops.lastOption).foreach(_.fail(why))
      }
    }
    ctx.spaceAmp = Lineitems.Dirs.bytes(sink).toDouble / {
      val dir = s"${ctx.work}/compact"
      got.toSeq.toDS().coalesce(1).write.mode("overwrite").parquet(dir)
      val b = Lineitems.Dirs.bytes(dir)
      graft.Util.rmRecursive(dir)
      b
    }

    if (ctx.probe.tracing) Shape.record(ctx, sink)
  }
}
