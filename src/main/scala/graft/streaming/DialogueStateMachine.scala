package graft.streaming

import graft.reward.{Reward, RewardConfig}
import graft.session.Termination
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One classified turn event (FIXTURES.md §1.3 shape). */
final case class TurnEvent(dia_id: Long, turn: Int, layer: Int, confidence: Double)

/** Mutable per-dialogue state carried between turns — mirrors the
  * reference's per-instance dict (`empathy_interaction.py:71-79`). */
final case class DialogueState(
    turnIndex: Int, lastLayer: Int, deepestLayer: Int,
    layers: List[Int], scoreSum: Double, terminated: Boolean,
    // last-activity EVENT time (ms) carried across micro-batches so
    // the timeout timer is set from the group's true latest activity;
    // a batch-local max would let an on-time but older-than-previous
    // batch pull the timeout EARLIER and close the session prematurely
    // (round-2 ADVICE)
    lastActivityMs: Long = 0L)

/** Closed-session summary emitted once per dialogue. */
final case class SessionSummary(
    dia_id: Long, n_turns: Int, end_turn: Int,
    terminate_reason: String, deepest_layer: Int, mean_score: Double)

/** The reference's rollout loop as a Spark state machine (SURVEY.md
  * §2.9 T1–T5): keyed mutable state, per-event update, termination
  * predicates, session close. ONE transition function drives both the
  * batch replay (groupByKey.flatMapGroups — the driver-verified path)
  * and Structured Streaming (flatMapGroupsWithState) so the two
  * execution modes cannot drift (T8; SURVEY.md §7.5 risk 3).
  *
  * Scale: state is O(max_turns) integers per live dialogue; keys are
  * uuid-like and unskewed. In streaming, state eviction rides the
  * termination predicate (session closes → state removed); add a
  * processing-time timeout for abandoned dialogues in production.
  */
object DialogueStateMachine {
  val MaxTurns: Int = Termination.MaxTurns

  def initialState: DialogueState = DialogueState(0, 0, 0, Nil, 0.0, terminated = false)

  /** Per-turn score — the same shaped-sigmoid arithmetic as the
    * window-based Reward.perTurnScores (W1/W2), in plain Scala.
    * First turn: lastLayer defaults to the turn's own layer
    * (`reward.py:48`) → progress/regress/skip all 0. */
  def scoreTurn(layer: Int, lastLayer: Int, confidence: Double, cfg: RewardConfig): Double = {
    val md = cfg.maxDepth
    val depth = layer / md
    val progress = math.max(layer - lastLayer, 0) / md
    val regress = math.max(lastLayer - layer, 0) / md
    val skip = math.max(layer - (lastLayer + 1), 0) / md
    val raw = (depth + cfg.beta * progress - cfg.delta * regress - cfg.skipW * skip) *
      (0.5 + 0.5 * confidence)
    1.0 / (1.0 + math.exp(-cfg.k * (raw - cfg.c)))
  }

  /** One state transition: consume a turn, produce the next state.
    * Termination reuses Termination.reasonFor — the exact predicate
    * the batch window queries verify. */
  def step(st: DialogueState, ev: TurnEvent, cfg: RewardConfig): (DialogueState, Option[String]) = {
    val last = if (st.turnIndex == 0) ev.layer else st.lastLayer
    val score = scoreTurn(ev.layer, last, ev.confidence, cfg)
    val layers = st.layers :+ ev.layer
    val next = DialogueState(
      st.turnIndex + 1, ev.layer, math.max(st.deepestLayer, ev.layer),
      layers, st.scoreSum + score, terminated = false)
    val reason = Termination.reasonFor(next.turnIndex, MaxTurns, layers, emptyText = false)
    (next.copy(terminated = reason.isDefined), reason)
  }

  /** ONE summary construction for every execution path (batch fold,
    * flatMapGroupsWithState, transformWithState, timeout form) — the
    * rounding/shape cannot drift between them. */
  private def summaryOf(diaId: Long, st: DialogueState, reason: String): SessionSummary =
    SessionSummary(
      diaId, st.turnIndex, st.turnIndex, reason, st.deepestLayer,
      if (st.turnIndex == 0) 0.0
      else BigDecimal(st.scoreSum / st.turnIndex)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Fold a whole ordered session; stops consuming at the first
    * terminating turn (the stream would emit no further user turns). */
  def runSession(diaId: Long, turns: Iterator[TurnEvent], cfg: RewardConfig): SessionSummary = {
    var st = initialState
    var reason: Option[String] = None
    val it = turns.buffered
    while (it.hasNext && reason.isEmpty) {
      val (next, r) = step(st, it.next(), cfg)
      st = next
      reason = r
    }
    summaryOf(diaId, st, reason.orNull)
  }

  /** ONE per-batch fold for every streaming form: the group's turns
    * in `turn` order (events within a micro-batch arrive unordered)
    * step the state on from `st0`; turns after termination are
    * skipped, and the terminating turn emits the session summary. */
  private def foldBatch(diaId: Long, st0: DialogueState, turns: Seq[TurnEvent],
      cfg: RewardConfig): (DialogueState, Option[SessionSummary]) =
    turns.sortBy(_.turn).foldLeft((st0, Option.empty[SessionSummary])) {
      case (acc @ (st, _), _) if st.terminated => acc
      case ((st, _), ev) =>
        val (next, reason) = step(st, ev, cfg)
        (next, reason.map(summaryOf(diaId, next, _)))
    }

  /** The timed forms' fold: [[foldBatch]] over the untimed turns, with
    * the last-activity time the max across ALL batches (a batch-local
    * max would let an older batch pull the timeout earlier). */
  private def foldTimedBatch(diaId: Long, st0: DialogueState, turns: Seq[TimedTurn],
      cfg: RewardConfig): (DialogueState, Option[SessionSummary]) = {
    val (st, closed) = foldBatch(diaId, st0,
      turns.map(ev => TurnEvent(ev.dia_id, ev.turn, ev.layer, ev.confidence)), cfg)
    val lastTs = turns.foldLeft(st0.lastActivityMs)((m, ev) => math.max(m, ev.ts.getTime))
    (st.copy(lastActivityMs = lastTs), closed)
  }

  /** Driver query: batch replay of the state machine over the
    * events-derived turns table. Per-group sort is in-memory — group
    * size is bounded by the dialogue length (≤ max_turns in production;
    * ≤ events-per-user here), not by table size. */
  def sessionReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cfg = RewardConfig()
    Reward.turnsFromEvents(s, d)
      .select(col("dia_id"), col("turn"), col("layer"), col("confidence"))
      .as[TurnEvent]
      .groupByKey(_.dia_id)
      .flatMapGroups { (k, it) =>
        Iterator.single(runSession(k, it.toSeq.sortBy(_.turn).iterator, cfg))
      }
      .toDF()
      .orderBy("dia_id")
  }

  /** The state encoder of both stateful processors, built once per
    * JVM: `Encoders.product` derives it through Scala reflection,
    * which serializes on a global lock, and `init` runs once per task
    * per micro-batch. */
  private lazy val DialogueStateEncoder = Encoders.product[DialogueState]

  /** Spark 4 arbitrary-state API (transformWithState): the SAME
    * transition function under a StatefulProcessor with typed
    * ValueState — the forward-looking form of T1–T5 (requires the
    * RocksDB state store provider). Asserted equivalent to both other
    * paths in the streaming spec. */
  class DialogueProcessor(cfg: RewardConfig)
      extends StatefulProcessor[Long, TurnEvent, SessionSummary] {
    @transient private var st: ValueState[DialogueState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DialogueState](
        "dialogue", DialogueStateEncoder, TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[TurnEvent],
        timerValues: TimerValues): Iterator[SessionSummary] = {
      val (state, closed) =
        foldBatch(key, if (st.exists()) st.get() else initialState, rows.toSeq, cfg)
      // terminated state is KEPT as a tombstone, not cleared: post-
      // termination turns arriving in a LATER micro-batch would
      // otherwise re-initialize the key and emit a duplicate summary,
      // breaking batch/stream equivalence (round-8 review catch; the
      // batch fold simply stops consuming). Eviction belongs to the
      // timeout variant.
      st.update(state)
      closed.iterator
    }
  }

  /** transformWithState pipeline over a (possibly streaming) turns
    * Dataset. */
  def streamingSummariesTws(
      turns: Dataset[TurnEvent],
      cfg: RewardConfig = RewardConfig()): Dataset[SessionSummary] = {
    import turns.sparkSession.implicits._
    turns
      .groupByKey(_.dia_id)
      .transformWithState(
        new DialogueProcessor(cfg), TimeMode.None(), OutputMode.Append())
  }

  /** A turn with an event-time stamp, for the timeout-aware path. */
  final case class TimedTurn(
      ts: java.sql.Timestamp, dia_id: Long, turn: Int, layer: Int, confidence: Double)

  /** Spark 4 arbitrary-state form of the TIMEOUT path (T10b): the
    * same transition function under a StatefulProcessor with
    * EVENT-TIME TIMERS — `registerTimer` + `handleExpiredTimer`
    * replace the legacy `GroupStateTimeout` plumbing of
    * [[streamingSummariesWithTimeout]]. Exactly ONE live timer per
    * key (each batch deletes the previous deadline and re-arms at
    * last activity + timeoutMs); when the watermark passes the
    * deadline, `handleExpiredTimer` closes the abandoned session with
    * reason "Timeout" and CLEARS state — in this form tombstones are
    * evicted by the timer, so terminated keys do not pin state
    * forever (the 100 TB deployment shape). Asserted equivalent to
    * the legacy-API path in TimeoutSpec. */
  class DialogueTimeoutProcessor(cfg: RewardConfig, timeoutMs: Long)
      extends StatefulProcessor[Long, TimedTurn, SessionSummary] {
    @transient private var st: ValueState[DialogueState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DialogueState](
        "dialogue", DialogueStateEncoder, TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[TimedTurn],
        timerValues: TimerValues): Iterator[SessionSummary] = {
      val (state, closed) = foldTimedBatch(
        key, if (st.exists()) st.get() else initialState, rows.toSeq, cfg)
      // re-arm: delete any previous deadline first, so a key carries
      // exactly one live timer (stale earlier deadlines would close
      // the session while it is still active)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(state.lastActivityMs + timeoutMs)
      st.update(state)
      closed.iterator
    }

    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionSummary] = {
      val state = if (st.exists()) st.get() else initialState
      st.clear() // timer-driven eviction — tombstones included
      if (state.turnIndex == 0 || state.terminated) Iterator.empty
      else Iterator.single(summaryOf(key, state, "Timeout"))
    }
  }

  /** transformWithState timeout pipeline (event-time timers). */
  def streamingSummariesTwsTimeout(
      turns: Dataset[TimedTurn],
      timeoutMs: Long,
      cfg: RewardConfig = RewardConfig()): Dataset[SessionSummary] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.dia_id)
      .transformWithState(
        new DialogueTimeoutProcessor(cfg, timeoutMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Timeout-aware streaming form: same transition function, plus an
    * EVENT-TIME timeout that force-closes abandoned dialogues (ones
    * that stop emitting turns without ever hitting a termination
    * predicate) once the watermark passes their last activity +
    * `timeoutMs`. This is the state-eviction story SCALE.md requires
    * at 100 TB rates — without it, abandoned keys pin state forever.
    * Emitted timeout summaries carry reason "Timeout". Event-time (not
    * processing-time) timers keep the behavior deterministic and
    * replayable. */
  def streamingSummariesWithTimeout(
      turns: Dataset[TimedTurn],
      timeoutMs: Long,
      cfg: RewardConfig = RewardConfig()): Dataset[SessionSummary] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.dia_id)
      .flatMapGroupsWithState[DialogueState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (diaId, evs, state: GroupState[DialogueState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            // watermark passed last activity + timeout: close the
            // abandoned session from whatever state it reached. A
            // TERMINATED tombstone already emitted its summary —
            // evict silently.
            val st = state.getOption.getOrElse(initialState)
            state.remove()
            if (st.turnIndex == 0 || st.terminated) Iterator.empty
            else Iterator.single(summaryOf(diaId, st, "Timeout"))
          } else {
            val (st, closed) = foldTimedBatch(
              diaId, state.getOption.getOrElse(initialState), evs.toSeq, cfg)
            // terminated sessions stay as tombstones so straggler
            // turns in later batches cannot re-open the key and
            // duplicate the summary; the timeout timer still evicts
            // the tombstone once the watermark passes (silently —
            // see the timed-out branch)
            state.update(st)
            state.setTimeoutTimestamp(st.lastActivityMs + timeoutMs)
            closed.iterator
          }
      }
  }

  /** Structured Streaming form (T1–T5): same transition function under
    * flatMapGroupsWithState. Emits one summary row when a session
    * terminates and keeps a terminated TOMBSTONE so stragglers in
    * later micro-batches cannot re-open the key (state eviction is
    * the timeout variant's job). Exercised by the stream-batch
    * equivalence spec (T8) over a MemoryStream. */
  def streamingSummaries(
      turns: Dataset[TurnEvent],
      cfg: RewardConfig = RewardConfig()): Dataset[SessionSummary] = {
    import turns.sparkSession.implicits._
    turns
      .groupByKey(_.dia_id)
      .flatMapGroupsWithState[DialogueState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (diaId, evs, state: GroupState[DialogueState]) =>
          val (st, closed) =
            foldBatch(diaId, state.getOption.getOrElse(initialState), evs.toSeq, cfg)
          // tombstone, not remove — see DialogueProcessor: stragglers
          // in a later batch must not re-open a terminated session
          state.update(st)
          closed.iterator
      }
  }
}
