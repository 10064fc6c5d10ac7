package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues}

/** Custom keyed state over streams (SURVEY §2.9 extension surface):
  * `flatMapGroupsWithState` for semantics the declarative window
  * aggregates can't express — here, a per-entity running aggregate that
  * emits a delta row per micro-batch.
  */
object StatefulOps {

  final case class Obs(itemId: String, value: Double)
  final case class RunningState(n: Long, total: Double)
  final case class RunningOut(itemId: String, n: Long, total: Double, mean: Double)

  implicit private val stateEnc: Encoder[RunningState] = Encoders.product[RunningState]
  implicit private val outEnc: Encoder[RunningOut] = Encoders.product[RunningOut]

  /** One step of the running aggregate — the shared semantics of BOTH
    * state APIs below (fold the batch, emit a delta row only when the
    * count moved). */
  private def step(
      key: String,
      prev: RunningState,
      rows: Iterator[Obs]): (RunningState, Iterator[RunningOut]) = {
    var n = prev.n
    var total = prev.total
    rows.foreach { o => n += 1; total += o.value }
    val out =
      if (n == prev.n) Iterator.empty
      else Iterator.single(RunningOut(key, n, total, total / n))
    (RunningState(n, total), out)
  }

  /** Per-entity running count/sum/mean that survives across micro-batches.
    * State is two numbers per key — bounded regardless of stream length;
    * no watermark needed because the state never grows with events.
    */
  def runningMean(ds: Dataset[Obs]): Dataset[RunningOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.itemId)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Obs], state: GroupState[RunningState]) => {
          val (next, out) = step(
            key, state.getOption.getOrElse(RunningState(0L, 0.0)), rows)
          state.update(next)
          out
        })
  }

  /** The same running aggregate on Spark 4's `transformWithState` API —
    * the successor to `flatMapGroupsWithState`: typed `ValueState` handles
    * instead of a single state object, explicit TimeMode, and RocksDB
    * state-store backing (set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `...RocksDBStateStoreProvider`; transformWithState requires it).
    * State remains two numbers per key — bounded for an unbounded stream.
    */
  class RunningMeanProcessor
      extends StatefulProcessor[String, Obs, RunningOut] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[RunningState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RunningState](
        "running", Encoders.product[RunningState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[RunningOut] = {
      val (next, out) = step(
        key, Option(state.get()).getOrElse(RunningState(0L, 0.0)), rows)
      state.update(next)
      out
    }
  }

  def runningMeanTws(ds: Dataset[Obs]): Dataset[RunningOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.itemId)
      .transformWithState(
        new RunningMeanProcessor,
        TimeMode.None(),
        OutputMode.Append())
  }

  final case class SessionClose(itemId: String, n: Long, total: Double)

  /** Idle-session close detection — the transformWithState TIMER exercise
    * the declarative `session_window` cannot express: emit the session row
    * the moment a key goes quiet for `gapMs` of PROCESSING time (a
    * watermark-based session only closes when later EVENTS arrive; a timer
    * fires on the clock, events or not).
    *
    * Per batch of events for a key: fold the running aggregate, DELETE the
    * previously armed timer, arm a new one `gapMs` ahead, remember its
    * deadline. When a timer fires (no newer events re-armed it), emit the
    * closed session and clear all state. State per key = two numbers, one
    * deadline, one pending timer — bounded; the aggregate state also
    * carries a defense-in-depth TTL (an hour) so an abandoned key can
    * never leak state even if its timer were lost.
    */
  class SessionCloseProcessor(gapMs: Long)
      extends StatefulProcessor[String, Obs, SessionClose] {
    @transient private var agg:
      org.apache.spark.sql.streaming.ValueState[RunningState] = _
    @transient private var deadline:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // TTL must comfortably exceed the gap or the state expires BEFORE
      // the session-close timer fires (emitting nothing, silently); derive
      // it from gapMs with an hour floor
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofMillis(math.max(gapMs * 4, 3600L * 1000)))
      agg = getHandle.getValueState[RunningState](
        "sess_agg", Encoders.product[RunningState], ttl)
      deadline = getHandle.getValueState[Long](
        "sess_deadline", Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[SessionClose] = {
      var n = 0L
      var total = 0.0
      Option(agg.get()).foreach { p => n = p.n; total = p.total }
      rows.foreach { o => n += 1; total += o.value }
      if (deadline.exists()) getHandle.deleteTimer(deadline.get())
      val d = timerValues.getCurrentProcessingTimeInMs() + gapMs
      getHandle.registerTimer(d)
      deadline.update(d)
      agg.update(RunningState(n, total))
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionClose] = {
      val out = Option(agg.get())
        .map(s => SessionClose(key, s.n, s.total)).iterator
      agg.clear()
      deadline.clear()
      out
    }
  }

  /** [[SessionCloseProcessor]] over `ds`, keyed by `itemId`, under
    * processing-time timers.
    *
    * Batch-style callers: do NOT run it under `Trigger.AvailableNow`.
    * With processing-time timers `transformWithState` asks for another
    * (no-data) batch after every batch, so an AvailableNow query never
    * terminates and `processAllAvailable` never returns. Run one batch per
    * start instead — `Trigger.Once` over a persistent checkpoint, then a
    * CHECKED `awaitTermination(timeoutMs)` (it returns false on timeout
    * rather than throwing); each start fires the timers that expired
    * since the last one (StatefulSpec's timer test is the pattern). */
  def sessionClose(ds: Dataset[Obs], gapMs: Long): Dataset[SessionClose] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.itemId)
      .transformWithState(
        new SessionCloseProcessor(gapMs),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
  }
}
