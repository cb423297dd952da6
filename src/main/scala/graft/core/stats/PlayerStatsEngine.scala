package graft.core.stats

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, StatefulProcessorWithInitialState, TimeMode, TimerValues,
  TTLConfig, ValueState}

import graft.core.{Event, PlayerState, PlayerStatsRow}

/** The core stateful operator: per-player running statistics.
  *
  * Faithful Spark-native re-expression of the reference's
  * `groupByKey(steamId).mapGroupsWithState(...)` pipeline
  * (SparkStreamingService.java:228-234 + PlayerStatsUpdater.java:12-67):
  *
  *  - counters (kills/deaths/assists/damage) are CUMULATIVE across batches;
  *  - `second` and `round` are maxima of the CURRENT batch only
  *    (PlayerStatsUpdater.java:20-29) — output depends on batch boundaries;
  *  - kd: deaths==0 ⇒ kills (PlayerStatsUpdater.java:34-36);
  *  - damagePerRound: unguarded double division (:37);
  *  - `GroupStateTimeout.NoTimeout` ⇒ state never expires (the reference's
  *    3-arg Java overload).
  *
  * Two deliberate improvements over the reference:
  *
  *  1. The name kept in state is the MAXIMUM non-blank name seen, so output
  *     is deterministic and exactly equals the batch twin's
  *     `max(when(trim(player) <> '', player))` — the reference picks the
  *     first non-blank name in iterator order per batch (nondeterministic
  *     across partitions) and patches blanks at the sink via driver-side
  *     point lookups (SURVEY.md §7.4.3).
  *  2. Optional REAL state expiry for unbounded key spaces (the 100 TB
  *     story): pass `ProcessingTimeTimeout`/`EventTimeTimeout` plus
  *     `timeoutMs` and idle keys are dropped from the state store — the
  *     timed-out branch removes state and emits nothing (this path uses
  *     `flatMapGroupsWithState`, since a timed-out key has no events to
  *     build a meaningful row from). Per-key state is 4 longs + a name, so
  *     even 10^9 live keys is ~50 GB spread over the cluster's state
  *     stores, but an unbounded key space still needs expiry to stay
  *     bounded over time.
  */
object PlayerStatsEngine {

  /** One micro-batch of a key's events folded onto its running state:
    * returns the new state and the key's output row. Pure — each stateful
    * API reads and writes its own state handle around it. */
  private def foldBatch(steamId: String, prev: PlayerState,
      events: Iterator[Event]): (PlayerState, PlayerStatsRow) = {
    var s = prev
    var batchSecond = 0L
    var batchRound = 0L
    events.foreach { e =>
      s = s.fold(e)
      if (e.second > batchSecond) batchSecond = e.second
      if (e.round > batchRound) batchRound = e.round
    }
    (s, PlayerStatsRow(
      playerName = s.lastName,
      steamId = steamId,
      second = batchSecond,
      kills = s.kills,
      deaths = s.deaths,
      assists = s.assists,
      damage = s.damage,
      kdRatio = PlayerStatsRow.kd(s.kills, s.deaths),
      damagePerRound = PlayerStatsRow.dpr(s.damage, batchRound)))
  }

  /** NoTimeout form — the reference's exact shape (one row per key per
    * batch; `mapGroupsWithState` is only invoked for keys with data). */
  def update(
      steamId: String,
      events: Iterator[Event],
      state: GroupState[PlayerState]): PlayerStatsRow = {
    val (s, row) = foldBatch(steamId, state.getOption.getOrElse(PlayerState.empty), events)
    state.update(s)
    row
  }

  /** Timeout-aware form: a fired timeout removes the key's state and emits
    * nothing; otherwise fold as usual and re-arm the timer. */
  private[stats] def updateExpiring(timeout: GroupStateTimeout, timeoutMs: Long)(
      steamId: String,
      events: Iterator[Event],
      state: GroupState[PlayerState]): Iterator[PlayerStatsRow] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val row = update(steamId, events, state)
      if (timeout == GroupStateTimeout.EventTimeTimeout)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + timeoutMs)
      else
        state.setTimeoutDuration(timeoutMs)
      Iterator.single(row)
    }

  /** Streaming (or batch) stateful running stats — use with `update` output
    * mode. Shuffles once on steamId; state lives in the per-partition state
    * store.
    *
    * @param timeout    NoTimeout reproduces the reference exactly (state
    *                   never expires). ProcessingTimeTimeout expires keys
    *                   idle for `timeoutMs` of wall-clock; EventTimeTimeout
    *                   expires keys `timeoutMs` past the watermark (the
    *                   input stream must carry `withWatermark` upstream).
    * @param timeoutMs  idle duration before a key's state is dropped;
    *                   ignored under NoTimeout.
    *
    * Caveat (observed in this environment): once a timeout is armed, every
    * trigger runs a batch even with no new data (timers must be checked), so
    * use an explicit processing-time trigger — under the default
    * as-fast-as-possible trigger the query busy-loops empty batches and
    * `processAllAvailable()` may never see a quiet moment to return.
    */
  def statefulPlayerStats(
      events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
      timeoutMs: Long = 30 * 60 * 1000L): Dataset[PlayerStatsRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    if (timeout == GroupStateTimeout.NoTimeout)
      events
        .groupByKey(_.steamId)
        .mapGroupsWithState[PlayerState, PlayerStatsRow](timeout)(update)
    else
      events
        .groupByKey(_.steamId)
        .flatMapGroupsWithState[PlayerState, PlayerStatsRow](
          OutputMode.Update(), timeout)(updateExpiring(timeout, timeoutMs))
  }

  /** Warm-start form: resume the running totals from a state snapshot
    * (steamId → PlayerState), e.g. the last persisted scoreboard. The
    * reference instead WIPES its stats table at every start
    * (SparkStreamingService.java:98) and has no durable state — snapshot
    * resume is what a production restart needs when the checkpoint is lost
    * or the topology changed (checkpoint-based recovery is exercised
    * separately; the two compose: checkpoint wins when present). */
  def statefulPlayerStatsFrom(
      events: Dataset[Event],
      initial: Dataset[(String, PlayerState)]): Dataset[PlayerStatsRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.steamId)
      .mapGroupsWithState[PlayerState, PlayerStatsRow](
        GroupStateTimeout.NoTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(update)
  }

  /** The same running-stats fold as a Spark 4 `StatefulProcessor` — the
    * modern arbitrary-stateful-processing API (`transformWithState`).
    * Functionally identical to the `mapGroupsWithState` form; what it adds
    * is OPERATIONAL: typed named state slots with per-slot TTL handled by
    * the state store itself (no timer bookkeeping in user code), schema'd
    * state that supports schema evolution across restarts (proven live in
    * `StateEvolutionSpec`: an added Option field carries counters through
    * a checkpointed restart under the Avro state encoding), and the
    * RocksDB-backed store the API requires — the configuration a 100 TB
    * deployment runs anyway (state spills to disk instead of executor
    * heap). Initial-state warm start is `handleInitialState`, the TWS twin
    * of [[statefulPlayerStatsFrom]].
    *
    * @param ttl optional per-key state TTL (processing-time): the expiry
    *            bound for unbounded key spaces; None ⇒ reference parity
    *            (state never expires). */
  private[stats] class PlayerStatsProcessor(ttl: Option[java.time.Duration])
      extends StatefulProcessorWithInitialState[
        String, Event, PlayerStatsRow, PlayerState] {
    @transient private var state: ValueState[PlayerState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PlayerState]("playerState",
        Encoders.product[PlayerState], ttl.fold(TTLConfig.NONE)(TTLConfig.apply))

    override def handleInitialState(
        steamId: String, initial: PlayerState, timers: TimerValues): Unit =
      state.update(initial)

    override def handleInputRows(
        steamId: String, events: Iterator[Event],
        timers: TimerValues): Iterator[PlayerStatsRow] = {
      val (s, row) = foldBatch(steamId,
        if (state.exists()) state.get() else PlayerState.empty, events)
      state.update(s)
      Iterator.single(row)
    }
  }

  /** [[statefulPlayerStats]] on the Spark 4 `transformWithState` API — same
    * output, RocksDB-backed named state with optional store-managed TTL
    * (see [[PlayerStatsProcessor]]). Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * on the session running the query (the TWS operator rejects the
    * default HDFS-backed store).
    *
    * Scale law (`ScaleLawSpec`): a batch's state cost tracks the batch, not
    * the state. A 200-key batch after 1k or after 10k stored keys makes the
    * same RocksDB gets (600) and puts (200).
    *
    * @param initial optional (steamId → PlayerState) warm-start snapshot —
    *                the TWS twin of [[statefulPlayerStatsFrom]]. */
  def statefulPlayerStatsTws(
      events: Dataset[Event],
      ttl: Option[java.time.Duration] = None,
      initial: Option[Dataset[(String, PlayerState)]] = None): Dataset[PlayerStatsRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val grouped = events.groupByKey(_.steamId)
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    initial match {
      case Some(init) =>
        grouped.transformWithState(
          new PlayerStatsProcessor(ttl), timeMode, OutputMode.Update(),
          init.groupByKey(_._1).mapValues(_._2),
          implicitly[org.apache.spark.sql.Encoder[PlayerStatsRow]],
          implicitly[org.apache.spark.sql.Encoder[PlayerState]])
      case None =>
        grouped.transformWithState(
          new PlayerStatsProcessor(ttl), timeMode, OutputMode.Update(),
          implicitly[org.apache.spark.sql.Encoder[PlayerStatsRow]])
    }
  }

  /** Pure-relational batch twin of the stateful fold: processing ALL events as
    * one batch yields exactly the stateful operator's final state (counters
    * and the max-name pick are order-insensitive; `second`/`round` maxima
    * coincide with the global max when there is a single batch). Fully
    * Catalyst-visible: partial (map-side) aggregation + single shuffle, no
    * per-row JVM objects — this is the shape that scales to 100 TB.
    */
  def batchPlayerStats(events: DataFrame): DataFrame = {
    val agged = events
      .groupBy(col("steamId"))
      .agg(
        max(when(trim(col("player"), graft.core.PlayerState.BlankChars) =!= "",
          col("player"))).as("playerName0"),
        // clamped at 0 like the fold's accumulators (reference inits
        // second/currentRound to 0, so all-negative inputs emit 0)
        greatest(max(col("second")), lit(0L)).as("second"),
        count(when(col("eventType") === "kill", 1)).as("kills"),
        count(when(col("eventType") === "death", 1)).as("deaths"),
        count(when(col("eventType") === "assist", 1)).as("assists"),
        coalesce(sum(when(col("eventType") === "damage", col("amount"))), lit(0L)).as("damage"),
        greatest(max(col("round")), lit(0L)).as("round"))
    agged.select(
      coalesce(col("playerName0"), lit("")).as("playerName"),
      col("steamId"),
      col("second"),
      col("kills"), col("deaths"), col("assists"), col("damage"),
      when(col("deaths") === 0, col("kills").cast("double"))
        .otherwise(col("kills").cast("double") / col("deaths"))
        .as("kdRatio"),
      // Java double-division semantics for round=0 (reference's unguarded
      // `damage / currentRound`): ±Infinity / NaN — Spark's ANSI `/`
      // would instead throw DIVIDE_BY_ZERO, so the zero arm is explicit
      when(col("round") =!= 0, col("damage").cast("double") / col("round"))
        .otherwise(
          when(col("damage") > 0, lit(Double.PositiveInfinity))
            .when(col("damage") < 0, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.NaN)))
        .as("damagePerRound"))
  }
}
