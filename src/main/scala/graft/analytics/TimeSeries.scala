package graft.analytics

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, MapState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Time-series smoothing (EWMA) — the running-metric shape a stream analyzer
  * (the reference's domain) applies to per-key measurements.
  *
  * EWMA is inherently sequential (`e_i = α·x_i + (1−α)·e_{i−1}`), which rules
  * out a map-side-combinable aggregate. Two shapes are provided:
  *
  *  - [[ewma]] (batch): per-key ordered fold over a collected array. Cost is
  *    linear per key but the whole history sits in one aggregation buffer —
  *    right when per-key history is bounded (a day of readings, a match of
  *    ticks). For unbounded keys, resample first (q60's grid) or use the
  *    streaming form.
  *  - [[ewmaStream]] (streaming): `mapGroupsWithState` carrying ONE double
  *    per key — the 100 TB form: state is O(keys), each micro-batch folds
  *    only its own points.
  *
  * With a dyadic α (0.5, 0.25, …) every step is exact IEEE arithmetic and
  * the left-to-right fold is bit-identical across the codegen'd expression,
  * the streaming fold, and DuckDB's seedless `list_reduce` (which seeds with
  * the first element — mirrored here by seeding the fold with `x_1`). */
object TimeSeries {

  /** Batch EWMA per key: points ordered by `orderCols` (must be a total
    * order per key for determinism), smoothed with weight `alpha` on the
    * new value. Returns one row per key: `n_points`, `ewma`. NULL values
    * poison a fold — filter them upstream.
    *
    * `maxPoints` bounds the per-key series this form will fold (default
    * 2²⁰): a key past the bound raises a diagnosable error naming the key
    * count instead of quietly building a multi-GB aggregation buffer. The
    * check runs where the series first materializes, so it turns an opaque
    * executor OOM into an actionable message, not a pre-emptive count pass
    * (which would cost a second exchange); keys that legitimately exceed it
    * belong on [[ewmaStream]] (O(1) state per key) or a resampled grid. */
  def ewma(
      df: DataFrame, keys: Seq[String],
      orderCols: Seq[String], valueCol: String,
      alpha: Double, maxPoints: Int = 1 << 20): DataFrame = {
    require(keys.nonEmpty, "ewma needs at least one key column")
    require(orderCols.nonEmpty, "ewma needs an ordering — EWMA is order-sensitive")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(maxPoints > 0, s"maxPoints must be positive, got $maxPoints")
    Seq("__pts", "__vals", "__v").foreach { r =>
      require(!df.columns.contains(r), s"$r column name is reserved by ewma")
    }
    // struct sorts lexicographically by field position: order columns first,
    // value last, so array_sort yields the time order
    val pt = struct((orderCols.map(col) :+ col(valueCol).as("__v")): _*)
    val sorted = df
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(pt)).as("__pts"))
      .withColumn("__pts",
        when(size(col("__pts")) <= lit(maxPoints), col("__pts"))
          .otherwise(raise_error(concat(
            lit("TimeSeries.ewma: a key's series has "), size(col("__pts")),
            lit(s" points, above maxPoints=$maxPoints — use ewmaStream " +
              "(O(1) state/key) or resample to a bounded grid")))))
      .withColumn("__vals", expr("transform(__pts, p -> p.__v)"))
    sorted.select(
      (keys.map(col) :+
        size(col("__vals")).cast("long").as("n_points") :+
        expr(
          s"""aggregate(slice(__vals, 2, size(__vals) - 1),
              element_at(__vals, 1),
              (acc, x) -> $alpha * x + ${1 - alpha} * acc)""").as("ewma")): _*)
  }

  /** One input point of the streaming form. */
  final case class Point(key: Long, t: Long, v: Double)
  /** Streaming state/output: running EWMA + points seen. */
  final case class EwmaState(key: Long, nPoints: Long, ewma: Double)

  /** Streaming EWMA: one double of state per key, updated per micro-batch in
    * event order (`t` must be monotone per key ACROSS batches for exact
    * batch-twin equality — the usual source-ordering contract; within a
    * batch the group is sorted here). Update mode; emits the running state
    * for every key touched by the batch. */
  /** The shared per-batch EWMA fold of both streaming APIs: points in
    * (t, v) order, seeded with the first value when no state exists. */
  private def foldPoints(
      key: Long, start: EwmaState, batch: Iterator[Point],
      alpha: Double): EwmaState =
    batch.toSeq.sortBy(p => (p.t, p.v)).foldLeft(start) { (s, p) =>
      val e = if (s.nPoints == 0L) p.v else alpha * p.v + (1 - alpha) * s.ewma
      EwmaState(key, s.nPoints + 1, e)
    }

  def ewmaStream(points: Dataset[Point], alpha: Double): Dataset[EwmaState] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    points
      .groupByKey(_.key)(Encoders.scalaLong)
      .mapGroupsWithState[EwmaState, EwmaState](GroupStateTimeout.NoTimeout) {
        (key: Long, batch: Iterator[Point], state: GroupState[EwmaState]) =>
          val folded = foldPoints(
            key, state.getOption.getOrElse(EwmaState(key, 0L, 0.0)), batch, alpha)
          state.update(folded)
          folded
      }(Encoders.product[EwmaState], Encoders.product[EwmaState])
  }

  /** [[ewmaStream]] on the Spark 4 `transformWithState` API — identical
    * semantics (the same [[foldPoints]]), named RocksDB-backed value state
    * with optional store-managed TTL (state for keys whose series went
    * quiet is dropped by the store — the expiry bound for unbounded key
    * spaces). Requires the RocksDB state store provider on the session. */
  def ewmaStreamTws(
      points: Dataset[Point], alpha: Double,
      ttl: Option[java.time.Duration] = None): Dataset[EwmaState] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    implicit val outEnc: org.apache.spark.sql.Encoder[EwmaState] =
      Encoders.product[EwmaState]
    points
      .groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(
        new EwmaProcessor(alpha, ttl), timeMode, OutputMode.Update())
  }

  private[analytics] class EwmaProcessor(
      alpha: Double, ttl: Option[java.time.Duration])
      extends StatefulProcessor[Long, Point, EwmaState] {
    @transient private var state: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EwmaState]("ewmaState",
        Encoders.product[EwmaState], ttl.fold(TTLConfig.NONE)(TTLConfig.apply))

    override def handleInputRows(
        key: Long, batch: Iterator[Point],
        timers: TimerValues): Iterator[EwmaState] = {
      val start = if (state.exists()) state.get() else EwmaState(key, 0L, 0.0)
      val folded = foldPoints(key, start, batch, alpha)
      state.update(folded)
      Iterator.single(folded)
    }
  }

  // ------------------------------------------------------- spike detection

  /** Batch volume-spike detection per key: each `(key, day)` count compared
    * to its trailing `[day − window, day − 1]` baseline — a RANGE frame by
    * day VALUE, so calendar gaps can't slide the window. The threshold is
    * the exact cross-multiplied `cnt·trailDays > factor·trailSum` (no float
    * rate), gated on ≥ `minDays` of history so series warm-up doesn't flag.
    * Appends `trail_sum`, `trail_days`, `is_spike`. One keyed exchange. */
  def spikeDetect(
      df: DataFrame, keys: Seq[String], dayCol: String, cntCol: String,
      window: Int = 7, factor: Long = 2, minDays: Long = 3): DataFrame = {
    require(keys.nonEmpty, "spikeDetect needs at least one key column")
    require(window > 0, s"window must be positive, got $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(dayCol))
      .rangeBetween(-window.toLong, -1L)
    df.select(col("*"),
        coalesce(sum(col(cntCol)).over(w), lit(0L)).as("trail_sum"),
        count(col(cntCol)).over(w).as("trail_days"))
      .withColumn("is_spike",
        col("trail_days") >= minDays &&
          col(cntCol) * col("trail_days") > lit(factor) * col("trail_sum"))
  }

  /** One per-day count arriving on the stream (days must be nondecreasing
    * per key ACROSS batches, each (key, day) exactly once — the same
    * source-ordering contract as [[ewmaStream]]). */
  final case class DayPoint(key: String, day: Long, cnt: Long)
  /** Streaming verdict row — field-for-field the batch form's output. */
  final case class SpikeRow(
      key: String, day: Long, cnt: Long,
      trailSum: Long, trailDays: Long, isSpike: Boolean)

  /** Streaming twin of [[spikeDetect]]: `flatMapGroupsWithState` carrying at
    * most `window` (day → count) entries per key — state is O(keys·window)
    * no matter how long the stream runs (days older than the trailing
    * baseline are evicted as each new day arrives). The 100 TB form: each
    * micro-batch touches only its own keys' bounded maps. */
  /** The shared per-batch fold of both streaming spike APIs: batch points
    * in day order against the carried (day → count) baseline map; returns
    * the verdict rows and the final evicted map. */
  private def foldSpikes(
      key: String, days0: Map[Long, Long], batch: Iterator[DayPoint],
      window: Int, factor: Long, minDays: Long): (Seq[SpikeRow], Map[Long, Long]) = {
    var days = days0
    val out = batch.toSeq.sortBy(_.day).map { p =>
      val trail = days.filter { case (d, _) =>
        d >= p.day - window && d <= p.day - 1 }
      val ts = trail.values.sum
      val td = trail.size.toLong
      // evict everything no future day's baseline can reach
      days = (days + (p.day -> p.cnt))
        .filter { case (d, _) => d >= p.day - window + 1 }
      SpikeRow(key, p.day, p.cnt, ts, td,
        td >= minDays && p.cnt * td > factor * ts)
    }
    (out, days)
  }

  def spikeStream(
      points: Dataset[DayPoint],
      window: Int = 7, factor: Long = 2, minDays: Long = 3): Dataset[SpikeRow] = {
    require(window > 0, s"window must be positive, got $window")
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.streaming.GroupStateTimeout
    points
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState[Map[Long, Long], SpikeRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[DayPoint], state: GroupState[Map[Long, Long]]) =>
          val (out, days) = foldSpikes(
            key, state.getOption.getOrElse(Map.empty[Long, Long]), batch,
            window, factor, minDays)
          state.update(days)
          out.iterator
      }(ExpressionEncoder[Map[Long, Long]](), Encoders.product[SpikeRow])
  }

  /** [[spikeStream]] on the Spark 4 `transformWithState` API — identical
    * semantics (the same [[foldSpikes]]), with the baseline carried in a
    * NAMED `MapState[day, count]` instead of a single map blob: each
    * micro-batch reads/writes only the ≤ `window` entries it touches
    * (per-entry RocksDB point lookups — the legacy form deserializes and
    * rewrites the whole map every batch), and optional store-managed TTL
    * drops series that went quiet. TTL SEMANTICS: MapState TTL expires per
    * ENTRY, not per key — so with TTL enabled, every batch that touches a
    * key REWRITES all of its surviving entries (renewing their TTL
    * together), trading the delta-writeback optimization for a whole
    * contract: a series stays complete as long as its inter-arrival gap is
    * under the TTL, and a quiet series expires wholesale rather than
    * losing older baseline days first. Pick a TTL above the longest live
    * inter-arrival gap. Requires the RocksDB provider. Scale law
    * (`ScaleLawSpec`): a 200-key batch after 1k or after 10k stored keys
    * makes the same RocksDB gets (200) and puts (200). */
  def spikeStreamTws(
      points: Dataset[DayPoint],
      window: Int = 7, factor: Long = 2, minDays: Long = 3,
      ttl: Option[java.time.Duration] = None): Dataset[SpikeRow] = {
    require(window > 0, s"window must be positive, got $window")
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    implicit val outEnc: org.apache.spark.sql.Encoder[SpikeRow] =
      Encoders.product[SpikeRow]
    points
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new SpikeProcessor(window, factor, minDays, ttl), timeMode,
        OutputMode.Update())
  }

  private[analytics] class SpikeProcessor(
      window: Int, factor: Long, minDays: Long, ttl: Option[java.time.Duration])
      extends StatefulProcessor[String, DayPoint, SpikeRow] {
    @transient private var days: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      days = getHandle.getMapState[Long, Long]("trailDays",
        Encoders.scalaLong, Encoders.scalaLong,
        ttl.fold(TTLConfig.NONE)(TTLConfig.apply))

    override def handleInputRows(
        key: String, batch: Iterator[DayPoint],
        timers: TimerValues): Iterator[SpikeRow] = {
      val before = days.iterator().map(kv => kv._1 -> kv._2).toMap
      val (out, after) = foldSpikes(key, before, batch, window, factor, minDays)
      val (removals, upserts) =
        TimeSeries.mapStateWriteback(before, after, refreshAll = ttl.isDefined)
      removals.foreach(days.removeKey)
      upserts.foreach { case (d, c) => days.updateValue(d, c) }
      out.iterator
    }
  }

  /** The MapState writeback decision, pure so the TTL contract is unit-
    * testable: evicted entries are removed; without TTL only new/changed
    * entries are upserted (per-entry delta writeback — the whole point of
    * MapState over a value blob); WITH TTL every surviving entry is
    * rewritten, because MapState TTL expires per ENTRY — skipping an
    * unchanged entry would leave its TTL clock at its last rewrite, letting
    * an ACTIVE series' older baseline days expire out from under it and
    * silently shrink trail_sum vs the batch twin. Rewriting all entries on
    * every touched batch renews the whole baseline together, so the
    * contract becomes: a series survives while its inter-arrival gap stays
    * under the TTL, and a quiet series expires wholesale. */
  private[analytics] def mapStateWriteback(
      before: Map[Long, Long], after: Map[Long, Long], refreshAll: Boolean)
      : (Iterable[Long], Iterable[(Long, Long)]) = {
    val removals = before.keys.filterNot(after.contains)
    val upserts =
      if (refreshAll) after
      else after.filter { case (d, c) => !before.get(d).contains(c) }
    (removals, upserts)
  }
}
