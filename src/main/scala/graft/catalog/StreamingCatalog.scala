package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.core.Event
import graft.core.parse.GameLogParser
import graft.core.stats.PlayerStatsEngine
import graft.core.enrich.Enrich
import graft.analytics.{AsofJoin, GlobalCumsum, Intervals, RangeJoin, Scoreboard, Sessionize}
import graft.ext.{Dedup, Diff, Multimodal, Prefilter, Sampling, Similarity, Skew, TextAnalysis}

import CatalogShared._

/** Streaming-native generic ops, batch-verified: event-time
  * tumbling/hopping windows, sessionization (batch + transformWithState),
  * stream-stream join, transformWithState funnel.
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object StreamingCatalog {

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // ================================================================
    // Streaming-native extension ops, batch-verified: event-time tumbling
    // window and gap sessionization
    // ================================================================

    ("q34_event_time_window", (s, dir) => {
      // ts is nanosecond epoch (read as long); integer-divide to micros so
      // the hour truncation is exact, then the standard tumbling window.
      T(s, dir, "events")
        .select(
          timestamp_micros(expr("ts div 1000")).as("t"),
          col("event_type"), dec(col("value")).as("v"))
        .groupBy(window(col("t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }, Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),


    ("q36_sessionize", (s, dir) => {
      // 30-minute gap sessions. Event time is truncated to MICROseconds on
      // both sides (DuckDB's timestamp arithmetic is µs-resolution even for
      // TIMESTAMP_NS parquet), so the oracle compares exactly.
      Sessionize.sessionize(
        T(s, dir, "events")
          .select(col("user_id"), expr("ts div 1000").as("tus")),
        Seq("user_id"), "tus", gap = 1800L * 1000 * 1000)
        .orderBy(col("user_id"), col("session_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      m AS (
        SELECT user_id, tus,
          CASE WHEN LAG(tus) OVER w IS NULL
                 OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
      sid AS (
        SELECT user_id, tus,
          CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM m)
      SELECT user_id, session_id, MIN(tus) AS start_time, MAX(tus) AS end_time,
             COUNT(*) AS n_events
      FROM sid GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Hopping (sliding) event-time window: 30-minute windows every 10
    // minutes, epoch-aligned — each event lands in exactly 3 windows (one
    // Expand of 3, not a self-join). The oracle replays the same alignment
    // with integral 10-minute µs buckets, so window membership is exact.
    ("q63_hopping_window", (s, dir) => {
      T(s, dir, "events")
        .select(
          timestamp_micros(expr("ts div 1000")).as("t"),
          col("event_type"), dec(col("value")).as("v"))
        .groupBy(window(col("t"), "30 minutes", "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }, Some("""
      WITH e AS (SELECT epoch_us(ts) // 600000000 AS b10, event_type, value
                 FROM events),
      h AS (SELECT b10 - k AS wb, event_type, value
            FROM e CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k))
      SELECT strftime(make_timestamp(wb * 600000000), '%Y-%m-%d %H:%M:%S') AS w_start,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM h GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Stream-stream interval join, oracle-gated end-to-end (the q180
    // harness): purchases and clicks replay as two file streams,
    // watermarked and inner-joined on user within a 6-hour attribution
    // window — Spark keeps both sides in range-bounded state and emits
    // matches as they meet, which for an inner join is exactly the batch
    // join. Each side is staged as ONE file so both sources land in a
    // single micro-batch (no late-arrival drops possible under
    // FileStreamSource's oldest-mtime-first order). The joined pairs then
    // aggregate per purchase in batch. VERIFICATION-HARNESS BOUNDARY
    // (q19/q170/q180 convention): memory sink + collect hands the streamed
    // pairs to the batch aggregation; production writes through the
    // distributed sinks.
    ("q185_stream_join", (s, dir) => {
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), timestamp_micros(expr("ts div 1000")).as("ts"))
      val tmp = graft.util.Staging.dir("q185_sides", dir) { p =>
        ev.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/clicks")
        ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/purch")
      }
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      val c = s2.readStream
        .schema("c_id LONG, c_user LONG, c_ts TIMESTAMP")
        .parquet(s"$tmp/clicks").withWatermark("c_ts", "1 second")
      val p = s2.readStream
        .schema("p_id LONG, p_user LONG, p_ts TIMESTAMP")
        .parquet(s"$tmp/purch").withWatermark("p_ts", "1 second")
      memorySinkRows(s, p.join(c, expr(
          """p_user = c_user AND
             c_ts >= p_ts - interval 6 hours AND c_ts <= p_ts""")),
        "graft_stream_join", "append")
        .groupBy(col("p_id"), col("p_user"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("c_id")).as("first_click"), max(col("c_id")).as("last_click"))
        .orderBy(col("p_id"))
    }, Some("""
      WITH c AS (
        SELECT event_id AS c_id, user_id, epoch_us(ts) AS tus
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT event_id AS p_id, user_id, epoch_us(ts) AS tus
        FROM events WHERE event_type = 'purchase')
      SELECT p.p_id, p.user_id AS p_user, count(*) AS n_clicks,
        min(c.c_id) AS first_click, max(c.c_id) AS last_click
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.tus BETWEEN p.tus - 21600000000 AND p.tus
      GROUP BY 1, 2 ORDER BY 1""")),


    // q89's funnel on Spark 4 `transformWithState` — the MULTI-step-state
    // port of the modern arbitrary-state API (q199 proved the single-slot
    // running stats; this carries the earliest-valid recursion's per-step
    // slots in named RocksDB-backed state), replayed REAL-streaming
    // end-to-end and gated on q89's oracle VERBATIM: both funnel APIs and
    // the batch window form must carry identical semantics under the
    // driver's hash compare.
    ("q204_tws_funnel", (s, dir) => {
      import s.implicits._
      import graft.analytics.Funnel
      val ev = T(s, dir, "events").select(
        col("user_id").as("key"),
        expr("ts div 1000").as("t"),
        array(col("event_type") === "view",
              col("event_type") === "click",
              col("event_type") === "purchase").as("steps"))
      // VERIFICATION-HARNESS BOUNDARY (q19/q199 convention): memory sink +
      // collect hand the streaming result to the batch oracle; production
      // writes through the distributed sinks.
      val tmp = graft.util.Staging.dir("q204_funnel_events", dir) { p =>
        ev.coalesce(1).write.mode("overwrite").parquet(p)
      }
      val s2 = isolated(s,
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // funnelStep is the monotone selector (filled slots form a prefix,
      // so a key's deepest emitted row carries its final times) — robust
      // under any micro-batch split of the source
      val w = Window.partitionBy(col("key")).orderBy(col("funnelStep").desc)
      memorySinkRows(s, Funnel.funnelStreamTws(
          s2.readStream.schema(ev.schema).parquet(tmp).as[Funnel.FunnelEvent], 3),
        "graft_tws_funnel", "update", post = _
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("key").as("user_id"),
            element_at(col("times"), 1).as("t_view"),
            element_at(col("times"), 2).as("t_click"),
            element_at(col("times"), 3).as("t_purchase"),
            col("funnelStep").as("funnel_step")))
        .orderBy(col("user_id"))
    }, Some(funnelOracle)),


    // Streaming sessionization, oracle-gated end-to-end (the q19/q170
    // harness pattern): the events table replays through Spark's native
    // `session_window` (REAL Structured Streaming — file source, watermark,
    // stateful session agg in append mode) and the emitted sessions must
    // equal the batch gap-rule the oracle computes in SQL. The gate is
    // sound because session_window's inclusive boundary merge IS the
    // relational `diff > gap => new` rule (pinned in SessionizeSpec), and
    // session identity is event-time-decided, not arrival-decided. A
    // year-3000 sentinel (user -1) advances the watermark so every real
    // session closes; its own never does, so it is never emitted.
    // VERIFICATION-HARNESS BOUNDARY (same as q19/q170): memory sink +
    // collect hands the streaming result to the batch oracle; production
    // writes through the distributed sinks.
    ("q180_stream_sessions", (s, dir) => {
      val staged = T(s, dir, "events")
        .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"))
      val tmp = graft.util.Staging.dir("q180_sessions", dir) { p =>
        staged.repartition(16).write.mode("overwrite").parquet(p)
        // the watermark-advancing sentinel is staged as a SEPARATE file
        // written strictly after the real events: FileStreamSource
        // processes files oldest-mtime-first, so under ANY micro-batch
        // split (maxFilesPerTrigger, future default changes) the
        // sentinel lands in the LAST batch — real sessions are always
        // in state before the watermark advances past them
        s.range(1).select(
            lit(-1L).as("user_id"),
            timestamp_micros(lit(32503680000000000L)).as("ts"))
          .coalesce(1).write.mode("append").parquet(p)
      }
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = s2.readStream.schema(staged.schema).parquet(tmp)
        .withWatermark("ts", "1 second")
      memorySinkRows(s,
          Sessionize.sessionWindows(stream, Seq("user_id"), "ts", "30 minutes"),
          "graft_stream_sessions", "append")
        .orderBy(col("user_id"), col("start_time"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      m AS (
        SELECT user_id, tus,
          CASE WHEN LAG(tus) OVER w IS NULL
                 OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
      sid AS (
        SELECT user_id, tus,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM m)
      SELECT user_id, MIN(tus) AS start_time, MAX(tus) AS end_time,
             COUNT(*) AS n_events
      FROM sid GROUP BY user_id, session_id
      ORDER BY user_id, start_time"""))
  )
}
