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

/** The reference's own surface: TPC-H-ish relational base queries
  * (q01-q15), the game-log wire-format parsers + enrichment (q16-q18), the
  * stateful player-stats engine replayed through real Structured Streaming
  * (q19/q199/q20), the full pivoted scoreboard view (q33), and the HTTP
  * control plane (q215).
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object ReferenceCatalog {

  /** q19/q199's read of the stateful stream's update-mode output: each
    * key's last cumulative-complete row — robust even if the source were
    * split into several micro-batches. The CUMULATIVE counter total is the
    * monotone selector; `second` is batch-scoped (a later batch's complete
    * row can carry a SMALLER second), so the oracle's global max per key
    * is taken across every emitted row. */
  private def lastStatsRows(out: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("steamId"))
      .orderBy(
        (col("kills") + col("deaths") + col("assists") + col("damage")).desc,
        col("second").desc)
    out.withColumn("rn", row_number().over(w))
      .withColumn("second",
        max(col("second")).over(Window.partitionBy(col("steamId"))))
      .where(col("rn") === 1).drop("rn")
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // ================================================================
    // §2.4 A1-A8 aggregation / §2.2 scan-project layer
    // ================================================================

    ("q01_pricing_agg", (s, dir) => {
      T(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
            * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),


    ("q02_filter_project", (s, dir) => {
      T(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double").as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
      ORDER BY l_orderkey, l_linenumber""")),


    ("q03_union", (s, dir) => {
      val ev = T(s, dir, "events")
      val kills = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), lit("kill").as("etype"), col("value"))
      val damages = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), lit("damage").as("etype"), col("value"))
      kills.unionByName(damages).orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, 'kill' AS etype, value FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT event_id, user_id, 'damage' AS etype, value FROM events WHERE event_type = 'error'
      ORDER BY event_id""")),


    // ================================================================
    // §2.5 joins J1-J5 + §2.6 windows / sort / limit
    // ================================================================

    ("q04_latest_per_group", (s, dir) => {
      // max_by hash-agg form: one shuffle, map-side partials, no sort
      // (ordering (o_orderdate, o_orderkey) is tie-free — orderkey unique)
      val latest = Scoreboard.latestPerGroupAgg(
        T(s, dir, "orders"), Seq("o_custkey"),
        Seq("o_orderdate", "o_orderkey"))
      latest
        .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select(
          col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .orderBy(col("c_custkey"))
    }, Some("""
      WITH latest AS (
        SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
      SELECT c_custkey, c_name, o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS o_date
      FROM latest JOIN customer ON c_custkey = o_custkey
      WHERE rn = 1
      ORDER BY c_custkey""")),


    ("q05_join_const_filter", (s, dir) => {
      T(s, dir, "events")
        .join(broadcast(T(s, dir, "customer").where(col("c_custkey") === 7)),
          col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_name"), col("value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, c_name, value
      FROM events e JOIN customer c ON c.c_custkey = 7
      WHERE e.user_id = c.c_custkey
      ORDER BY event_id""")),


    ("q06_cross_join_grid", (s, dir) => {
      val months = T(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("mo")).distinct()
      val segs = T(s, dir, "customer")
        .select(col("c_mktsegment").as("seg")).distinct()
      months.crossJoin(segs).orderBy(col("mo"), col("seg"))
    }, Some("""
      SELECT mm.mo, ss.seg
      FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mo FROM orders) mm
      CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) ss
      ORDER BY mm.mo, ss.seg""")),


    ("q07_left_join_grid", (s, dir) => {
      val orders = T(s, dir, "orders")
      val customer = T(s, dir, "customer")
      val monthly = orders
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(
          date_format(col("o_orderdate"), "yyyy-MM").as("mo"),
          col("c_mktsegment").as("seg"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      val months = orders.select(date_format(col("o_orderdate"), "yyyy-MM").as("mo")).distinct()
      val segs = customer.select(col("c_mktsegment").as("seg")).distinct()
      months.crossJoin(segs)
        .join(monthly, Seq("mo", "seg"), "left")
        .select(
          col("mo"), col("seg"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy(col("mo"), col("seg"))
    }, Some("""
      WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS mo, c_mktsegment AS seg,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2)
      SELECT mm.mo, ss.seg, COALESCE(m.n_orders, 0) AS n_orders, COALESCE(m.revenue, 0.0) AS revenue
      FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mo FROM orders) mm
           CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) ss
           LEFT JOIN monthly m ON m.mo = mm.mo AND m.seg = ss.seg
      ORDER BY mm.mo, ss.seg""")),


    ("q08_locf_asof", (s, dir) => {
      val orders = T(s, dir, "orders")
      val custs = T(s, dir, "customer").where(col("c_custkey") < 100).select(col("c_custkey"))
      val monthly = orders
        .groupBy(col("o_custkey"), date_format(col("o_orderdate"), "yyyy-MM").as("mo2"))
        .agg(max(col("o_totalprice")).as("v"))
      val months = orders.select(date_format(col("o_orderdate"), "yyyy-MM").as("mo")).distinct()
      val grid = custs.crossJoin(months)
        .join(monthly,
          col("c_custkey") === col("o_custkey") && col("mo") === col("mo2"), "left")
        .select(col("c_custkey"), col("mo"), col("v"))
      Scoreboard.locf(grid, Seq("c_custkey"), "mo", "v", lit(0.0))
        .select(col("c_custkey"), col("mo"), col("v").as("locf_value"))
        .orderBy(col("c_custkey"), col("mo"))
    }, Some("""
      WITH monthly AS (
        SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS mo, MAX(o_totalprice) AS v
        FROM orders GROUP BY 1, 2),
      grid AS (
        SELECT c_custkey, mo
        FROM (SELECT c_custkey FROM customer WHERE c_custkey < 100)
             CROSS JOIN (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mo FROM orders)),
      joined AS (
        SELECT g.c_custkey, g.mo, m.v
        FROM grid g LEFT JOIN monthly m ON m.o_custkey = g.c_custkey AND m.mo = g.mo)
      SELECT c_custkey, mo,
        COALESCE(last_value(v IGNORE NULLS) OVER (
          PARTITION BY c_custkey ORDER BY mo
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS locf_value
      FROM joined
      ORDER BY c_custkey, mo""")),


    ("q09_pivot", (s, dir) => {
      Scoreboard.pivotMatrix(
        T(s, dir, "events"), "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"), count(lit(1)))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id,
        COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        COUNT(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY user_id ORDER BY user_id""")),


    ("q10_distinct", (s, dir) => {
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""")),


    ("q11_topk", (s, dir) => {
      T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT 10""")),


    ("q12_semi_join", (s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""")),


    ("q13_anti_join", (s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""")),


    ("q14_running_total", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .select(
          col("user_id"), col("event_id"),
          sum(dec(col("value"))).over(w).cast("double").as("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    }, Some("""
      SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
          PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      FROM events ORDER BY user_id, event_id""")),


    ("q15_json_agg", (s, dir) => {
      T(s, dir, "events")
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type"))
    }, Some("""
      WITH j AS (
        SELECT event_type,
          CASE WHEN json_valid(props)
                 AND json_type(json_extract(props, '$.k')) IN ('BIGINT', 'UBIGINT')
            THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k
        FROM events)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(k) AS BIGINT) AS sum_k,
        MAX(k) AS max_k,
        COUNT(DISTINCT k) AS n_distinct_k
      FROM j GROUP BY event_type ORDER BY event_type""")),


    // ================================================================
    // §2.2 P2-P7 the CSV wire-format parsers (ground-truth oracle)
    // ================================================================

    ("q16_parse_kills", (s, dir) => {
      val ev = T(s, dir, "events")
      val lines = ev.select(concat_ws(",",
        lit("x"),
        (col("event_id") * 128).cast("string"),
        (col("user_id") % 19).cast("string"),
        when(col("event_type") === "purchase",
          concat(lit("P"), col("user_id").cast("string"))).otherwise(lit("")),
        concat(lit("S"), col("user_id").cast("string")),
        lit("x"), lit("x"),
        when(col("value") > 100, concat(lit("V"), col("user_id").cast("string"))).otherwise(lit("")),
        concat(lit("T"), col("user_id").cast("string")),
        lit("x"), lit("x"),
        when(col("event_type") === "view", concat(lit("A"), col("user_id").cast("string")))
          .when(col("event_type") === "click", lit("0")).otherwise(lit("")),
        concat(lit("U"), col("user_id").cast("string"))
      ).as("value"))
      GameLogParser.parseKillLines(lines)
        .orderBy(col("second"), col("eventType"))
    }, Some("""
      SELECT ('P' || CAST(user_id AS VARCHAR)) AS player,
             ('S' || CAST(user_id AS VARCHAR)) AS "steamId",
             'kill' AS "eventType", event_id AS "second",
             CAST(0 AS BIGINT) AS amount, user_id % 19 AS round
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT ('V' || CAST(user_id AS VARCHAR)), ('T' || CAST(user_id AS VARCHAR)),
             'death', event_id, CAST(0 AS BIGINT), user_id % 19
      FROM events WHERE value > 100
      UNION ALL
      SELECT ('A' || CAST(user_id AS VARCHAR)), ('U' || CAST(user_id AS VARCHAR)),
             'assist', event_id, CAST(0 AS BIGINT), user_id % 19
      FROM events WHERE event_type = 'view'
      ORDER BY "second", "eventType"""")),


    ("q17_parse_damages", (s, dir) => {
      val ev = T(s, dir, "events")
      val lines = ev.select(concat_ws(",",
        lit("x"),
        (col("event_id") * 128).cast("string"),
        (col("user_id") % 19).cast("string"),
        lit("x"), lit("x"),
        (lit(100) + col("event_id") % 37).cast("string"),
        (col("event_id") % 29).cast("string"),
        lit("x"), lit("x"),
        when(col("event_type") === "error", lit(""))
          .otherwise(concat(lit("S"), col("user_id").cast("string"))),
        lit("x")
      ).as("value"))
      GameLogParser.parseDamageLines(lines)
        .orderBy(col("second"))
    }, Some("""
      SELECT '' AS player, ('S' || CAST(user_id AS VARCHAR)) AS "steamId",
             'damage' AS "eventType", event_id AS "second",
             (100 + event_id % 37) - (event_id % 29) AS amount,
             user_id % 19 AS round
      FROM events WHERE event_type IS DISTINCT FROM 'error'
      ORDER BY "second"""")),


    ("q18_enrich_backfill", (s, dir) => {
      val stats = T(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .withColumn("playerName",
          when(col("user_id") % 3 === 0, lit(""))
            .otherwise(concat(lit("U"), col("user_id").cast("string"))))
        .withColumn("steamId", col("user_id").cast("string"))
      val dim = T(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("steamId"), col("c_name").as("name"))
      Enrich.backfillName(stats, dim)
        .select(col("user_id"), col("n"), col("playerName"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH stats AS (
        SELECT user_id, COUNT(*) AS n,
          CASE WHEN user_id % 3 = 0 THEN '' ELSE ('U' || CAST(user_id AS VARCHAR)) END AS pn
        FROM events GROUP BY user_id)
      SELECT s.user_id, s.n,
        CASE WHEN s.pn = '' THEN COALESCE(c.c_name, '') ELSE s.pn END AS "playerName"
      FROM stats s LEFT JOIN customer c ON CAST(c.c_custkey AS VARCHAR) = CAST(s.user_id AS VARCHAR)
      ORDER BY s.user_id""")),


    // ================================================================
    // §2.4 A2-A5: the stateful engine, replayed through REAL Structured
    // Streaming (file source → mapGroupsWithState → memory sink)
    // ================================================================

    ("q19_stream_stats", (s, dir) => {
      import s.implicits._
      // VERIFICATION-HARNESS BOUNDARY (memorySinkRows): the PRODUCTION path
      // is `statefulPlayerStats → Sinks.historizedSink`, which is fully
      // distributed (foreachBatch append, no driver materialization) and is
      // what `SourcesSinksSpec`/`RecoverySpec` exercise. The file-stream
      // source needs a DIRECTORY: the derived events are staged as one
      // parquet file (1 file ⇒ 1 AvailableNow micro-batch) once per JVM.
      val (tmp, schema) = gameEventsStaging(s, dir)
      // State-store count == shuffle partitions at query start; 8 stores is
      // plenty for this key space and far less per-store setup than 32.
      // The pin lives in an isolated child session — parent never mutated.
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "8")
      memorySinkRows(s, PlayerStatsEngine.statefulPlayerStats(
          s2.readStream.schema(schema).parquet(tmp).as[Event]),
        "graft_stream_stats", "update", post = lastStatsRows)
        .orderBy(col("steamId"))
    }, Some(playerStatsOracle)),


    // q19's gate on Spark 4's transformWithState — the modern
    // arbitrary-state API (named RocksDB-backed state, store-managed TTL)
    // replayed REAL-streaming end-to-end against the SAME batch oracle, so
    // both stateful APIs carry identical semantics under the driver's
    // hash compare. The RocksDB provider is set for the query (TWS rejects
    // the default HDFS-backed store) and restored after.
    ("q199_tws_stream_stats", (s, dir) => {
      import s.implicits._
      val (tmp, schema) = gameEventsStaging(s, dir)
      val s2 = isolated(s,
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      memorySinkRows(s, PlayerStatsEngine.statefulPlayerStatsTws(
          s2.readStream.schema(schema).parquet(tmp).as[Event]),
        "graft_tws_stats", "update", post = lastStatsRows)
        .orderBy(col("steamId"))
    }, Some(playerStatsOracle)),


    ("q20_batch_stats_twin", (s, dir) => {
      PlayerStatsEngine.batchPlayerStats(gameEvents(T(s, dir, "events")))
        .orderBy(col("steamId"))
    }, Some(playerStatsOracle)),


    // ================================================================
    // §2.9 / queries.sql:30-69 — the reference's FULL pivoted view as one
    // composite plan: sparse history → dense grid (DISTINCT + CROSS JOIN)
    // → LEFT JOIN → LOCF window → 10-column pivot → ORDER BY
    // ================================================================

    ("q33_scoreboard_matrix", (s, dir) => {
      val ev = T(s, dir, "events")
      val hist = ev.where(col("event_type") === "purchase")
        .groupBy(
          (col("event_id") % 40).as("sec"),
          (col("user_id") % 10 + 1).as("pid"))
        .agg(max(dec(col("value"))).cast("double").as("v"))
      val secs = ev.select((col("event_id") % 40).as("sec")).distinct()
      val players = s.range(1, 11).select(
        col("id").as("pid"), concat(lit("p"), col("id")).as("plabel"))
      val grid = secs.crossJoin(broadcast(players))
      val joined = grid.join(hist, Seq("sec", "pid"), "left")
      val filled = Scoreboard.locf(joined, Seq("pid"), "sec", "v", lit(0.0))
      Scoreboard.pivotMatrix(
        filled, "sec", "plabel", (1 to 10).map("p" + _), first(col("v")),
        floor = Some(lit(0.0))) // queries.sql's ELSE-0 clamp
        .orderBy(col("sec"))
    }, Some("""
      WITH hist AS (
        SELECT event_id % 40 AS sec, user_id % 10 + 1 AS pid,
               CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      secs AS (SELECT DISTINCT event_id % 40 AS sec FROM events),
      players AS (SELECT unnest(generate_series(1, 10)) AS pid),
      grid AS (SELECT s.sec, p.pid FROM secs s CROSS JOIN players p),
      joined AS (
        SELECT g.sec, g.pid, h.v
        FROM grid g LEFT JOIN hist h ON h.sec = g.sec AND h.pid = g.pid),
      filled AS (
        SELECT sec, pid,
          COALESCE(last_value(v IGNORE NULLS) OVER (
            PARTITION BY pid ORDER BY sec
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS v
        FROM joined)
      SELECT sec,
        GREATEST(MAX(v) FILTER (WHERE pid = 1), 0) AS p1, GREATEST(MAX(v) FILTER (WHERE pid = 2), 0) AS p2,
        GREATEST(MAX(v) FILTER (WHERE pid = 3), 0) AS p3, GREATEST(MAX(v) FILTER (WHERE pid = 4), 0) AS p4,
        GREATEST(MAX(v) FILTER (WHERE pid = 5), 0) AS p5, GREATEST(MAX(v) FILTER (WHERE pid = 6), 0) AS p6,
        GREATEST(MAX(v) FILTER (WHERE pid = 7), 0) AS p7, GREATEST(MAX(v) FILTER (WHERE pid = 8), 0) AS p8,
        GREATEST(MAX(v) FILTER (WHERE pid = 9), 0) AS p9, GREATEST(MAX(v) FILTER (WHERE pid = 10), 0) AS p10
      FROM filled GROUP BY sec ORDER BY sec""")),


    // The reference's §3.1 lifecycle as ONE oracle-gated dataflow, driven
    // over REAL HTTP (MainController.java:29-61): POST start → dim load →
    // Spark query up → producer up; GET status mid-flight; POST stop →
    // producer down first, query drained (drain direction); GET status
    // after. The pipeline under control is the reference's own dataflow
    // (kill lines + damage lines → parse → union → stateful stats), the
    // HTTP transcript is pinned INTO the result (`lifecycle` column — any
    // deviation fails every row's hash), the internal ordering is
    // require()-asserted, and the sink table hash-gates against the
    // relational recomputation — so the control plane is catalog-covered,
    // not just spec-covered. VERIFICATION-HARNESS BOUNDARY (q19): memory
    // sink + collect hand the streamed stats to the batch oracle.
    ("q215_control_plane", (s, dir) => {
      import graft.streaming.{HttpControlPlane, Pipeline, PipelineOrchestrator, StreamController}
      val ev = T(s, dir, "events")
      // q16/q17's line derivations with round = 1 + uid % 19 (never 0, so
      // damagePerRound stays NaN-free — the A4 /0 edge has its own spec)
      val killLines = ev.select(concat_ws(",",
        lit("x"), (col("event_id") * 128).cast("string"),
        (lit(1) + col("user_id") % 19).cast("string"),
        when(col("event_type") === "purchase",
          concat(lit("P"), col("user_id").cast("string"))).otherwise(lit("")),
        concat(lit("S"), col("user_id").cast("string")),
        lit("x"), lit("x"),
        when(col("value") > 100, concat(lit("V"), col("user_id").cast("string"))).otherwise(lit("")),
        concat(lit("T"), col("user_id").cast("string")),
        lit("x"), lit("x"),
        when(col("event_type") === "view", concat(lit("A"), col("user_id").cast("string")))
          .when(col("event_type") === "click", lit("0")).otherwise(lit("")),
        concat(lit("U"), col("user_id").cast("string"))
      ).as("value"))
      val damageLines = ev.select(concat_ws(",",
        lit("x"), (col("event_id") * 128).cast("string"),
        (lit(1) + col("user_id") % 19).cast("string"),
        lit("x"), lit("x"),
        (lit(100) + col("event_id") % 37).cast("string"),
        (col("event_id") % 29).cast("string"),
        lit("x"), lit("x"),
        when(col("event_type") === "error", lit(""))
          .otherwise(concat(lit("S"), col("user_id").cast("string"))),
        lit("x")
      ).as("value"))
      val tmp = graft.util.Staging.dir("q215_lines", dir) { p =>
        killLines.coalesce(1).write.mode("overwrite").parquet(s"$p/kills")
        damageLines.coalesce(1).write.mode("overwrite").parquet(s"$p/damages")
      }
      val qname = "graft_ctrl_pipeline"
      val order = scala.collection.mutable.ListBuffer[String]()
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "8")
      val (schema, rows, lifecycle) = {
          val controller = new StreamController(() => {
            order += "query-start"
            Pipeline.playerStats(
                s2.readStream.schema("value STRING").parquet(s"$tmp/kills"),
                s2.readStream.schema("value STRING").parquet(s"$tmp/damages"))
              .writeStream.outputMode("update").format("memory")
              .queryName(qname).start()
          })
          val orch = new PipelineOrchestrator(
            loadDimension = () => {
              // the reference loads its player dimension before the query
              order += "dim-load"
              T(s, dir, "customer").limit(1).count(): Unit
            },
            controller = controller,
            producerStart = () => order += "producer-start",
            producerStop = () => order += "producer-stop")
          val http = new HttpControlPlane(orch, port = 0)
          http.start()
          val transcript =
            try {
              val base = s"http://127.0.0.1:${http.boundPort}"
              def call(method: String, path: String): String = {
                val conn = new java.net.URL(base + path).openConnection()
                  .asInstanceOf[java.net.HttpURLConnection]
                conn.setRequestMethod(method)
                val body = new String(conn.getInputStream.readAllBytes(),
                  java.nio.charset.StandardCharsets.UTF_8)
                conn.disconnect()
                body
              }
              val t1 = call("POST", "/api/stream/start")
              val t2 = call("GET", "/api/status")
              // drain the staged files through the RUNNING query, then stop
              s2.streams.active.find(_.name == qname)
                .getOrElse(sys.error("control plane did not start the query"))
                .processAllAvailable()
              val t3 = call("POST", "/api/stream/stop")
              val t4 = call("GET", "/api/status")
              Seq(t1, t2, t3, t4)
            } finally http.shutdown()
          require(order.toSeq ==
            Seq("dim-load", "query-start", "producer-start", "producer-stop"),
            s"reference lifecycle ordering violated: $order")
          val out = s2.table(qname)
          // q19's multi-batch-robust selector: last cumulative-complete row
          val w = Window.partitionBy(col("steamId"))
            .orderBy(
              (col("kills") + col("deaths") + col("assists") + col("damage")).desc,
              col("second").desc)
          val res = out
            .withColumn("rn", row_number().over(w))
            .withColumn("second",
              max(col("second")).over(Window.partitionBy(col("steamId"))))
            .where(col("rn") === 1).drop("rn")
          val r = (res.schema, res.collect(), transcript.mkString("|"))
          s2.catalog.dropTempView(qname)
          r
        }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .withColumn("lifecycle", lit(lifecycle))
        .orderBy(col("steamId"))
    }, Some("""
      WITH ev AS (
        SELECT ('P' || CAST(user_id AS VARCHAR)) AS pname,
               ('S' || CAST(user_id AS VARCHAR)) AS sid,
               'kill' AS et, event_id AS sec, CAST(0 AS BIGINT) AS amt,
               1 + user_id % 19 AS rnd
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT ('V' || CAST(user_id AS VARCHAR)), ('T' || CAST(user_id AS VARCHAR)),
               'death', event_id, CAST(0 AS BIGINT), 1 + user_id % 19
        FROM events WHERE value > 100
        UNION ALL
        SELECT ('A' || CAST(user_id AS VARCHAR)), ('U' || CAST(user_id AS VARCHAR)),
               'assist', event_id, CAST(0 AS BIGINT), 1 + user_id % 19
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT '', ('S' || CAST(user_id AS VARCHAR)),
               'damage', event_id, (100 + event_id % 37) - (event_id % 29),
               1 + user_id % 19
        FROM events WHERE event_type IS DISTINCT FROM 'error'),
      agg AS (
        SELECT sid,
          COALESCE(MAX(CASE WHEN pname <> '' THEN pname END), '') AS pn,
          GREATEST(MAX(sec), 0) AS sec,
          COUNT(*) FILTER (WHERE et = 'kill') AS kills,
          COUNT(*) FILTER (WHERE et = 'death') AS deaths,
          COUNT(*) FILTER (WHERE et = 'assist') AS assists,
          CAST(COALESCE(SUM(amt) FILTER (WHERE et = 'damage'), 0) AS BIGINT) AS damage,
          GREATEST(MAX(rnd), 0) AS rnd
        FROM ev GROUP BY sid)
      SELECT pn AS "playerName", sid AS "steamId", sec AS "second",
             kills, deaths, assists, damage,
             CASE WHEN deaths = 0 THEN CAST(kills AS DOUBLE)
                  ELSE CAST(kills AS DOUBLE) / deaths END AS "kdRatio",
             CAST(damage AS DOUBLE) / rnd AS "damagePerRound",
             'Started|Running|Stopped|Stopped' AS lifecycle
      FROM agg ORDER BY "steamId""""))
  )
}
