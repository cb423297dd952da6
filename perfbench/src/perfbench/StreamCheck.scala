package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.parse.GameLogParser
import graft.core.stats.PlayerStatsEngine
import graft.io.Sinks
import graft.streaming.Pipeline

/** Correctness of a stream run, and the per-layer replay of one captured batch. */
object StreamCheck {

  val Compared = Seq("playerName", "kills", "deaths", "assists", "damage", "kdRatio")

  def parsed(kills: DataFrame, damages: DataFrame): DataFrame =
    GameLogParser.parseKillLines(kills).unionByName(GameLogParser.parseDamageLines(damages))

  /** Failures found when the sink's last row per steamId is compared with
    * `batchPlayerStats` over every line the generator published (`killDir`,
    * `damageDir`), and both with the generator's own plain-Scala model.
    * Events in (parsed from the published lines) must equal the events the
    * generator put in, and the sink's totals must account for all of them.
    * Each of `sinks` (label, rows) carries the Compared columns, `steamId`
    * and `batch_id`. */
  def check(spark: SparkSession, sinks: Seq[(String, DataFrame)], killDir: String,
      damageDir: String, model: GameLog.Model): Seq[String] = {
    val lines = (spark.read.text(killDir), spark.read.text(damageDir))
    val events = parsed(lines._1, lines._2).cache()
    val expected = PlayerStatsEngine.batchPlayerStats(events).cache()
    def lastRows(sinkRows: DataFrame) = sinkRows
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("steamId")).orderBy(col("batch_id").desc)))
      .where(col("rn") === 1).drop("rn", "batch_id")
    val modelDf = {
      import spark.implicits._
      val rows = Seq.newBuilder[(String, String, Long, Long, Long, Long)]
      model.perKey.forEach((k, t) => rows += ((k, t.name, t.kills, t.deaths, t.assists, t.damage)))
      rows.result().toDF("steamId", "playerName", "kills", "deaths", "assists", "damage")
    }
    def diff(a: DataFrame, b: DataFrame, cols: Seq[String], label: String): Option[String] = {
      val j = a.as("a").join(b.as("b"), Seq("steamId"), "full_outer")
      val bad = j.where(not(cols.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)))
      val n = bad.count()
      if (n == 0) None
      else Some(s"$label: $n steamIds differ, e.g. " +
        bad.limit(3).collect().map(_.mkString("(", ",", ")")).mkString(" "))
    }
    val inEvents = events.count()
    val sinkFailures = sinks.flatMap { case (label, rows) =>
      val last = lastRows(rows)
      val totals = last.agg(sum(col("kills") + col("deaths") + col("assists")), sum(col("damage")))
        .collect()(0)
      val outKeyEvents = if (totals.isNullAt(0)) 0L else totals.getLong(0)
      val outDamage = if (totals.isNullAt(1)) 0L else totals.getLong(1)
      Seq(
        diff(last, expected, Compared, s"$label: sink vs batchPlayerStats"),
        if (outKeyEvents == model.keyEvents && outDamage == model.damageTotal) None
        else Some(s"$label: sink accounts for $outKeyEvents kill/death/assist events and " +
          s"damage $outDamage; generator put in ${model.keyEvents} and ${model.damageTotal}")
      ).flatten
    }
    val failures = Seq(
      diff(expected, modelDf, Compared.filterNot(_ == "kdRatio"), "batchPlayerStats vs generator model"),
      if (inEvents == model.events) None
      else Some(s"parsed events in = $inEvents, generator put in ${model.events}")
    ).flatten ++ sinkFailures
    events.unpersist(); expected.unpersist()
    failures
  }

  /** Replay one captured batch of lines through the parse layer, the parse +
    * fold, and the workload's sink; median of `reps` replays each.
    * `stats.fold_ms` is the fold's share: parse + fold minus parse. */
  def layerProbe(spark: SparkSession, kills: DataFrame, damages: DataFrame,
      sink: (DataFrame, Long) => Unit, reps: Int = 3): Seq[(String, Double, String)] = {
    val k = kills.cache(); val d = damages.cache()
    val nLines = k.count() + d.count()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String, i: Int)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      Trace.span(s"probe-$i", name)(body)
      (System.nanoTime() - t0) / 1e6
    }
    val parseMs = (1 to reps).map(i => timed("parse", i)(noop(parsed(k, d))))
    val foldMs = (1 to reps).map(i =>
      timed("parse+fold", i)(noop(PlayerStatsEngine.batchPlayerStats(parsed(k, d)))))
    val out = PlayerStatsEngine.batchPlayerStats(parsed(k, d)).localCheckpoint()
    val outRows = out.count()
    val sinkMs = (1 to reps).map(i => timed("sink", i)(sink(out, 1000000L + i)))
    val events = parsed(k, d).count()
    k.unpersist(); d.unpersist()
    Seq(
      ("parse.ms", Metrics.median(parseMs), "ms"),
      ("stats.fold_ms", Metrics.median(foldMs) - Metrics.median(parseMs), "ms"),
      ("parse.events_per_line", events.toDouble / nLines, "ratio"),
      ("sink.write_ms", Metrics.median(sinkMs), "ms"),
      ("sink.rows", outRows.toDouble, "count"))
  }

  /** State-store numbers for a workload whose own streams keep no state: the
    * stateful pipeline drained with AvailableNow over `lines` split into
    * `files` files of each kind, one file per trigger. */
  def stateProbe(spark: SparkSession, root: Path, lines: Seq[(String, String)],
      files: Int = 4): Seq[(String, Double, String)] = {
    val dirs = Seq("kills", "damages").map(d => root.resolve(d))
    dirs.foreach(Files.createDirectories(_))
    lines.grouped(math.max(1, lines.size / files)).zipWithIndex.foreach { case (chunk, k) =>
      GameLog.writeLines(dirs(0).resolve(f"part-$k%05d.csv"), chunk.map(_._1))
      GameLog.writeLines(dirs(1).resolve(f"part-$k%05d.csv"), chunk.map(_._2))
    }
    val read = (d: Path) => spark.readStream.option("maxFilesPerTrigger", "1").text(d.toString)
    val q = Sinks.historizedSink(Pipeline.playerStats(read(dirs(0)), read(dirs(1))),
        Trigger.AvailableNow(), Some(root.resolve("checkpoint").toString)) { (df, _) =>
        df.write.format("noop").mode("overwrite").save()
      }.queryName("state_probe").start()
    q.awaitTermination()
    Phases.summarize(q.recentProgress.toSeq).filter(_._1.startsWith("state."))
  }
}
