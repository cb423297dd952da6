package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded game-event source and its rendering into the reference's wire
  * format.
  *
  * Source events have the shape of the catalog's `events` table
  * (event_id, user_id, event_type, value). Each one is rendered as one
  * kill-log line and one damage-log line exactly the way catalog query q215
  * renders them, so a user `u` owns three steamIds: `S<u>` (kills as `P<u>`,
  * damage), `T<u>` (deaths as `V<u>`) and `U<u>` (assists as `A<u>`). The
  * tick is supplied per line, so the parsed `second` is whatever time the
  * caller encodes (`tick = t * 128`).
  *
  * [[Model]] folds the same events in plain Scala: the benchmark's own
  * expectation of the pipeline's totals, independent of Spark.
  */
final class GameLog(seed: Long, users: Int) {
  require(users > 0, "users must be positive")
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextId = 0L
  val model = new GameLog.Model

  private val Types = Array("click", "view", "purchase", "signup", "error")

  /** Render the next source event as (kill line, damage line) at `tick`,
    * folding it into [[model]]. */
  def next(tick: Long): (String, String) = {
    val eid = nextId
    nextId += 1
    val uid = rnd.nextInt(users)
    val typ = Types(rnd.nextInt(Types.length))
    // exponential with mean 50, like the fixture's `value` column
    val value = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0
    val round = 1 + uid % 19
    val killer = if (typ == "purchase") s"P$uid" else ""
    val victim = if (value > 100) s"V$uid" else ""
    val assister = typ match { case "view" => s"A$uid"; case "click" => "0"; case _ => "" }
    val damager = if (typ == "error") "" else s"S$uid"
    val amount = (100 + eid % 37) - (eid % 29)
    val kill = s"x,$tick,$round,$killer,S$uid,x,x,$victim,T$uid,x,x,$assister,U$uid"
    val damage = s"x,$tick,$round,x,x,${100 + eid % 37},${eid % 29},x,x,$damager,x"
    if (killer.nonEmpty) model.add(s"S$uid", killer, kill = 1)
    if (victim.nonEmpty) model.add(s"T$uid", victim, death = 1)
    if (assister.nonEmpty && assister != "0") model.add(s"U$uid", assister, assist = 1)
    if (damager.nonEmpty) model.add(damager, "", damage = amount, damageEvents = 1)
    (kill, damage)
  }

  def sourceEvents: Long = nextId
}

object GameLog {

  /** Per-steamId totals: kills, deaths, assists, damage and the largest name. */
  final class Model {
    final class Totals(var kills: Long = 0, var deaths: Long = 0, var assists: Long = 0,
        var damage: Long = 0, var name: String = "")
    val perKey = new java.util.HashMap[String, Totals]()
    var events = 0L
    var damageEvents = 0L

    def add(steamId: String, name: String, kill: Long = 0, death: Long = 0,
        assist: Long = 0, damage: Long = 0, damageEvents: Long = 0): Unit = {
      val t = perKey.computeIfAbsent(steamId, _ => new Totals())
      t.kills += kill; t.deaths += death; t.assists += assist; t.damage += damage
      if (name.nonEmpty && name.compareTo(t.name) > 0) t.name = name
      events += kill + death + assist + damageEvents
      this.damageEvents += damageEvents
    }

    def keyEvents: Long = events - damageEvents
    def damageTotal: Long = { var s = 0L; perKey.values.forEach(t => s += t.damage); s }
  }

  /** Write `lines` to `file` (newline-terminated UTF-8). */
  def writeLines(file: Path, lines: collection.Seq[String]): Unit = {
    val sb = new java.lang.StringBuilder(lines.size * 48)
    lines.foreach(l => sb.append(l).append('\n'))
    Files.write(file, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
