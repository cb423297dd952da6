package perfbench

import java.nio.file.{Files, Paths}

/** Records the expected catalog fingerprints.
  *
  *   java ... perfbench.Record <tmp> <out> <sf-label> [query,...]
  *
  * Writes the catalog fixture to `<out>/fixture`, each query's result to
  * `<out>/results/<query>` plus `oracle_sql.json` (the layout
  * `tools/oracle_check.py <out>/results <out>/fixture` checks against
  * DuckDB), and prints the fingerprints as JSON with each query's time. Copy
  * the fingerprints into `expected_fingerprints.json` only when the oracle
  * check prints ALL OK. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(tmp, out, label) = args.take(3)
    val only = args.drop(3).headOption.map(_.split(",").toSet)
    val o = Opts("catalog_mix", 0L, 0, trace = false, tmp, home = "", cache = "", tiny = label == "sf0.001",
      expected = None, fault = None)
    val spark = Env.session(o, Env.nproc)
    val (_, sf) = CatalogMix.scale(o.tiny)
    val t0 = System.nanoTime()
    val dir = Fixture.write(spark, s"$out/fixture", sf, CatalogMix.DataSeed)
    System.err.println(f"[record] fixture in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val names = CatalogMix.Queries.map(_._2).filter(q => only.forall(_(q)))
    val fps = names.map { q =>
      val t = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
      val fp = CatalogMix.fingerprint(df)
      graft.util.Caches.releaseAll()
      System.err.println(f"[record] $q%-32s ${(System.nanoTime() - t) / 1e9}%6.2f s  $fp")
      q -> fp
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/results/oracle_sql.json"),
      Json.obj(sql.toSeq.sortBy(_._1)).json)
    println(Json.obj(Seq(label -> Json.obj(fps))).json)
    spark.stop()
  }
}
