package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic catalog tables with the schemas of FIXTURES.md §B, generated
  * from a seed so a run needs no input outside its checkout. Every column is
  * a hash of (seed, table, row id, column), so the tables do not depend on
  * partitioning or on the machine. Each table is written as one parquet file
  * `<dir>/<table>.parquet`, the layout the catalog and the DuckDB oracle
  * (`tools/oracle_check.py`) both read. Row counts follow the scale factor:
  * lineitem ~6M x sf, orders 1.5M x sf, events 1M x sf, documents 50k x sf. */
object Fixture {

  /** The tables for `label` under `cacheDir`, generated on first use. The
    * tables are a pure function of (sf, seed) and the benchmark build, so a
    * checkout generates them once; runs only read them. */
  def cached(spark: SparkSession, cacheDir: String, label: String, sf: Double, seed: Long): String = {
    val dir = Paths.get(cacheDir, s"fixture-$label-seed$seed")
    if (!Files.exists(dir)) {
      val tmp = Paths.get(cacheDir, s".tmp-$label-${System.nanoTime()}")
      write(spark, tmp.toString, sf, seed)
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): String = {
    Files.createDirectories(Paths.get(dir))
    def n(base: Double, min: Long): Long = math.max(min, math.round(base * sf))
    def rows(n: Long): DataFrame = spark.range(n).toDF()
    val nSupp = n(10000, 10); val nCust = n(150000, 150); val nPart = n(200000, 200)
    val nOrders = n(1500000, 1500); val nEvents = n(1000000, 1000)
    val nUsers = n(15000, 50); val nDocs = n(50000, 500); val nEmb = n(20000, 500)

    val (supp, cust, part, ord, line, ev) = (new Gen(seed, "supplier"), new Gen(seed, "customer"),
      new Gen(seed, "part"), new Gen(seed, "orders"), new Gen(seed, "lineitem"), new Gen(seed, "events"))
    save(dir, "region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        col("id").cast("int") + 1).as("r_name")))
    save(dir, "nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save(dir, "supplier", rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      supp.int("nation", 25).as("s_nationkey"), supp.money("bal", -999.99, 9999.99).as("s_acctbal")))
    save(dir, "customer", rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      cust.int("nation", 25).as("c_nationkey"), cust.money("bal", -999.99, 9999.99).as("c_acctbal"),
      cust.pick("seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save(dir, "part", rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", part.pick("adj", Seq("large", "hot", "blue", "small", "green", "red", "cold",
        "steel", "bright", "dark")), part.pick("noun", Seq("ring", "bolt", "gear", "pipe", "valve",
        "plate", "screw", "spring"))).as("p_name"),
      concat(lit("Brand#"), part.int("brand", 25) + 1).as("p_brand"),
      part.pick("type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (part.int("size", 50) + 1).as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    val orderDay = ord.int("odate", 2404) // 1995-01-01 .. 2001-08-01
    save(dir, "orders", rows(nOrders).select(col("id").as("o_orderkey"),
      ord.long("cust", nCust).as("o_custkey"),
      ord.pick("status", Seq("F", "O", "P")).as("o_orderstatus"),
      ord.money("price", 1000.0, 500000.0).as("o_totalprice"),
      ord.day(orderDay).as("o_orderdate"),
      ord.pick("prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    // 1..7 lines per order (mean 4): lineitem ~ 4 x orders
    val li = rows(nOrders)
      .select(col("id").as("o"), orderDay.as("od"), (ord.int("nlines", 7) + 1).as("k"))
      .select(col("o"), col("od"), explode(sequence(lit(1), col("k"))).as("ln"))
      .withColumn("id", col("o") * 8 + col("ln"))
    save(dir, "lineitem", li.select(col("o").as("l_orderkey"),
      line.long("part", nPart).as("l_partkey"), line.long("supp", nSupp).as("l_suppkey"),
      col("ln").as("l_linenumber"), (line.int("qty", 50) + 1).cast("double").as("l_quantity"),
      line.money("xp", 900.0, 105000.0).as("l_extendedprice"),
      (line.int("disc", 11) / 100.0).as("l_discount"), (line.int("tax", 9) / 100.0).as("l_tax"),
      line.pick("rf", Seq("A", "N", "R")).as("l_returnflag"),
      line.pick("ls", Seq("F", "O")).as("l_linestatus"),
      line.day(col("od") + line.int("ship", 121) + 1).as("l_shipdate")))
    // events: ts increasing with event_id over 30 days
    val stepUs = 30L * 86400 * 1000000 / nEvents
    save(dir, "events", rows(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + ev.long("jit", stepUs))
        .cast("timestamp_ntz").as("ts"),
      ev.long("user", nUsers).as("user_id"),
      ev.pick("type", Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(lit(-50.0) * ln(lit(1.0) - ev.unit("value")), 2).as("value"),
      format_string("{\"k\": %d}", ev.int("k", 100)).as("props")))
    save(dir, "documents", documents(rows(nDocs), new Gen(seed, "documents")))
    save(dir, "embeddings", embeddings(spark, seed, nEmb))
    dir
  }

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** 10-90 word texts over a 30-word vocabulary; every 20th document is a
    * near-duplicate of an earlier one (its text plus " dup"). */
  private def documents(ids: DataFrame, g: Gen): DataFrame = {
    val words = typedLit(Words)
    val base = ids.withColumn("len", g.int("len", 81) + 10)
    def textOf(id: Column, len: Column): Column = array_join(transform(sequence(lit(1), len), i =>
      element_at(words, (pmod(xxhash64(lit(g.seed), lit("w"), id, i), lit(Words.size.toLong)) + 1)
        .cast("int"))), " ")
    val src = when(col("id") % 20 === 19 && col("id") > 20, col("id") - 17).otherwise(col("id"))
    val srcLen = g.int("len", 81, src) + 10
    val text = when(col("id") === src, textOf(col("id"), col("len")))
      .otherwise(concat(textOf(src, srcLen), lit(" dup")))
    base.select(col("id").as("doc_id"), text.as("text"),
        g.pick("lang", Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors of dimension 64 around 10 label centroids. */
  private def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = (0L until n).map { id =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(64)(d => centers(label)(d) + 0.8 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / norm).toFloat), label)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  /** Write `df` as the single file `<dir>/<name>.parquet`. */
  private def save(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.move(part, Paths.get(dir, s"$name.parquet"))
    graft.util.Fs.deleteRecursively(tmp)
  }

  /** Column generators: each value is a hash of (seed, table, column, key). */
  final class Gen(val seed: Long, table: String) {
    private def h(c: String, key: Column): Column = xxhash64(lit(seed), lit(table), lit(c), key)
    def long(c: String, bound: Long, key: Column = col("id")): Column = pmod(h(c, key), lit(bound))
    def int(c: String, bound: Int, key: Column = col("id")): Column =
      long(c, bound.toLong, key).cast("int")
    def unit(c: String): Column = long(c, 1L << 40) / (1L << 40).toDouble
    def money(c: String, lo: Double, hi: Double): Column =
      round(lit(lo) + unit(c) * (hi - lo), 2)
    def pick(c: String, xs: Seq[String]): Column =
      element_at(typedLit(xs), int(c, xs.size) + 1)
    def day(d: Column): Column =
      date_add(lit(java.sql.Date.valueOf("1995-01-01")), d).cast("timestamp_ntz")
  }
}
