package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class PrefilterSpec extends SparkTestBase {
  import spark.implicits._

  test("bloom-prefiltered join is bit-identical to the plain join") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_suppkey"), col("l_orderkey"))
    val sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
      .where(col("s_suppkey") % 7 === 0)
      .select(col("s_suppkey"), col("s_nationkey"))
    val plain = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .orderBy("l_orderkey", "l_suppkey").collect().map(_.toSeq).toSeq
    val bloomed = Prefilter.bloomFilteredJoin(li, sup, "l_suppkey", "s_suppkey",
        expectedItems = 10000L)
      .orderBy("l_orderkey", "l_suppkey").collect().map(_.toSeq).toSeq
    bloomed shouldBe plain
  }

  test("no false negatives even with a deliberately undersized sketch") {
    val fact = (0L until 1000L).map(k => (k, k * 2)).toDF("fk", "fv")
    val dim = (0L until 1000L by 10).map(k => (k, s"d$k")).toDF("dk", "dv")
    // 8 expected items for a 100-key dim: fpp degrades, matches must survive
    val out = Prefilter.bloomFilteredJoin(fact, dim, "fk", "dk", expectedItems = 8L)
      .select("fk").as[Long].collect().sorted
    out shouldBe (0L until 1000L by 10).toArray
  }

  test("fact and dim keys may share a column name (qualified join, no ambiguity)") {
    val fact = Seq((1L, "f1"), (2L, "f2"), (9L, "f9")).toDF("id", "fv")
    val dim = Seq((1L, "d1"), (2L, "d2")).toDF("id", "dv")
    val out = Prefilter.bloomFilteredJoin(fact, dim, "id", "id", expectedItems = 8L)
      .select("fv", "dv").as[(String, String)].collect().toSeq.sorted
    out shouldBe Seq(("f1", "d1"), ("f2", "d2"))
  }

  test("null fact keys are dropped (inner-join semantics, no NPE)") {
    val fact = Seq(Some(1L), None, Some(3L)).toDF("fk")
    val dim = Seq(1L, 2L).toDF("dk")
    val out = Prefilter.bloomFilteredJoin(fact, dim, "fk", "dk", expectedItems = 8L)
      .select("fk").as[Long].collect().toSeq
    out shouldBe Seq(1L)
  }

  test("non-integral join keys are rejected before any job runs") {
    // a string sketch probed by long never matches: rejecting beats
    // returning 0 rows where the plain join returns 2
    val strFact = Seq("1", "2", "3").toDF("fk")
    val strDim = Seq("1", "3").toDF("dk")
    val longDim = Seq(1L, 3L).toDF("dk")
    an[IllegalArgumentException] should be thrownBy
      Prefilter.bloomFilteredJoin(strFact, strDim, "fk", "dk", expectedItems = 8L)
    an[IllegalArgumentException] should be thrownBy
      Prefilter.bloomFilteredJoin(Seq(1.0, 3.0).toDF("fk"), longDim, "fk", "dk", expectedItems = 8L)
    an[IllegalArgumentException] should be thrownBy
      Prefilter.bloomFilteredJoin(Seq(1L, 3L).toDF("fk"), strDim, "fk", "dk", expectedItems = 8L)
  }
}
