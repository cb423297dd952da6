package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-shuffle pruning for selective joins: when an inner equi-join keeps
  * only a small fraction of the fact side, discard the doomed fact rows at
  * the SCAN stage — before they pay the shuffle — with a Bloom filter built
  * from the dimension side's keys.
  *
  * Spark's own runtime row-group filtering does a version of this inside
  * AQE; the explicit form here works on any plan shape, survives disabled
  * AQE, and makes the cost model visible: the filter costs one pass over the
  * dim keys (driver-side sketch build, a few MB broadcast) and saves
  * `(1 - selectivity)` of the fact side's shuffle bytes. False positives
  * only — a fact row that would have matched is NEVER dropped, so the join
  * result is bit-identical to the unfiltered join (q76's oracle IS the plain
  * join).
  */
object Prefilter {

  /** Inner equi-join with a Bloom-filter prefilter on the fact side.
    *
    * `factKey`/`dimKey` must be integral (LONG-compatible) columns; any
    * other type throws `IllegalArgumentException` before a job runs. The dim
    * side is scanned once to build the sketch (an eager job, like any
    * broadcast build); size `expectedItems` at or above the dim side's true
    * key cardinality or the false-positive rate degrades toward 1 and the
    * filter stops pruning (never wrong, just useless). */
  def bloomFilteredJoin(
      fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    // the sketch hashes the dim key by its own type but the probe hashes
    // the fact key as a long: a string "1" and a long 1 land on different
    // bits, so a non-integral key would drop matches without an error
    Dedup.requireIntegral(fact, factKey, "bloomFilteredJoin")
    Dedup.requireIntegral(dim, dimKey, "bloomFilteredJoin")
    val bf = dim.stat.bloomFilter(dimKey, expectedItems, fpp)
    // The sketch broadcast follows the same lifecycle as a broadcast-join
    // relation: ContextCleaner reclaims the blocks once the returned plan
    // (whose UDF closure is the only reference) becomes unreachable.
    val bcast = fact.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf { k: java.lang.Long =>
      k != null && bcast.value.mightContainLong(k)
    }
    // dataframe-qualified join keys: factKey/dimKey may share a NAME (the
    // common `id`-joins-`id` case), which unqualified col() would reject as
    // an ambiguous reference
    val filtered = fact.where(mightContain(col(factKey).cast("long")))
    filtered.join(dim, filtered(factKey) === dim(dimKey))
  }
}
