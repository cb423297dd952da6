package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot differencing: classify every key of two table versions as
  * inserted / deleted / updated / unchanged — the audit a historized sink
  * (reference's append-history DB table) needs to turn full snapshots into
  * a change feed.
  */
object Diff {

  /** Full-outer key-join diff of two snapshots sharing a schema.
    *
    * PRECONDITION: `keys` uniquely identify a row within each snapshot —
    * that is what makes the output a well-formed change feed. Duplicate
    * keys are not detected here (that would cost an extra aggregation
    * pass) and fan out as a per-key cross product, n·m rows for a key with
    * n old and m new versions; run `exactDupGroups`-style checks upstream
    * if the key's uniqueness is not already guaranteed by the writer.
    *
    * Every key present in either snapshot yields one row:
    *  - `inserted`  — key only in `newDf`
    *  - `deleted`   — key only in `oldDf`
    *  - `updated`   — key in both, any non-key column differs (null-safe
    *                  comparison: NULL → NULL is unchanged, NULL ↔ value is
    *                  a change)
    *  - `unchanged` — key in both, all non-key columns null-safe equal
    *
    * Output: key columns, `change_type`, then `old_<c>` / `new_<c>` for each
    * non-key column — enough to emit an SCD-2 update or a CDC record
    * downstream.
    *
    * Scale: one shuffled full-outer hash join on the key (both sides
    * partition by the same key — no broadcast assumption, snapshots are
    * fact-sized), comparisons are codegen'd column equality. For a 100 TB
    * table pair, bucket both snapshots on the key at write time and the
    * exchange disappears entirely (see BucketingSpec). Scale law
    * (`ScaleLawSpec`): twice the keys shuffle exactly twice the records in
    * as many jobs. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(
      oldDf.columns.sameElements(newDf.columns),
      s"snapshots must share a schema: ${oldDf.columns.mkString(",")} vs ${newDf.columns.mkString(",")}")
    val payload = oldDf.columns.filterNot(keys.contains).toSeq
    Seq("__old_present", "__new_present").foreach { r =>
      require(!oldDf.columns.contains(r), s"$r column name is reserved by snapshotDiff")
    }
    def tag(df: DataFrame, side: String, marker: String): DataFrame =
      df.select(
        (keys.map(col) :+ lit(true).as(marker)) ++
          payload.map(c => col(c).as(s"${side}_$c")): _*)
    val joined = tag(oldDf, "old", "__old_present")
      .join(tag(newDf, "new", "__new_present"), keys.toSeq, "full_outer")
    val changed: Column = payload
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val changeType = when(col("__old_present").isNull, "inserted")
      .when(col("__new_present").isNull, "deleted")
      .when(changed, "updated")
      .otherwise("unchanged")
    joined.select(
      (keys.map(col) :+ changeType.as("change_type")) ++
        payload.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }
}
