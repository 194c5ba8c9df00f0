package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** As-of (most-recent-prior) join — an operator Spark's built-in join
  * surface lacks (engine addition beyond the reference; the standard
  * time-series / event-enrichment primitive a training-data pipeline
  * needs to attach "latest state as of event time").
  *
  * Physical shape: union the two inputs tagged by side, ONE shuffle
  * keyed by the join key, sort each key's rows by (ts, side) and carry
  * the last right-side payload forward with an unbounded-preceding
  * window (`last(_, ignoreNulls = true)`). No per-row range scan, no
  * inequality join, no broadcast of either side — cost is
  * sort-within-key, exactly a sort-merge-join profile, so it survives
  * a 100× scale-up as long as single keys fit a task (salt hot keys
  * upstream if not).
  */
object AsOfJoin {

  /** For each left row, attach `payload` from the right row with the
    * greatest `rightTs` ≤ `leftTs` within the same `key` (inclusive;
    * right rows at exactly leftTs match). Left rows with no prior
    * right row get NULL payload.
    *
    * Output: all left columns + `asof_<payload>` columns.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns
    // The whole right payload travels as ONE struct: the carry-forward
    // last() sees a non-null struct for every right row even when
    // individual payload values are NULL, so (a) a matched row's NULL
    // payload is returned as NULL instead of an older row's value and
    // (b) multiple payload columns always come from the SAME right row.
    // Right rows sort BEFORE left rows at equal ts (side 0 < side 1),
    // making the match inclusive.
    val payloadStruct = F.struct(payload.map(F.col): _*)
    // a NULL right timestamp would sort nulls-FIRST and its payload
    // would be carried forward as the "most recent prior" match for
    // every early left row — an unknown-time record must match nothing
    val taggedRight = right.where(F.col(rightTs).isNotNull).select(
      (F.col(key).as("__k") +:
        F.col(rightTs).as("__ts") +:
        F.lit(0).as("__side") +:
        payloadStruct.as("__p") +:
        leftCols.map(c => F.lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val nullPayload = {
      val fields = payload.map(c => F.lit(null).cast(right.schema(c).dataType).as(c))
      F.when(F.lit(false), F.struct(fields: _*)) // typed NULL struct
    }
    val taggedLeft = left.select(
      (F.col(key).as("__k") +:
        F.col(leftTs).as("__ts") +:
        F.lit(1).as("__side") +:
        nullPayload.as("__p") +:
        leftCols.map(F.col)): _*)
    // __p as the final sort key makes the order total when several
    // right rows share (key, ts): without it, which tied payload the
    // ROWS frame carries forward is partitioning-dependent. Ties
    // resolve to the greatest payload struct, deterministically.
    val w = Window
      .partitionBy("__k")
      .orderBy(F.col("__ts").asc, F.col("__side").asc, F.col("__p").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedRight.unionByName(taggedLeft)
      .withColumn("__match", F.last(F.col("__p"), ignoreNulls = true).over(w))
      .where(F.col("__side") === 1)
      .select(
        leftCols.map(F.col) ++
          payload.map(c => F.col(s"__match.$c").as(s"asof_$c")): _*)
  }

  /** Tolerance variant: the matched right row must additionally be
    * within `toleranceSec` seconds before the left timestamp — stale
    * state beyond the horizon is nulled out (both timestamp columns
    * must be TIMESTAMP). */
  def asofJoinWithin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      toleranceSec: Long): DataFrame = {
    val withMatchTs =
      asofJoin(left, right.withColumn("__mts", F.col(rightTs)), key, leftTs, rightTs,
        payload :+ "__mts")
    // microsecond precision: unix_timestamp truncates to seconds and
    // would misclassify sub-second deltas at the tolerance boundary
    val fresh =
      F.col("asof___mts").isNotNull &&
        F.unix_micros(F.col(leftTs)) - F.unix_micros(F.col("asof___mts")) <=
          toleranceSec * 1000000L
    payload.foldLeft(withMatchTs) { case (df, c) =>
      df.withColumn(s"asof_$c", F.when(fresh, F.col(s"asof_$c")))
    }.drop("asof___mts")
  }
}
