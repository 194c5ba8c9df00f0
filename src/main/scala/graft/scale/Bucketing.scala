package graft.scale

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed co-located joins — the shuffle-elimination tool history/SCALE.md
  * reaches for on repeated large-fact joins: write both sides
  * `bucketBy(n, key)` once, and every subsequent equi-join on the key
  * is Exchange-free (Spark matches the bucket spec on both sides).
  * At 100 TB the one-time bucketed write amortizes across every
  * downstream join/aggregation on the same key.
  */
object Bucketing {

  /** Persist `df` as a bucketed managed table (overwrites). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
      sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Equi-join two bucketed tables on their bucket key. When both were
    * written with the same bucket count on the join key, the physical
    * plan contains no Exchange (verified in BucketingSpec).
    */
  def colocatedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
