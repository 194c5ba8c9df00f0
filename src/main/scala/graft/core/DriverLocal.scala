package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Driver-local evaluation of small inputs. When an input is a few
  * hundred rows, a query's cost is Spark job scheduling and planning,
  * not compute: a streaming gate micro-batch decided through the
  * distributed operators paid ~50 jobs for ~3 s of task CPU. A table
  * that fits [[Bound]] is read once onto the driver and held as a
  * `LocalRelation` (`Shim.localFrame`); Catalyst evaluates projections
  * and filters over it at planning time (`ConvertToLocalRelation`), so
  * the same Column expressions the distributed path runs decide it
  * with no job. Only scans of stored state stay Spark jobs.
  */
private[graft] object DriverLocal {

  /** Limits of a driver-local table.
    *
    * @param rows  most rows held on the driver
    * @param bytes most bytes held on the driver (UnsafeRow size)
    */
  final case class Bound(rows: Long, bytes: Long) {
    def fits(nRows: Long, nBytes: Long): Boolean =
      nRows <= rows && nBytes <= bytes
  }

  /** The one bound: `ArrowSpaceModel.searchBatch`'s driver-held query
    * table (its n × k result rows, and the heap pairs one merge level
    * sends the driver) and what a streaming gate's driver-decided
    * micro-batch holds on the driver (the batch, and each state scan's
    * result). */
  val Default: Bound = Bound(rows = 100000L, bytes = 128L * 1024 * 1024)

  /** Most candidate pairs a driver-side pair stage ([[pairs]])
    * enumerates. */
  val MaxPairs: Long = 2000000L

  /** The rows of `df` (as UnsafeRows of `df.schema`) when they fit `b`,
    * read by ONE job; None when they do not. Each of the job's `n`
    * tasks gets a 1/n share of the bound and returns nothing once its
    * partition is over that share, so the job as a whole never ships
    * more than the bound to the driver (an input that fits the bound
    * but not evenly across its partitions counts as over it). With
    * `distinct`, each task drops rows it already holds before they
    * count against its share. Row order is `collect()`'s. */
  def collect(df: DataFrame, b: Bound,
      distinct: Boolean = false): Option[Array[InternalRow]] = {
    val schema = df.schema
    val rdd = df.queryExecution.toRdd
    val n = math.max(1, rdd.getNumPartitions).toLong
    // floorDiv keeps a negative bound negative: nothing fits it
    val share = Bound(Math.floorDiv(b.rows, n), Math.floorDiv(b.bytes, n))
    val parts = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        val proj = UnsafeProjection.create(schema)
        val buf = mutable.ArrayBuffer.empty[InternalRow]
        val seen = mutable.HashSet.empty[UnsafeRow]
        var sz = 0L
        while (it.hasNext && share.fits(buf.length, sz)) {
          val u = proj(it.next())
          if (!distinct || !seen.contains(u)) {
            val c = u.copy()
            if (distinct) seen += c
            buf += c; sz += c.getSizeInBytes
          }
        }
        if (share.fits(buf.length, sz)) buf.toArray else null
      })
    if (parts.contains(null)) None else Some(parts.flatten)
  }

  /** The rows of a frame over a `Shim.localFrame` whose projections and
    * filters Catalyst folded at planning time — no job. Throws when the
    * plan did not fold (an expression that cannot be evaluated on the
    * driver), rather than silently run one. */
  def folded(df: DataFrame): Seq[InternalRow] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data
      case p => throw new IllegalStateException(
        s"expected a driver-local plan, got ${p.nodeName}:\n$p")
    }

  /** The rows `decide` keeps of the candidate pairs of `groups`: every
    * (x, y) of group members, x listed before y, as the row
    * `pairRow(payload(x), payload(y))` of `schema`, a pair shared by
    * two groups once. `decide` must act per pair (filters and
    * projections); it folds at planning time. None when the groups
    * hold more than `maxPairs` pairs. */
  def pairs[P](spark: SparkSession, payload: Array[P],
      groups: Seq[Array[Int]], schema: StructType,
      pairRow: (P, P) => InternalRow, maxPairs: Long = MaxPairs)(
      decide: DataFrame => DataFrame): Option[Seq[InternalRow]] = {
    val total = groups.iterator
      .map(g => g.length.toLong * (g.length - 1) / 2).sum
    if (total > maxPairs) None
    else if (total == 0L) Some(Nil)
    else {
      val seen = mutable.HashSet.empty[Long]
      val n = payload.length.toLong
      val rows = mutable.ArrayBuffer.empty[InternalRow]
      for (g <- groups; x <- g.indices; y <- x + 1 until g.length)
        if (seen.add(g(x) * n + g(y)))
          rows += pairRow(payload(g(x)), payload(g(y)))
      Some(folded(decide(Shim.localFrame(spark, schema, rows.toSeq))))
    }
  }
}
