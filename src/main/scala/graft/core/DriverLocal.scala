package graft.core

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
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
    * sends the driver), `ArrowSpaceBuilder.build`'s driver-held items,
    * and what a streaming gate's driver-decided micro-batch holds on
    * the driver (the batch, and each state scan's result). */
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
      distinct: Boolean = false): Option[Array[InternalRow]] =
    collectParts(df, b, distinct).map(_.flatten)

  /** [[collect]] with the rows of each partition kept apart, in
    * partition-index order. */
  def collectParts(df: DataFrame, b: Bound,
      distinct: Boolean = false): Option[Array[Array[InternalRow]]] = {
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
    if (parts.contains(null)) None else Some(parts)
  }

  /** Σ over `rdd`'s partitions of `partial(rows)`, element-wise, in ONE
    * job and in a fixed order: the partials are keyed by partition index
    * and every sum adds them in index order, so a float sum's bits
    * depend on the rows and their partitioning only, never on the order
    * tasks finish in (`treeAggregate` ends in `RDD.fold`, which merges
    * results as they arrive). When the partials would bring more than
    * `maxBytes` to the driver, a shuffle stage first sums runs of
    * consecutive partials on the executors ([[runLength]]), so at most
    * about `maxBytes` of them reach the driver. */
  def sumPartials[T](rdd: RDD[T], size: Int, maxBytes: Long = Default.bytes)(
      partial: Iterator[T] => Array[Double]): Array[Double] = {
    val n = rdd.getNumPartitions
    val partials = rdd.mapPartitions(it => Iterator.single(partial(it)))
    val level = runLength(n, size, maxBytes) match {
      case None => partials
      case Some(run) =>
        val runs = new Partitioner {
          def numPartitions: Int = (n + run - 1) / run
          def getPartition(key: Any): Int = key.asInstanceOf[Int] / run
        }
        // each task sorts its run by partition index (spilling if it
        // must) and sums it in that order
        partials.mapPartitionsWithIndex((i, it) => it.map(i -> _))
          .repartitionAndSortWithinPartitions(runs)
          .mapPartitions(it => Iterator.single(addInOrder(it.map(_._2), size)))
    }
    addInOrder(rdd.sparkContext.runJob(level, (it: Iterator[Array[Double]]) => it.next()).iterator, size)
  }

  /** [[sumPartials]] of partials already on the driver, one per
    * partition in index order: the same runs, so the same bits. */
  def sumHeld(parts: Seq[Array[Double]], size: Int, maxBytes: Long = Default.bytes): Array[Double] = {
    val level = runLength(parts.length, size, maxBytes)
      .fold(parts)(run => parts.grouped(run).map(r => addInOrder(r.iterator, size)).toSeq)
    addInOrder(level.iterator, size)
  }

  /** How many consecutive partials one executor-side sum takes, when
    * `n` partials of `size` doubles would bring more than `maxBytes` to
    * the driver: enough that at most `maxBytes / (8·size)` partials (and
    * at most about √n, so the shuffle stage has few tasks) reach it.
    * None when all `n` fit. */
  private def runLength(n: Int, size: Int, maxBytes: Long): Option[Int] =
    if (n.toLong * size * 8L <= maxBytes) None
    else {
      val fit = math.max(1L, math.min(maxBytes / (8L * size), math.ceil(math.sqrt(n)).toLong)).toInt
      Some((n + fit - 1) / fit)
    }

  /** Element-wise sum of `size`-long partials, added in order. */
  private def addInOrder(parts: Iterator[Array[Double]], size: Int): Array[Double] = {
    val out = new Array[Double](size)
    parts.foreach { p =>
      var i = 0
      while (i < size) { out(i) += p(i); i += 1 }
    }
    out
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
