package graft.scale

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Decode-once block scoring of every (large row, small row) pair, with
  * no join. The small side is decoded once into primitive arrays with
  * their squared norms hoisted, and broadcast; each task maps over the
  * large side's rows (`queryExecution.toRdd`), decodes each row once
  * with its own norm and scores it against every small row — the
  * blocked shape of exact kNN (Johnson, Douze and Jégou,
  * arXiv:1702.08734), one scan serving many top-k queries.
  *
  * Scores are bit-identical to the Column kernels: the dot product
  * accumulates in the same order and the cosine is d / √(na·nb), 0 when
  * either norm is 0. A pair whose vector or λ is null (or has a null
  * slot) scores null in the Column form and is dropped here; NaN scores
  * are kept and rank as Spark ranks them.
  */
object BlockScore {

  /** Rows decoded once: `keys(r)`, the row's column 0 as a Catalyst
    * value of `keyType`; `vecs(r)`, a primitive copy, null when the
    * array, one of its slots or the row's λ is null (the row then
    * scores no pair); `norms(r)` = Σ v²; `lambdas(r)`, NaN when absent. */
  final class Block(val keys: Array[Any],
      val vecs: Array[Array[Double]], val lambdas: Array[Double]) extends Serializable {
    val norms: Array[Double] =
      vecs.map(v => if (v == null) 0.0 else VectorKernels.normSq(v))
    /** The keys of a LONG key column. */
    lazy val ids: Array[Long] = keys.map(_.asInstanceOf[Long])
  }

  object Block {

    /** Rows laid out as (key: `keyType`, vec: array<double>[, lambda:
      * double]). */
    def of(rows: Seq[InternalRow], keyType: DataType = LongType): Block = {
      val (vecs, lambdas) = rows.map(decode).unzip
      new Block(rows.map(_.get(0, keyType)).toArray, vecs.toArray, lambdas.toArray)
    }

    /** The rows of `blocks`, in order, as one block. */
    def concat(blocks: Seq[Block]): Block = new Block(blocks.flatMap(_.keys).toArray,
      blocks.flatMap(_.vecs).toArray, blocks.flatMap(_.lambdas).toArray)

    /** An (id: long, vec) frame read onto the driver by one job. */
    def collect(df: DataFrame): Block =
      of(df.queryExecution.toRdd.map(_.copy()).collect().toSeq)
  }

  private def decode(r: InternalRow): (Array[Double], Double) = {
    val withLambda = r.numFields > 2
    if (r.isNullAt(1) || (withLambda && r.isNullAt(2))) (null, Double.NaN)
    else (VectorKernels.doublesOrNull(r.getArray(1)),
      if (withLambda) r.getDouble(2) else Double.NaN)
  }

  /** A large side's rows decoded once: (id, vec, Σ v², λ), rows that
    * score no pair dropped. */
  private def decoded(it: Iterator[InternalRow]): Iterator[(Long, Array[Double], Double, Double)] =
    it.flatMap { r =>
      val (v, lam) = decode(r)
      if (v == null) None else Some((r.getLong(0), v, VectorKernels.normSq(v), lam))
    }

  /** cos(a, b) from hoisted squared norms, bit-identical to
    * [[VectorKernels.cosine]]. Vectors of unequal length take that
    * kernel itself, whose norms cover the common prefix only. */
  @inline def cosine(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double =
    if (a.length != b.length) VectorKernels.cosine(a, b)
    else if (na == 0.0 || nb == 0.0) 0.0
    else VectorKernels.dot(a, b) / math.sqrt(na * nb)

  /** λ-aware search: the k large rows of highest τ·cos + (1−τ)·1/(1+
    * |λ_large − λ_small|) for every small row, as one heap per small
    * row (null when no pair scored — a null vector, slot or λ), kept by
    * position, so rows sharing a key keep a heap each. ONE job: each
    * task returns its partition's heaps and `treeReduce` merges them,
    * deep enough that at most `maxPairs` pairs reach the driver in one
    * level ([[treeDepth]]; a plain reduce at depth 1). The small side's
    * broadcast is released when the job ends. Heaps break score ties
    * by large id ascending, so every heap's drain is the (score desc,
    * id asc) order. */
  def blendTopK(large: DataFrame, small: Block, tau: Double, k: Int,
      maxPairs: Long): Array[TopKHeap] = {
    val rdd = large.queryExecution.toRdd
    val n = small.vecs.length
    val bc = large.sparkSession.sparkContext.broadcast(small)
    try {
      val perTask = rdd.mapPartitions { it =>
        val b = bc.value
        val heaps = new Array[TopKHeap](n)
        decoded(it).foreach { case (id, v, nv, lam) =>
          var j = 0
          while (j < n) {
            if (b.vecs(j) != null) {
              val s = tau * cosine(v, nv, b.vecs(j), b.norms(j)) +
                (1.0 - tau) * (1.0 / (1.0 + math.abs(lam - b.lambdas(j))))
              if (heaps(j) == null) heaps(j) = new TopKHeap(k, desc = true)
              heaps(j).add(s, id)
            }
            j += 1
          }
        }
        Iterator.single(heaps)
      }
      val merge = (a: Array[TopKHeap], b: Array[TopKHeap]) => {
        var j = 0
        while (j < n) {
          if (a(j) == null) a(j) = b(j) else if (b(j) != null) a(j).merge(b(j))
          j += 1
        }
        a
      }
      // depth 1 is a plain reduce, without treeAggregate's wrappers
      // (~16 ms of driver time per call on 4 partitions)
      treeDepth(rdd.getNumPartitions, n.toLong * k, maxPairs) match {
        case 1 => perTask.reduce(merge)
        case depth => perTask.treeReduce(merge, depth)
      }
    } finally bc.destroy()
  }

  /** How many partial states `RDD.treeReduce(_, depth)` over `parts`
    * partitions sends to the driver (Spark's `treeAggregate` merges a
    * level in executors while that cuts the count by more than the
    * level adds). */
  private def statesAtDriver(parts: Int, depth: Int): Int = {
    val scale = math.max(math.ceil(math.pow(parts, 1.0 / depth)).toInt, 2)
    var n = parts
    while (n > scale + math.ceil(n.toDouble / scale)) n /= scale
    n
  }

  /** The least `treeReduce` depth at which the states reaching the
    * driver, `statePairs` pairs each, hold at most `maxPairs` pairs;
    * the deepest useful one when none does. */
  private[graft] def treeDepth(parts: Int, statePairs: Long, maxPairs: Long): Int = {
    val deepest = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, parts - 1)))
    (1 until deepest).find(d => statesAtDriver(parts, d) * statePairs <= maxPairs)
      .getOrElse(deepest)
  }

  /** How a pair scores and which pairs a [[scan]] emits, as (key, tie,
    * score) rows. Heaps break score ties by the tie id ascending. */
  sealed trait Rule extends Serializable

  /** Graph edges: rectified distance 1 − max(0, cos) ≤ eps, the k
    * nearest per LARGE row, pairs of one id skipped, emitted as (large
    * id, small id, distance) as soon as the row is scanned. */
  final case class Within(eps: Double, k: Int) extends Rule

  /** Threshold pairs: every pair with large id < small id and cos ≥
    * `minCos`, emitted as (large id, small id, cos). */
  final case class Above(minCos: Double) extends Rule

  /** Scores every (row of `large`, row of `small`) pair under `rule`;
    * `large` is laid out as [[Block.of]] reads rows, with a LONG id. The
    * result has columns `names` (key, tie, score). */
  def scan(large: DataFrame, small: Block, rule: Rule, names: Seq[String]): DataFrame = {
    val spark = large.sparkSession
    val bc = spark.sparkContext.broadcast(small)
    val out = large.queryExecution.toRdd.mapPartitions(it => scored(decoded(it), bc.value, rule))
    Shim.ofRows(spark, out, StructType(Seq(StructField(names(0), LongType),
      StructField(names(1), LongType, nullable = false),
      StructField(names(2), DoubleType, nullable = false))))
  }

  /** [[scan]] of `block` against itself in ONE job, its (key, tie,
    * score) rows collected: the large rows are read by position from
    * the broadcast block in `slices` tasks, so no row ships with a
    * task, and the broadcast is released when the job ends. The same
    * pairs and scores as [[scan]] over the rows `block` was made of. */
  def scanSelf(spark: SparkSession, block: Block, rule: Rule,
      slices: Int): Array[(Long, Long, Double)] = {
    val bc = spark.sparkContext.broadcast(block)
    try spark.sparkContext.parallelize(block.vecs.indices, slices).mapPartitions { it =>
      val b = bc.value
      scored(it.filter(b.vecs(_) != null).map(i => (b.ids(i), b.vecs(i), b.norms(i), b.lambdas(i))),
        b, rule).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.collect()
    finally bc.destroy()
  }

  /** The (key, tie, score) rows of decoded large `rows` against `b`. */
  private def scored(rows: Iterator[(Long, Array[Double], Double, Double)], b: Block,
      rule: Rule): Iterator[InternalRow] = {
    val n = b.vecs.length
    val ids = b.ids
    rule match {
      case Within(eps, k) =>
        rows.flatMap { case (id, v, nv, _) =>
          val h = new TopKHeap(k, desc = false)
          var j = 0
          while (j < n) {
            if (b.vecs(j) != null && ids(j) != id) {
              val d = 1.0 - math.max(0.0, cosine(v, nv, b.vecs(j), b.norms(j)))
              if (d <= eps) h.add(d, ids(j))
            }
            j += 1
          }
          Iterator.tabulate(h.n)(i => InternalRow(id, h.ties(i), h.scores(i)))
        }
      case Above(minCos) =>
        rows.flatMap { case (id, v, nv, _) =>
          val hits = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          var j = 0
          while (j < n) {
            if (b.vecs(j) != null && id < ids(j)) {
              val c = cosine(v, nv, b.vecs(j), b.norms(j))
              if (c >= minCos) hits += InternalRow(id, ids(j), c)
            }
            j += 1
          }
          hits
        }
    }
  }
}
