package graft.scale

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel

/** Fully deterministic k-means: farthest-first (k-center) seeding from
  * the smallest-id point + a FIXED number of Lloyd iterations, with a
  * total order on every decision (argmin/argmax ties break on the
  * smaller index/id). Unlike MLlib's KMeans — whose seeded random init
  * still depends on partition layout, and whose tolerance-based early
  * stop turns float drift into different iteration counts — the same
  * input always yields the same centroids and assignments, so
  * operators built on it (energy compression, IVF) are
  * oracle-checkable by replaying the exact recurrence.
  *
  * Distributed shape: seeding keeps a per-row running min-distance
  * column (one narrow mapPartitions + one reduce per centroid, no
  * shuffle — min/max reduces are order-insensitive, so they stay
  * deterministic under any merge order); each Lloyd iteration is one
  * broadcast-assign pass and one (cluster, id)-sorted shuffle whose
  * per-cluster sums accumulate sequentially in ascending-id order —
  * bit-identical to the driver-local path and independent of
  * partition layout, which a combiner-tree float sum is not. Cost:
  * O(k) passes for seeding + one row shuffle per Lloyd iteration;
  * centroids (k × F doubles) are the only driver-side state.
  */
object DeterministicKMeans {

  final case class Model(centers: Array[Array[Double]]) {
    def k: Int = centers.length

    /** Index of the nearest center (squared Euclidean; ties → smaller
      * index). */
    def predict(x: Array[Double]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centers.length) {
        val d = sqDist(x, centers(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** x/‖x‖ with ascending-f accumulation (zero vector is identity) —
    * the normalization both the spherical input pass and the
    * per-round center renorm share, and the order the SQL oracle's
    * sqrt(sum(x·x)) replays. */
  private def unit(x: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    val nm = math.sqrt(s)
    if (nm == 0.0) x else x.map(_ / nm)
  }

  /** items: (id: Long, x: Array[Double]) under the given column names.
    * Returns the fitted model; get assignments with [[assign]].
    */
  def fit(
      items: DataFrame,
      k: Int,
      maxIter: Int,
      idCol: String = "id",
      vecCol: String = "x",
      localThreshold: Long = 4000000L): Model =
    fitImpl(items, k, maxIter, idCol, vecCol, localThreshold,
      spherical = false)

  /** Spherical k-means (Dhillon & Modha 2001): the SAME deterministic
    * recurrence run on unit-normalized inputs, with each Lloyd mean
    * re-normalized to the sphere after its update. With unit centers,
    * argmin-squared-Euclid ≡ argmax-cosine FOR ANY INPUT NORM
    * (‖x−c‖² = ‖x‖² + 1 − 2⟨x,c⟩ — the ‖x‖² term is constant across
    * centers), so [[Model.predict]] and [[assign]] cluster by cosine
    * direction without requiring callers to normalize first — the
    * quantizer [[graft.operators.Similarity.ivfBuildSpherical]] uses
    * to lift IVF's L2-normalization contract.
    */
  def fitSpherical(
      items: DataFrame,
      k: Int,
      maxIter: Int,
      idCol: String = "id",
      vecCol: String = "x",
      localThreshold: Long = 4000000L): Model =
    fitImpl(items, k, maxIter, idCol, vecCol, localThreshold,
      spherical = true)

  private def fitImpl(
      items: DataFrame,
      k: Int,
      maxIter: Int,
      idCol: String,
      vecCol: String,
      localThreshold: Long,
      spherical: Boolean): Model = {
    val spark = items.sparkSession
    import spark.implicits._
    val raw0 = items
      .select(F.col(idCol).cast("long"), F.col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .rdd
    val raw =
      if (spherical) raw0.map { case (id, x) => (id, unit(x)) } else raw0
    val base = raw.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sc = spark.sparkContext
      val nRows = base.count()
      // min in Long BEFORE narrowing: nRows.toInt wraps negative past
      // 2^31 rows and max(1, negative) would silently collapse to k=1
      val kEff = math.max(1L, math.min(k.toLong, nRows)).toInt
      val nFProbe = if (nRows > 0) base.first()._2.length else 0
      // Driver-local fast path: seeding + Lloyd are O(k + iters)
      // SEQUENTIAL Spark jobs; when the input fits comfortably on the
      // driver (≤ ~32 MB of doubles — a coarse quantizer's input after
      // sampling/trim usually does) the job-scheduling overhead is the
      // entire cost, ~40 ms per job even on one task. Same recurrence,
      // id-ordered accumulation, so the result is deterministic under
      // any partition layout.
      if (nRows * math.max(1, nFProbe) <= localThreshold)
        return fitLocal(base.collect().sortBy(_._1), kEff, maxIter, spherical)

      // ---- farthest-first seeding: c0 = smallest id; c_{i+1} = the
      // point with the largest running min-distance (ties → smaller id).
      // ONE job per chosen center: the argmax reduce doubles as the
      // materializing action for the freshly-persisted generation, so
      // the parent can be dropped right after.
      val c0 = base.min()(Ordering.by(_._1))._2
      val centers = scala.collection.mutable.ArrayBuffer(c0)
      // (id, x, minDist to chosen centers)
      var state = base.map { case (id, x) => (id, x, sqDist(x, c0)) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // a checkpointed generation stays pinned only until a NEWER
      // checkpointed generation materializes (recovery of the chain in
      // between reads from the last checkpoint; once a later one is
      // real, the older one is dead weight — one full dataset copy per
      // 8 centers would otherwise accumulate for the whole seeding)
      var stateCheckpointed = false
      var lastCp: org.apache.spark.rdd.RDD[(Long, Array[Double], Double)] = null
      var prev: org.apache.spark.rdd.RDD[(Long, Array[Double], Double)] = null
      var prevCheckpointed = false
      var i = 1
      while (i < kEff) {
        // this reduce is ALSO the action that materializes the
        // freshly-persisted `state` generation — after it the parent's
        // blocks are no longer needed
        val far = state.reduce { (a, b) =>
          if (a._3 > b._3 || (a._3 == b._3 && a._1 < b._1)) a else b
        }
        if (prev != null && !prevCheckpointed) prev.unpersist(blocking = false)
        if (stateCheckpointed) {
          // `state` (checkpointed) is now materialized: the previous
          // checkpoint can be released
          if (lastCp != null) lastCp.unpersist(blocking = false)
          lastCp = state
        }
        centers += far._2
        if (i < kEff - 1) {
          val bcC = sc.broadcast(far._2)
          prev = state
          prevCheckpointed = stateCheckpointed
          state = prev
            .map { case (id, x, md) => (id, x, math.min(md, sqDist(x, bcC.value))) }
            .persist(StorageLevel.MEMORY_AND_DISK)
          stateCheckpointed = i % 8 == 0 // bound the map-chain lineage
          if (stateCheckpointed) state.localCheckpoint()
        }
        i += 1
      }
      // seeding done — nothing reads any state generation after this
      // point (Lloyd runs over `base`), so release them all
      state.unpersist(blocking = false)
      if (lastCp != null && (lastCp ne state)) lastCp.unpersist(blocking = false)

      // ---- fixed-iteration Lloyd; empty clusters keep their center.
      // The per-cluster sum runs over rows sorted ascending by id
      // (repartitionAndSortWithinPartitions keyed (cluster, id), one
      // partition per cluster hash), then accumulates SEQUENTIALLY —
      // float addition is not associative, so a combiner-tree sum
      // (aggregateByKey) would make centroids depend on shuffle-block
      // arrival order and break the module's determinism contract on a
      // real cluster. This order is bit-identical to fitLocal's
      // ascending-id scan. Cost: the assignment shuffle moves the rows
      // (not k·F partials) once per iteration — the price of exact
      // replayability; a coarse quantizer's clusters (~N/k rows) are
      // single-task-sized by construction.
      var cs = centers.toArray
      val nF = c0.length
      val lloydPart = new org.apache.spark.Partitioner {
        private val p = math.max(1, base.getNumPartitions)
        def numPartitions: Int = p
        def getPartition(key: Any): Int = key match {
          case (cluster: Int, _) => java.lang.Math.floorMod(cluster, p)
          case other => java.lang.Math.floorMod(other.hashCode, p)
        }
      }
      implicit val keyOrd: Ordering[(Int, Long)] = Ordering.Tuple2[Int, Long]
      var iter = 0
      while (iter < maxIter) {
        val bc = sc.broadcast(cs)
        val sums = base
          .map { case (id, x) =>
            var best = 0; var bestD = Double.MaxValue
            val cc = bc.value
            var c = 0
            while (c < cc.length) {
              val d = sqDist(x, cc(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            ((best, id), x)
          }
          .repartitionAndSortWithinPartitions(lloydPart)
          .mapPartitions { it =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Int, (Array[Double], Long))]
            var cur = -1
            var acc: Array[Double] = null
            var n = 0L
            def flush(): Unit =
              if (cur >= 0) out += ((cur, (acc, n)))
            it.foreach { case ((cluster, _), x) =>
              if (cluster != cur) {
                flush()
                cur = cluster
                acc = new Array[Double](nF)
                n = 0L
              }
              var f = 0
              while (f < nF) { acc(f) += x(f); f += 1 }
              n += 1L
            }
            flush()
            out.iterator
          }
          .collect()
          .toMap
        cs = Array.tabulate(cs.length) { c =>
          sums.get(c) match {
            case Some((s, n)) if n > 0 =>
              val mean = s.map(_ / n)
              if (spherical) unit(mean) else mean
            case _ => cs(c)
          }
        }
        iter += 1
      }
      Model(cs)
    } finally base.unpersist(blocking = false)
  }

  /** The same farthest-first + fixed-Lloyd recurrence on a collected,
    * id-sorted array — used when the input is driver-small so the
    * O(k + iters) sequential Spark jobs of the distributed path reduce
    * to in-memory loops. Accumulation order is ascending id (for Lloyd:
    * ascending id within each cluster), matching the distributed
    * path's id-ordered scan on a single partition.
    */
  private def fitLocal(
      data: Array[(Long, Array[Double])], kEff: Int, maxIter: Int,
      spherical: Boolean): Model = {
    require(data.nonEmpty, "items must be non-empty")
    val nF = data(0)._2.length
    val c0 = data.minBy(_._1)._2
    val centers = scala.collection.mutable.ArrayBuffer(c0)
    val minD = data.map { case (_, x) => sqDist(x, c0) }
    var i = 1
    while (i < kEff) {
      var farIdx = 0
      var j = 1
      while (j < data.length) {
        if (minD(j) > minD(farIdx) ||
          (minD(j) == minD(farIdx) && data(j)._1 < data(farIdx)._1)) farIdx = j
        j += 1
      }
      val c = data(farIdx)._2
      centers += c
      j = 0
      while (j < data.length) {
        val d = sqDist(data(j)._2, c)
        if (d < minD(j)) minD(j) = d
        j += 1
      }
      i += 1
    }

    var cs = centers.toArray
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(cs.length)(new Array[Double](nF))
      val counts = new Array[Long](cs.length)
      var j = 0
      while (j < data.length) {
        val x = data(j)._2
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val d = sqDist(x, cs(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var f = 0
        while (f < nF) { s(f) += x(f); f += 1 }
        counts(best) += 1
        j += 1
      }
      cs = Array.tabulate(cs.length) { c =>
        if (counts(c) > 0) {
          val mean = sums(c).map(_ / counts(c))
          if (spherical) unit(mean) else mean
        } else cs(c)
      }
      iter += 1
    }
    Model(cs)
  }

  /** Per-group k-means: the [[fitLocal]] recurrence run once per group
    * INSIDE executor tasks (groupByKey → buffer + id-sort → fit), with
    * only the fitted centers (Σ_g k_g × F doubles ≈ the size of ONE
    * flat model) returning to the driver. This is the sub-quantizer
    * stage of a two-level coarse quantizer
    * ([[graft.operators.Similarity.ivfBuildTwoLevel]]): groups are
    * coarse cells, each cell's sample is bounded (~trainPerList·k_sub
    * rows), and all cells fit in PARALLEL — one shuffle total, zero
    * per-center driver jobs, where the flat distributed fit pays k
    * sequential seeding jobs and one row shuffle per Lloyd round.
    * Deterministic and layout-invariant: rows are id-sorted inside
    * each group before the fit, so any partitioning of `items` yields
    * byte-identical centers (spec-pinned). Groups larger than task
    * memory are the CALLER's contract to pre-sample — the intended
    * inputs are training samples, not corpora.
    */
  def fitPerGroup(
      items: DataFrame,
      k: Int,
      maxIter: Int,
      idCol: String = "id",
      vecCol: String = "x",
      groupCol: String = "group",
      spherical: Boolean = false): Map[Int, Array[Array[Double]]] = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .select(F.col(groupCol).cast("int"), F.col(idCol).cast("long"),
        F.col(vecCol).cast("array<double>"))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val data = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        val kEff = math.max(1, math.min(k, data.length))
        (g, fitLocal(data, kEff, maxIter, spherical).centers)
      }
      .collect()
      .toMap
  }

  /** Assignment frame (idCol, vecCol, clusterCol) for a fitted model —
    * broadcast centers, one narrow pass, no shuffle. */
  def assign(
      items: DataFrame,
      model: Model,
      idCol: String = "id",
      vecCol: String = "x",
      clusterCol: String = "cluster"): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    items
      .select(F.col(idCol).cast("long"), F.col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, x) => (id, x, bc.value.predict(x)) }
      .toDF(idCol, vecCol, clusterCol)
  }
}
