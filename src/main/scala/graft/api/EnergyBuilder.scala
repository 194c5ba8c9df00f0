package graft.api

import graft.core.{EnergyParams, GraphParams}
import graft.functions.VectorFunctions._
import graft.spectral.{FeatureLaplacian, TauMode}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel

/** Energy-only index build — the Spark-native counterpart of the
  * reference's `ArrowSpaceBuilder.build_energy` (reference:
  * src/lib.rs:332-376; stages E1-E6 of SURVEY.md §2.2). The crate
  * internals are not vendored in the reference repo, so each stage is
  * a documented reconstruction pinned to the observable contract:
  * the result graph has ≈`optical_tokens` nodes while λ is kept for
  * every original item ("graph_nodes=39, lambdas_len=1681",
  * reference tests/output/1761234699_v0_18_energymaps_8_sweep/
  * test_results.txt).
  *
  * Dataflow (all stages shuffle-bounded; only the ≤2·opticalTokens
  * centroids and the F×F Laplacian ever reach the driver):
  *
  *  E1 diffusion — `steps` iterations of x ← x + η·(mean_N(x) − x)
  *     over a `neighborK`-NN cosine graph (heat-kernel smoothing).
  *     One reduce shuffle per step; each step persisted, with a
  *     localCheckpoint every few steps to truncate lineage (persist
  *     alone does not: a lost block would otherwise recompute through
  *     every prior step).
  *  E2 trim — drop the `trimQuantile` fraction of items farthest
  *     from the global mean (approxQuantile + filter).
  *  E3 optical-token compression — deterministic k-means
  *     (farthest-first seeding + fixed Lloyd iterations,
  *     [[graft.scale.DeterministicKMeans]]) on the diffused, trimmed
  *     vectors.
  *  E4 dispersion splitting — centroids whose member dispersion
  *     exceeds the `splitQuantile` quantile split into c ± splitTau·σ
  *     (σ = element-wise member std), giving graph_nodes within
  *     [opticalTokens − empty, 2·opticalTokens].
  *  E5 energy-weighted centroid edges — per-centroid `candidateM`
  *     nearest candidates, weight = wLambda·λ-proximity +
  *     wDisp·dispersion-similarity + wDirichlet·Dirichlet smoothness
  *     (no cosine in the weights, per src/lib.rs:303-308).
  *  E6 λ re-synthesis — F×F feature Laplacian from the energy graph
  *     signals (same co-energy construction as the standard build),
  *     then per-item λ for ALL original items.
  */
object EnergyBuilder {

  /** itemsRaw: (id: integral, vec: array<numeric>). Returns the model
    * (λ for every input item, Laplacian from the energy graph) and the
    * centroid-graph edges (src, dst, dist, weight) with
    * ≈opticalTokens nodes.
    */
  def buildEnergy(
      itemsRaw: DataFrame,
      energy: EnergyParams,
      params: GraphParams,
      tauMode: TauMode = TauMode.Median): (ArrowSpaceModel, DataFrame) = {
    val spark = itemsRaw.sparkSession
    import spark.implicits._

    val items = itemsRaw
      .select(
        F.col("id").cast("long").as("id"),
        F.col("vec").cast("array<double>").as("vec"))
      .withColumn("vnorm", l2normalize(F.col("vec")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // count + dimensionality in one aggregation job
    val s1 = graft.core.Debug.timed("E0 scan+stats")(items
      .agg(
        F.count(F.lit(1)).as("n"),
        F.max(F.size(F.col("vec"))).as("f"),
        // size(null) = -1: one min() rejects both null and ragged
        // vectors up front (same guard as the standard builder) —
        // otherwise the E1 seqOp AIOOBEs after the kNN graph already ran
        F.min(F.size(F.col("vec"))).as("fmin")).head)
    val nItems = s1.getLong(0)
    require(nItems > 0, "items must be non-empty")
    val nFeatures = s1.getInt(1)
    require(s1.getInt(2) == nFeatures,
      s"all vectors must have the same non-null length: found lengths " +
        s"${s1.getInt(2)} and $nFeatures (size -1 = null vector)")

    // E1: diffusion over a neighborK-NN graph (no eps cutoff: the
    // rectified-cosine distance is ≤ 1 everywhere, so eps=1 keeps all).
    val knnParams = GraphParams(
      eps = 1.0, k = energy.neighborK, topk = params.topk,
      p = params.p, sigma = Some(params.sigmaValue), seed = params.seed)
    val neighborEdges = graft.graph.KnnGraph
      .epsKnnEdges(items.select("id", "vnorm"), knnParams, nItems)
      .select("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.core.Debug.timed("E1 neighbor graph")(neighborEdges.count())

    // Diffusion loop on co-partitioned RDDs: edges keyed by dst and the
    // state keyed by id share one HashPartitioner, so the edge⋈state
    // join and the state⋈sums join are both narrow (zero shuffle); the
    // only shuffle per step is the aggregateByKey — and aggregateByKey
    // (unlike the typed mapGroups it replaces) runs map-side array-sum
    // combiners, so at most one partial (sum, count) per (partition,
    // src) crosses the network instead of every |E| neighbor vector.
    // partition count sized to the DATA (~50k rows per task, like the
    // k-means fit): each diffusion step is a fixed number of jobs, and
    // on a small input 32-task stages are pure scheduling overhead,
    // while at scale the count grows with nItems as before
    val part = new org.apache.spark.HashPartitioner(
      math.min(
        math.max(items.rdd.getNumPartitions, spark.sparkContext.defaultParallelism),
        (nItems / 50000L + 1L).toInt))
    val edgesByDst = neighborEdges
      .select($"dst".as[Long], $"src".as[Long]).rdd
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var xRdd = items
      .select($"id".as[Long], $"vnorm".as[Array[Double]]).rdd
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.core.Debug.timed("E1 state seed")(xRdd.count())
    val eta = energy.eta
    var step = 0
    // whether the CURRENT xRdd was localCheckpoint'd: checkpointed
    // steps must never be unpersisted (their lineage is truncated, the
    // data cannot be recomputed), they anchor recovery for the
    // following steps; at most ⌈steps/5⌉ generations stay pinned
    var xCheckpointed = false
    while (step < energy.steps) {
      val sums = edgesByDst
        .join(xRdd) // narrow: both sides hashed by dst/id
        .map { case (_, (src, x)) => (src, (x, 1L)) }
        .aggregateByKey((null: Array[Double], 0L), part)(
          seqOp = { case ((acc, n), (x, one)) =>
            // x belongs to the cached xRdd — accumulate into a fresh
            // array, never in place.
            val a = if (acc == null) new Array[Double](nFeatures) else acc
            var i = 0
            while (i < nFeatures) { a(i) += x(i); i += 1 }
            (a, n + one)
          },
          combOp = { case ((a1, n1), (a2, n2)) =>
            if (a1 == null) (a2, n1 + n2)
            else if (a2 == null) (a1, n1 + n2)
            else {
              var i = 0
              while (i < nFeatures) { a1(i) += a2(i); i += 1 }
              (a1, n1 + n2)
            }
          })
      val prev = xRdd
      val prevCheckpointed = xCheckpointed
      xRdd = prev
        .leftOuterJoin(sums, part) // narrow: co-partitioned
        .mapValues {
          case (x, Some((xsum, n))) if n > 0 =>
            val o = new Array[Double](nFeatures)
            var i = 0
            while (i < nFeatures) { o(i) = x(i) + eta * (xsum(i) / n - x(i)); i += 1 }
            o
          case (x, _) => x
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // persist caches but does not truncate lineage: checkpoint
      // periodically (and on the last step) so an evicted block never
      // recomputes through the whole chain of prior steps
      xCheckpointed = (step + 1) % 5 == 0 || step == energy.steps - 1
      if (xCheckpointed) xRdd.localCheckpoint()
      graft.core.Debug.timed(s"E1 diffusion step $step")(
        xRdd.count()) // materialize before dropping the parent
      if (!prevCheckpointed) prev.unpersist(blocking = false)
      step += 1
    }
    val diffused = xRdd.toDF("id", "x")

    // E2: trim the trimQuantile fraction farthest from the global mean.
    val mean = graft.core.Debug.timed("E2 mean")(diffused.select($"x".as[Array[Double]]).reduce { (a, b) =>
      val o = new Array[Double](nFeatures)
      var i = 0
      while (i < nFeatures) { o(i) = a(i) + b(i); i += 1 }
      o
    }).map(_ / nItems)
    val bcMean = spark.sparkContext.broadcast(mean)
    val withDist = diffused
      .map { r => // (id, x, distance to mean)
        val id = r.getLong(0)
        val x = r.getSeq[Double](1).toArray
        val m = bcMean.value
        var d = 0.0
        var i = 0
        while (i < nFeatures) { val t = x(i) - m(i); d += t * t; i += 1 }
        (id, x, math.sqrt(d))
      }
      .toDF("id", "x", "dmean")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // relativeError 0: on an exact order statistic both engine and
    // oracle pick the SAME boundary element (same policy as TauMode's
    // exact median); at extreme scale trade back to a small eps at the
    // cost of hash-exactness.
    val cutoff = graft.core.Debug.timed("E2 trim quantile")(withDist.stat
      .approxQuantile("dmean", Array(1.0 - energy.trimQuantile), 0.0)
      .head)
    val trimmed = withDist.where(F.col("dmean") <= cutoff)

    // E3: optical-token compression via fully deterministic k-means
    // (farthest-first seeding + fixed Lloyd iterations) — same input,
    // same centroids, no partition-layout or RNG dependence, so the
    // whole energy pipeline is oracle-replayable. The reference dep's
    // smartcore KMeans also uses a simple (random) seeding; a k-center
    // sweep is the deterministic counterpart of comparable quality for
    // a coarse optical-token quantizer.
    val kmModel = graft.core.Debug.timed("E3 kmeans fit")(
      graft.scale.DeterministicKMeans.fit(
        trimmed,
        // clamp in Long BEFORE narrowing: nItems.toInt wraps negative
        // past 2^31 rows and the token count would collapse to k=2
        math.min(energy.opticalTokens.toLong, math.max(2L, nItems)).toInt,
        maxIter = 20))
    val assigned = graft.scale.DeterministicKMeans.assign(trimmed, kmModel)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Per-cluster stats: mean (centroid), element-wise std, dispersion.
    val byCluster = graft.core.Debug.timed("E3/E4 cluster stats")(assigned
      .select($"cluster".as[Int], $"x".as[Array[Double]])
      .groupByKey(_._1)
      .mapGroups { (c, it) =>
        val sum = new Array[Double](nFeatures)
        val sumSq = new Array[Double](nFeatures)
        var n = 0L
        it.foreach { case (_, v) =>
          var i = 0
          while (i < nFeatures) { sum(i) += v(i); sumSq(i) += v(i) * v(i); i += 1 }
          n += 1
        }
        val meanC = sum.map(_ / n)
        val stdC = Array.tabulate(nFeatures) { i =>
          math.sqrt(math.max(0.0, sumSq(i) / n - meanC(i) * meanC(i)))
        }
        val dispersion = math.sqrt(stdC.map(s => s * s).sum)
        (c, meanC, stdC, dispersion, n)
      }
      .collect()) // ≤ opticalTokens rows — driver-small by construction
    graft.core.Debug.log(s"E3/E4 cluster stats for ${byCluster.length} clusters")

    // E4: split high-dispersion centroids into c ± splitTau·σ.
    val dispersions = byCluster.map(_._4).sorted
    val splitCut =
      if (dispersions.isEmpty) Double.MaxValue
      else dispersions(math.min(dispersions.length - 1,
        (energy.splitQuantile * dispersions.length).toInt))
    final case class Centroid(cid: Long, vec: Array[Double], dispersion: Double, n: Long)
    val centroids: Array[Centroid] = byCluster.flatMap {
      case (c, meanC, stdC, disp, n) =>
        if (disp > splitCut) {
          val plus = Array.tabulate(nFeatures)(i => meanC(i) + energy.splitTau * stdC(i))
          val minus = Array.tabulate(nFeatures)(i => meanC(i) - energy.splitTau * stdC(i))
          Seq(
            Centroid(2L * c, plus, disp, n / 2),
            Centroid(2L * c + 1, minus, disp, n - n / 2))
        } else Seq(Centroid(2L * c, meanC, disp, n))
    }

    // Preliminary centroid energies: Rayleigh vs a cosine-kNN centroid
    // Laplacian (driver-local — ≤ 2·opticalTokens nodes).
    val prelimEdges = centroidKnn(centroids.map(c => (c.cid, c.vec)), energy.candidateM)
    val prelimLap = localFeatureLaplacian(
      spark, centroids.map(c => (c.cid, c.vec)), prelimEdges, params, nFeatures)
    val cEnergies: Map[Long, Double] =
      centroids.map(c => c.cid -> prelimLap.dirichlet(c.vec)).toMap
    val maxDisp = math.max(1e-12, centroids.map(_.dispersion).max)

    // E5: energy-weighted edges (no cosine in the weight).
    val centroidById = centroids.map(c => c.cid -> c).toMap
    val energyEdges = prelimEdges.map { case (a, b, abDist) =>
      val ca = centroidById(a)
      val cb = centroidById(b)
      val lamProx = 1.0 / (1.0 + math.abs(cEnergies(a) - cEnergies(b)))
      val dispSim = 1.0 - math.abs(ca.dispersion - cb.dispersion) / maxDisp
      val diff = Array.tabulate(nFeatures)(i => ca.vec(i) - cb.vec(i))
      val dirichlet = 1.0 / (1.0 + diff.map(d => d * d).sum)
      val w = energy.wLambda * lamProx + energy.wDisp * dispSim +
        energy.wDirichlet * dirichlet
      (a, b, abDist, w)
    }

    // E6: F×F Laplacian from the energy graph, then λ for ALL items.
    val lap = localFeatureLaplacianWeighted(
      centroids.map(c => (c.cid, c.vec)),
      energyEdges.map { case (a, b, _, w) => (a, b, w) }, params, nFeatures)
    val (withLambda, tau) = ArrowSpaceBuilder.synthesizeLambdas(items, lap, tauMode, "E6")
    items.unpersist(); neighborEdges.unpersist()
    edgesByDst.unpersist(blocking = false); xRdd.unpersist(blocking = false)
    withDist.unpersist(); assigned.unpersist()

    val edgesDf = spark.createDataFrame(
      // dist carries the real rectified-cosine centroid distance the
      // kNN pass computed — a 0.0 placeholder would silently zero any
      // consumer re-deriving kernel weights from the documented schema
      energyEdges.flatMap { case (a, b, d, w) => Seq((a, b, d, w), (b, a, d, w)) }
        .toSeq).toDF("src", "dst", "dist", "weight")
    val model = ArrowSpaceModel(withLambda, lap, tau, params, nItems, nFeatures)
    (model, edgesDf)
  }

  /** Driver-local mutual-kNN on centroids by rectified-cosine distance;
    * returns undirected (a, b, dist) with a < b, capped at candidateM
    * neighbors per node.
    */
  private def centroidKnn(
      cs: Array[(Long, Array[Double])], candidateM: Int): Array[(Long, Long, Double)] = {
    val sel = scala.collection.mutable.Set.empty[(Long, Long)]
    cs.foreach { case (a, va) =>
      cs.filter(_._1 != a)
        .map { case (b, vb) =>
          (b, 1.0 - math.max(0.0, graft.functions.VectorKernels.cosine(va, vb)))
        }
        .sortBy { case (b, d) => (d, b) }
        .take(candidateM)
        .foreach { case (b, _) => sel += ((math.min(a, b), math.max(a, b))) }
    }
    val byId = cs.toMap
    sel.toArray.sorted.map { case (a, b) =>
      (a, b, 1.0 - math.max(0.0,
        graft.functions.VectorKernels.cosine(byId(a), byId(b))))
    }
  }

  /** F×F feature Laplacian from driver-local centroid signals with
    * kernel weights from distances.
    */
  private def localFeatureLaplacian(
      spark: SparkSession,
      cs: Array[(Long, Array[Double])],
      edges: Array[(Long, Long, Double)],
      params: GraphParams,
      nF: Int): graft.spectral.LocalLaplacian = {
    val weighted = edges.map { case (a, b, d) =>
      (a, b, 1.0 / (1.0 + math.pow(d / params.sigmaValue, params.p)))
    }
    localFeatureLaplacianWeighted(cs, weighted, params, nF)
  }

  /** Same, but with caller-supplied edge weights (E5 output). */
  private def localFeatureLaplacianWeighted(
      cs: Array[(Long, Array[Double])],
      edges: Array[(Long, Long, Double)],
      params: GraphParams,
      nF: Int): graft.spectral.LocalLaplacian = {
    val byId = cs.toMap
    val m = new Array[Double](nF * nF)
    edges.foreach { case (a, b, w) =>
      val va = byId(a); val vb = byId(b)
      val diff = Array.tabulate(nF)(i => va(i) - vb(i))
      var f = 0
      while (f < nF) {
        val df = diff(f) * w
        if (df != 0.0) {
          var g = f
          while (g < nF) { m(f * nF + g) += df * diff(g); g += 1 }
        }
        f += 1
      }
    }
    FeatureLaplacian.fromCoEnergy(m, params, nF)
  }
}
