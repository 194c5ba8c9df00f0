package graft.spectral

import graft.core.GraphParams
import org.apache.spark.sql.{DataFrame, functions => F}

/** Builds the F×F feature-space Laplacian from the items' "signals"
  * (reference: `GraphFactory::build_spectral_laplacian`,
  * GRAPH_VARIABLES.md:17,44; TAUMODE.md:12 — the signals matrix is the
  * column view of the N×F item matrix).
  *
  * The crate's exact construction is not vendored in the reference
  * repo (SURVEY.md §7.4); this reconstruction is pinned by the
  * reference's own acceptance test: with feature affinity = cosine
  * between raw signal columns, kernel weights over ALL feature pairs
  * (no kNN cap — the feature graph stays connected), and the
  * scale-sensitive raw-Dirichlet synthesis in [[LocalLaplacian.synth]],
  * the engine reproduces test_0's exact orderings for τ=1.0 AND τ=0.9
  * ([2,1,4] / [1,2,0]); the τ=0.6/0.55 orderings additionally depend
  * on the crate's seeded dims-reduction RNG stream, which is not
  * observable from the reference repo (divergence documented in
  * ArrowSpaceSpec).
  *
  *  1. Distributed pass: Gram matrix M = XᵀX = Σ_rows x·xᵀ via a
  *     per-partition dense accumulator, summed in partition order
  *     (large partials first in runs on the executors); only O(F²)
  *     crosses the network per partition regardless of N. No join —
  *     cheaper than an edge-based pass.
  *  2. Driver-side: column-cosine affinity A_fg = M_fg/√(M_ff·M_gg),
  *     distance d = 1 − max(0, A), kernel weights w = 1/(1+(d/σ)^p)
  *     over all pairs, L = D − W kept as an edge list.
  */
object FeatureLaplacian {

  /** items: (id, vec: Array[Double]) — RAW vectors (the signals space
    * is the original, un-normalized one; pre-normalization applies to
    * item-graph distances only).
    */
  def build(items: DataFrame, params: GraphParams, nFeatures: Int): LocalLaplacian = {
    val gram = gramMatrix(items, nFeatures)
    fromGram(gram, params, nFeatures)
  }

  /** Distributed Σ x·xᵀ over all rows; returns the dense upper
    * triangle as a flat row-major F×F array. Each partition sums its
    * own rows ([[gramPartial]]) and the partials add in partition-index
    * order ([[graft.core.DriverLocal.sumPartials]], one job, with an
    * executor-side level when they are too large to all reach the
    * driver), so the same rows in the same partitions give the same bits
    * whatever order the tasks finish in. The builder's driver-held path
    * sums the same partials from the rows it holds
    * ([[graft.core.DriverLocal.sumHeld]]).
    *
    * The other float fits that are persisted or compared: the PCA
    * moments ([[graft.scale.Pca.moments]]) and `TauMode.Mean` sum their
    * partials the same way; `Similarity.dimStats` is exempt, since min
    * and max do not depend on the order they merge in.
    */
  def gramMatrix(items: DataFrame, nFeatures: Int): Array[Double] = {
    val spark = items.sparkSession
    import spark.implicits._
    val vecs = items.select(F.col("vec")).as[Array[Double]].rdd
    graft.core.DriverLocal.sumPartials(vecs, nFeatures * nFeatures)(gramPartial(_, nFeatures))
  }

  /** One partition's Gram partial: [[addOuter]] of its rows, in order. */
  def gramPartial(rows: Iterator[Array[Double]], nF: Int): Array[Double] = {
    val acc = new Array[Double](nF * nF)
    rows.foreach(addOuter(acc, _, nF))
    acc
  }

  /** acc += v·vᵀ on the upper triangle of the row-major F×F prefix of
    * `acc` — the one Gram accumulate loop. */
  def addOuter(acc: Array[Double], v: Array[Double], nF: Int): Unit = {
    var f = 0
    while (f < nF) {
      val vf = v(f)
      if (vf != 0.0) {
        val base = f * nF
        var g = f
        while (g < nF) { acc(base + g) += vf * v(g); g += 1 }
      }
      f += 1
    }
  }

  /** Driver-side feature-graph assembly from the Gram matrix: cosine
    * affinity, kernel weights over all pairs.
    */
  def fromGram(m: Array[Double], params: GraphParams, nF: Int): LocalLaplacian = {
    @inline def at(f: Int, g: Int): Double =
      if (f <= g) m(f * nF + g) else m(g * nF + f)
    val sigma = params.sigmaValue
    val edges = scala.collection.mutable.ArrayBuffer.empty[LapEdge]
    var f = 0
    while (f < nF) {
      var g = f + 1
      while (g < nF) {
        val den = at(f, f) * at(g, g)
        val aff = if (den <= 0.0) 0.0 else at(f, g) / math.sqrt(den)
        val d = 1.0 - math.max(0.0, aff)
        val w = 1.0 / (1.0 + math.pow(d / sigma, params.p))
        if (w > 0.0) edges += LapEdge(f, g, w)
        g += 1
      }
      f += 1
    }
    LocalLaplacian(nF, edges.toArray)
  }

  /** Edge-based co-energy construction (used by the energy pipeline's
    * centroid graph, E5/E6): affinity from Σ w_ij(x_i−x_j)(x_i−x_j)ᵀ
    * with per-feature kNN cap — see EnergyBuilder.
    */
  def fromCoEnergy(m: Array[Double], params: GraphParams, nF: Int): LocalLaplacian = {
    @inline def at(f: Int, g: Int): Double =
      if (f <= g) m(f * nF + g) else m(g * nF + f)
    val k = math.min(params.k, nF - 1)
    val sigma = params.sigmaValue
    def dist(f: Int, g: Int): Double = {
      val den = at(f, f) * at(g, g)
      if (den <= 0.0) 1.0
      else 1.0 - math.max(0.0, at(f, g) / math.sqrt(den))
    }
    val selected = new java.util.HashSet[Long]()
    var f = 0
    while (f < nF) {
      val cand = new Array[(Double, Int)](nF - 1)
      var g = 0; var c = 0
      while (g < nF) {
        if (g != f) { cand(c) = (dist(f, g), g); c += 1 }
        g += 1
      }
      java.util.Arrays.sort(cand, Ordering.Tuple2[Double, Int])
      var t = 0
      while (t < math.min(k, cand.length)) {
        val g2 = cand(t)._2
        val key = if (f < g2) f.toLong * nF + g2 else g2.toLong * nF + f
        selected.add(key)
        t += 1
      }
      f += 1
    }
    val edges = scala.collection.mutable.ArrayBuffer.empty[LapEdge]
    val it = selected.iterator()
    while (it.hasNext) {
      val key = it.next()
      val a = (key / nF).toInt
      val b = (key % nF).toInt
      val d = dist(a, b)
      val w = 1.0 / (1.0 + math.pow(d / sigma, params.p))
      if (w > 0.0) edges += LapEdge(a, b, w)
    }
    LocalLaplacian(nF, edges.sortBy(e => (e.f, e.g)).toArray)
  }
}
