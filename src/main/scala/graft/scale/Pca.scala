package graft.scale

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, functions => F}

/** Distributed PCA for embedding columns (engine addition — the
  * linear-projection sibling of the seeded JL projection in
  * [[RandomProjection]]: JL is oblivious and needs no data pass, PCA
  * spends one pass to align the projection with the data's actual
  * variance, which is what PQ/IVF codebooks and whitened-cosine
  * retrieval want on anisotropic corpora).
  *
  * Shape at 100 TB: ONE pass accumulates (n, Σx, ΣxxᵀT) — O(F²) per
  * partition crosses the network, independent of N, and partials too
  * large to all reach the driver are first summed in runs on the
  * executors, exactly the F×F Laplacian's contract
  * (FeatureLaplacian.scala).
  * Everything after is driver-side on the F×F covariance: a
  * deterministic POWER ITERATION with Hotelling deflation rather than
  * a library eigensolver, chosen so the whole factorization is
  * replayable arithmetic (fixed start vector, fixed iteration count —
  * the DuckDB oracle replays it in SQL and matches to 1e-6; a LAPACK
  * call would be a black box the oracle can't follow). Projection is
  * a map-only scan: each component is a codegen'd dot product against
  * a literal vector, no shuffle, no UDF.
  *
  * Power iteration is self-correcting (round-off contracts toward the
  * dominant eigenvector, so engine and oracle trajectories cannot
  * drift apart), but near-equal eigenvalues converge slowly —
  * `iters` trades convergence for oracle SQL length. Components are
  * exact eigenvectors only at convergence; they are always unit-norm.
  * The moment pass sums its per-partition partials in partition-index
  * order ([[graft.core.DriverLocal.sumPartials]]), as the F×F
  * Laplacian's Gram does, so the same rows in the same partitions fit
  * the same bits; a different partitioning reassociates the sums, so
  * the oracle comparison stays at 6 dp.
  */
object Pca {

  /** `components` holds `d` unit-norm rows of length F, dominant
    * first; `eigenvalues` are the matching Rayleigh quotients of the
    * POPULATION covariance (divide-by-n — bias choice documented so
    * the oracle and spec replay it; for n in the millions the n-1
    * distinction is noise).
    */
  final case class PcaModel(
      n: Long,
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double]) {
    def nFeatures: Int = mean.length
    def k: Int = components.length
  }

  /** One distributed moment pass + driver-side factorization.
    * `vecCol` may be ARRAY<FLOAT> (testdata embeddings) or
    * ARRAY<DOUBLE>; nulls are rejected by the cast scan like every
    * vector kernel here.
    */
  def fit(
      items: DataFrame,
      vecCol: String,
      nFeatures: Int,
      k: Int,
      iters: Int = 60): PcaModel = {
    // reject bad parameters BEFORE the full-corpus moment pass —
    // fitFromMoments re-checks, but an invalid k must not cost a scan
    require(nFeatures > 0, s"nFeatures must be positive, got $nFeatures")
    require(k > 0 && k <= nFeatures, s"k must be in 1..$nFeatures, got $k")
    require(iters > 0, s"iters must be positive, got $iters")
    fitFromMoments(moments(items, vecCol, nFeatures), nFeatures, k, iters)
  }

  /** One shard's MERGEABLE covariance state — the incremental-fit
    * sidecar ([[graft.operators.Profile.sketchShard]]'s pattern
    * applied to PCA): the moment pass's accumulator (upper-triangle
    * Gram + sum vector + count, O(F²) ≈ 32 KB at F = 64) is a plain
    * additive array, so per-drop moments persist beside each shard
    * and [[fitFromMoments]] over [[mergeMoments]] of N sidecars
    * refits PCA — and therefore the OPQ rotation or a whitening
    * transform — WITHOUT rescanning history. Moment addition is
    * exact arithmetic apart from FP reassociation, so merged shards
    * match a one-shot fit to tolerance, not bit for bit.
    *
    * Layout: [0, F·F) row-major upper-triangle Gram (f ≤ g),
    * [F·F, F·F+F) sum vector, [F·F+F] count.
    */
  def moments(
      items: DataFrame, vecCol: String, nFeatures: Int): Array[Double] = {
    require(nFeatures > 0, s"nFeatures must be positive, got $nFeatures")
    val spark = items.sparkSession
    import spark.implicits._
    val nF = nFeatures
    val size = nF * nF + nF + 1
    val vecs = items.select(F.col(vecCol).cast("array<double>")).as[Array[Double]]
    graft.core.DriverLocal.sumPartials(vecs.rdd, size) { it =>
      val a = new Array[Double](size)
      it.foreach { v =>
        require(v != null && v.length == nF,
          s"PCA: vector of length ${if (v == null) "null" else v.length}, expected $nF")
        graft.spectral.FeatureLaplacian.addOuter(a, v, nF)
        var f = 0
        while (f < nF) { a(nF * nF + f) += v(f); f += 1 }
        a(nF * nF + nF) += 1.0
      }
      a
    }
  }

  /** Element-wise sum — moments are additive, so any shard split (and
    * any later drop) merges by plain addition. Inputs untouched. */
  def mergeMoments(a: Array[Double], b: Array[Double]): Array[Double] = {
    require(a.length == b.length,
      s"mergeMoments: mismatched sizes ${a.length} vs ${b.length}")
    val out = a.clone()
    var i = 0
    while (i < out.length) { out(i) += b(i); i += 1 }
    out
  }

  /** The driver-side half of [[fit]], runnable from persisted shard
    * moments: covariance from the merged accumulator, then the same
    * deterministic power iteration + deflation. */
  def fitFromMoments(
      acc: Array[Double], nFeatures: Int, k: Int,
      iters: Int = 60): PcaModel = {
    require(nFeatures > 0, s"nFeatures must be positive, got $nFeatures")
    require(k > 0 && k <= nFeatures, s"k must be in 1..$nFeatures, got $k")
    require(iters > 0, s"iters must be positive, got $iters")
    val nF = nFeatures
    require(acc.length == nF * nF + nF + 1,
      s"fitFromMoments: accumulator size ${acc.length} does not match " +
        s"F=$nF (expected ${nF * nF + nF + 1})")
    val n = acc(nF * nF + nF).toLong
    require(n > 0, "PCA: empty input")
    val mean = Array.tabulate(nF)(f => acc(nF * nF + f) / n)
    // population covariance C = E[xxT] - mean meanT, dense symmetric
    val cov = Array.ofDim[Double](nF, nF)
    var f = 0
    while (f < nF) {
      var g = f
      while (g < nF) {
        val c = acc(f * nF + g) / n - mean(f) * mean(g)
        cov(f)(g) = c; cov(g)(f) = c
        g += 1
      }
      f += 1
    }
    val components = Array.ofDim[Double](k, nF)
    val eigenvalues = new Array[Double](k)
    var comp = 0
    while (comp < k) {
      // fixed start: uniform unit vector (never orthogonal to the
      // dominant eigenvector of a covariance except by measure-zero
      // accident; deterministic so the oracle starts identically)
      var v = Array.fill(nF)(1.0 / math.sqrt(nF.toDouble))
      var it = 0
      var degenerate = false
      while (it < iters && !degenerate) {
        val w = matVec(cov, v)
        val nrm = math.sqrt(dot(w, w))
        if (nrm == 0.0) degenerate = true // C v = 0: v already spans a null direction
        else {
          var i = 0
          while (i < nF) { w(i) /= nrm; i += 1 }
          v = w
        }
        it += 1
      }
      val lambda = dot(v, matVec(cov, v))
      components(comp) = v
      eigenvalues(comp) = lambda
      // Hotelling deflation: C <- C - lambda v vT
      var i = 0
      while (i < nF) {
        var j = 0
        while (j < nF) { cov(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      comp += 1
    }
    PcaModel(n, mean, components, eigenvalues)
  }

  private def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) {
      val row = m(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { s += row(j) * v(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Append centered projections `pc1..pck`: pc_j = <x - mean, v_j>,
    * computed as <x, v_j> - <mean, v_j> so the scan is one codegen dot
    * per component against a LITERAL vector (no array subtraction
    * materialized per row, no broadcast needed — components travel in
    * the plan).
    */
  def project(items: DataFrame, model: PcaModel, vecCol: String): DataFrame =
    model.components.zipWithIndex.foldLeft(items) { case (df, (v, j)) =>
      val c = dot(model.mean, v)
      df.withColumn(
        s"pc${j + 1}",
        VectorFunctions.dot(F.col(vecCol), F.typedlit(v.toSeq)) - F.lit(c))
    }
}
