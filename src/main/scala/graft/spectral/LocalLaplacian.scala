package graft.spectral

/** Driver-local sparse Laplacian over the F feature dimensions
  * (reference: the F×F "signals" Laplacian of TAUMODE.md:12,
  * GRAPH_VARIABLES.md:17,44). F is at most a few thousand, so the
  * edge list is tiny and is broadcast to executors for the per-item λ
  * pass.
  *
  * `edges` holds each undirected edge once (f < g, weight > 0).
  */
final case class LocalLaplacian(dim: Int, edges: Array[LapEdge]) extends Serializable {

  def isEmpty: Boolean = edges.isEmpty

  /** Graph metadata — reference GraphLaplacian.nnodes / .shape()
    * (src/lib.rs:40-61). */
  def nnodes: Int = dim
  def shape: (Int, Int) = (dim, dim)

  /** Unnormalized Dirichlet energy xᵀLx = Σ w_fg (x_f − x_g)². */
  def dirichlet(x: Array[Double]): Double = {
    var acc = 0.0
    var e = 0
    while (e < edges.length) {
      val ed = edges(e)
      val d = x(ed.f) - x(ed.g)
      acc += ed.w * d * d
      e += 1
    }
    acc
  }

  /** Gini-style concentration of edgewise Dirichlet shares:
    * G(x) = clip(Σ s², 0, 1) with s_fg = w_fg(x_f−x_g)²/Σ
    * (TAUMODE.md:26-27). 0 when the total energy is 0.
    */
  def dirichletGini(x: Array[Double]): Double =
    giniGivenTotal(x, dirichlet(x))

  /** Gini share pass with the Dirichlet total supplied — [[synth]]
    * computes the total once and reuses it here, so the per-item
    * kernel scans the O(F²) edge list twice instead of three times.
    * The share arithmetic is identical to a fresh computation: `tot`
    * is the same bit-exact value either way.
    */
  private def giniGivenTotal(x: Array[Double], tot: Double): Double = {
    if (tot <= 0.0) return 0.0
    var sumSq = 0.0
    var e = 0
    while (e < edges.length) {
      val ed = edges(e)
      val d = x(ed.f) - x(ed.g)
      val s = ed.w * d * d / tot
      sumSq += s * s
      e += 1
    }
    math.min(1.0, math.max(0.0, sumSq))
  }

  /** Synthetic spectral index (TAUMODE.md:8-27, pinned by test_0):
    * S(x) = m·E′(x) + (1−m)·G(x) with E = xᵀLx the RAW Dirichlet
    * energy (scale-SENSITIVE — test_0's τ=0.9 ordering [1,2,0] proves
    * the query's 1.05 scaling must shift its λ, which the normalized
    * Rayleigh quotient cannot do), E′ = E/(E+τ), and mixing weight
    * m = τ/(1+τ) ∈ (0,1) (τ itself — the median raw energy — can
    * exceed 1, so it is bounded before mixing). τ must be > 0.
    */
  /** (raw Dirichlet energy, Gini concentration) in two edge scans —
    * the per-item S10/E6 hot path, where separate dirichlet +
    * dirichletGini calls would pay a third scan.
    */
  def energyAndGini(x: Array[Double]): (Double, Double) = {
    val e = dirichlet(x)
    (e, giniGivenTotal(x, e))
  }

  def synth(x: Array[Double], tau: Double): Double =
    synthWithEnergy(x, tau)._1

  /** (λ, raw Dirichlet energy) in one pass — for callers that persist
    * both (index append, energy re-synthesis). Keeping the mixing
    * formula HERE, not re-inlined at call sites, is what guarantees a
    * streamed append writes λs consistent with the index's search
    * ordering if the synthesis is ever adjusted.
    */
  def synthWithEnergy(x: Array[Double], tau: Double): (Double, Double) = {
    val e = dirichlet(x)
    val eb = if (e + tau == 0.0) 0.0 else e / (e + tau)
    val m = tau / (1.0 + tau)
    (m * eb + (1.0 - m) * giniGivenTotal(x, e), e)
  }
}

final case class LapEdge(f: Int, g: Int, w: Double) extends Serializable
