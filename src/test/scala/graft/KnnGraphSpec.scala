package graft

import graft.core.GraphParams
import graft.graph.KnnGraph
import org.apache.spark.sql.{functions => F}

/** Strategy-agreement contract for the eps-kNN graph: candidate
  * generation may limit recall, but no strategy may use a DIFFERENT
  * logical cutoff. In particular, at eps ≥ 1 the rectified-cosine
  * distance of a negative-cosine pair is exactly 1.0 ≤ eps, so the
  * LSH path's Euclidean join radius must be the full unit-sphere
  * diameter 2 (d_e ∈ (√2, 2] for cos < 0), not √(2·eps).
  */
class KnnGraphSpec extends SparkSpec {

  /** 16 vectors in 4 dims including antipodal pairs (cos = −1). */
  private lazy val items = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val base = (0 until 8).map { i =>
      val v = Array.fill(4)(rng.nextGaussian())
      (i.toLong, v)
    }
    val anti = base.map { case (i, v) => (i + 8L, v.map(-_)) }
    (base ++ anti).toDF("id", "vec")
      .select(F.col("id"),
        graft.functions.VectorFunctions.l2normalize(F.col("vec")).as("vnorm"))
  }

  private val params = GraphParams(eps = 1.0, k = 20, topk = 5)

  test("LSH edge set is a subset of brute force at eps=1.0 and keeps cos<0 pairs") {
    val brute = KnnGraph
      .epsKnnEdges(items, params, 16, KnnGraph.Strategy.BruteForce)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshEdges = KnnGraph
      .epsKnnEdges(items, params, 16, KnnGraph.Strategy.Lsh)
      .select("src", "dst", "dist").collect()
    val lsh = lshEdges.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute),
      s"LSH emitted edges brute force would reject: ${(lsh -- brute).take(5)}")
    // with k >= N every qualifying pair survives the cap, and at
    // eps=1.0 antipodal pairs (dist exactly 1.0) qualify — the old
    // radius √2 silently dropped every cos<0 candidate.
    val negCos = lshEdges.filter(_.getDouble(2) > 1.0 - 1e-12)
    assert(negCos.nonEmpty,
      "LSH path found no distance-1.0 (cos<=0) edges at eps=1.0 — radius bug regressed")
    // NOTE exact antipodes (v, −v) are out of reach for BRP-LSH
    // candidate generation itself: their projections are sign-flipped,
    // and floor(p/L) == floor(−p/L) never holds for p ≠ 0 — a recall
    // property of the hash family, not of the join radius. The radius
    // still must be nextUp(2.0) so colliding boundary pairs survive
    // the strict `distCol < threshold` filter.
  }

  test("cluster-blocked edge set is a subset of brute force on the same contract") {
    val brute = KnnGraph
      .epsKnnEdges(items, params, 16, KnnGraph.Strategy.BruteForce)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = KnnGraph
      .epsKnnEdges(items, params, 16, KnnGraph.Strategy.ClusterBlocked)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(brute),
      s"cluster-blocked emitted non-brute edges: ${(blocked -- brute).take(5)}")
  }

  /** Brute-force edges against a per-pair scan oracle: every pair's
    * cosine recomputed from both arrays (both norms per pair), the k
    * nearest per source kept by (dist, dst) ascending, both directions
    * merged by the smaller distance. */
  private def scanOracle(vs: Seq[(Long, Array[Double])], eps: Double, k: Int) = {
    val directed = vs.flatMap { case (src, va) =>
      vs.filter(_._1 != src)
        .map { case (dst, vb) =>
          (1.0 - math.max(0.0, graft.functions.VectorKernels.cosine(va, vb)), dst) }
        .filter(_._1 <= eps).sorted.take(k)
        .map { case (d, dst) => (src, dst, d) }
    }
    (directed ++ directed.map { case (a, b, d) => (b, a, d) })
      .groupBy(e => (e._1, e._2)).map { case ((a, b), es) =>
        (a, b, java.lang.Double.doubleToRawLongBits(es.map(_._3).min)) }
      .toSeq.sorted
  }

  test("brute force is bit-identical to the per-pair scan: eps < 1, distance ties, a zero vector") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val base = (0 until 8).map(i => (i.toLong, Array.fill(4)(rng.nextGaussian())))
    // exact duplicates tie on distance (the dst-asc rule picks), and the
    // zero vector sits at distance 1.0 from everything
    val raw = base ++ Seq((8L, base(0)._2), (9L, base(0)._2), (10L, base(1)._2),
      (11L, Array.fill(4)(0.0)))
    val df = raw.toDF("id", "vec").select(F.col("id"),
      graft.functions.VectorFunctions.l2normalize(F.col("vec")).as("vnorm"))
    val vs = df.as[(Long, Array[Double])].collect().toSeq
    for (eps <- Seq(0.6, 1.0); k <- Seq(2, 20)) {
      val got = KnnGraph
        .epsKnnEdges(df, GraphParams(eps = eps, k = k, topk = 5), 12, KnnGraph.Strategy.BruteForce)
        .collect().toSeq.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("dist")))).sorted
      assert(got == scanOracle(vs, eps, k), s"eps=$eps k=$k")
      assert(got.exists(e => e._1 == 11L) == (eps >= 1.0), s"eps=$eps k=$k zero vector")
    }
  }
}
