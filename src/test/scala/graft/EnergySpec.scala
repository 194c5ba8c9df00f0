package graft

import graft.api.EnergyBuilder
import graft.core.{EnergyParams, GraphParams}
import org.apache.spark.sql.{functions => F}

/** Energy-only pipeline (reference src/lib.rs:332-376, stages E1-E6):
  * pins the observable contract — graph compresses to ≈optical_tokens
  * nodes while λ is kept for every item ("graph_nodes=39,
  * lambdas_len=1681" in the reference's committed run logs).
  */
class EnergySpec extends SparkSpec {

  // 120 deterministic items in 16 dims, 3 loose clusters.
  lazy val itemsDf = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    (0 until 120).map { i =>
      val base = Array.tabulate(16)(f => math.sin((i % 3) * 2.1 + f * 0.37) + 1.5)
      (i.toLong, base.map(_ + rng.nextGaussian() * 0.05))
    }.toDF("id", "vec")
  }

  val gp: GraphParams = GraphParams(eps = 1.0, k = 8, topk = 5)
  val ep: EnergyParams = EnergyParams(
    opticalTokens = 10, eta = 0.1, steps = 3, neighborK = 6, candidateM = 8)

  lazy val (model, edges) = EnergyBuilder.buildEnergy(itemsDf, ep, gp)

  test("graph compresses to ~opticalTokens nodes; lambdas kept for all items") {
    val nodes = edges.select(F.col("src")).union(edges.select(F.col("dst")))
      .distinct().count()
    assert(nodes >= 2 && nodes <= 2L * ep.opticalTokens,
      s"graph nodes $nodes outside (0, ${2 * ep.opticalTokens}]")
    assert(model.lambdas.count() == 120)
  }

  test("energy search returns k results, deterministic, no cosine needed") {
    val q = itemsDf.where(F.col("id") === 5).select("vec").head.getSeq[Double](0).toArray
    val h1 = model.searchEnergy(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val h2 = model.searchEnergy(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(h1.size == 5)
    assert(h1 == h2)
    assert(h1.map(_._2) == h1.map(_._2).sorted.reverse)
  }

  test("energy model save/load round-trips searchEnergy and lambdas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-energy-model").toString
    model.save(dir)
    val loaded = graft.api.ArrowSpaceModel.load(spark, dir)
    assert(loaded.nItems == model.nItems && loaded.nFeatures == model.nFeatures)
    assert(math.abs(loaded.tau - model.tau) < 1e-12)
    val q = itemsDf.where(F.col("id") === 5).select("vec").head.getSeq[Double](0).toArray
    // searchEnergy needs e_raw + the feature Laplacian — both must
    // survive the parquet+sidecar round trip bit-for-bit
    val a = model.searchEnergy(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = loaded.searchEnergy(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b, s"searchEnergy changed across save/load: $a vs $b")
    val la = model.lambdas.orderBy("id").collect().map(_.getDouble(1)).toSeq
    val lb = loaded.lambdas.orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(la == lb)
  }

  test("lambdas are non-degenerate") {
    val l = model.lambdas.collect().map(_.getDouble(1))
    assert(l.forall(v => v >= 0.0 && v <= 1.0))
    assert(l.distinct.length > 1, "lambdas collapsed")
  }

  test("diffusion with more steps stays bounded (no collapse at small eta)") {
    val ep2 = ep.copy(steps = 6, eta = 0.05)
    val (m2, _) = EnergyBuilder.buildEnergy(itemsDf, ep2, gp)
    val l = m2.lambdas.collect().map(_.getDouble(1))
    assert(l.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("energy sweep grid scores each (eta, steps) point against standard-build truth") {
    val sweep = graft.api.EnergySweep.grid(
      itemsDf, gp, ep, etas = Seq(0.05, 0.25), stepss = Seq(2),
      queryIds = Seq(3L, 40L), truthK = 5)
    val rows = sweep.collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0) // recall
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0) // mrr
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // ndcg
    }
  }

  test("aggressive diffusion (the reference's collapse grid point) stays finite and searchable") {
    // The reference's sweep logs retrieval collapse at eta=0.1/steps=8
    // (MRR 0.0196 vs 1.0 at eta=0.05/steps=6) — quality degradation is
    // config-dependent, but the pipeline must stay well-defined there:
    // finite lambdas, valid top-k.
    val (m, _) = EnergyBuilder.buildEnergy(itemsDf, ep.copy(eta = 0.5, steps = 8), gp)
    val l = m.lambdas.collect().map(_.getDouble(1))
    assert(l.length == 120)
    assert(l.forall(v => !v.isNaN && !v.isInfinite && v >= 0.0 && v <= 1.0))
    val q = itemsDf.where(F.col("id") === 5).select("vec").head.getSeq[Double](0).toArray
    assert(m.searchEnergy(q, 5).count() == 5)
  }
}
