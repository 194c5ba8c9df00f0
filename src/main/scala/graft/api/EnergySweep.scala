package graft.api

import graft.core.{EnergyParams, GraphParams}
import graft.metrics.RankingMetrics
import org.apache.spark.sql.{DataFrame, functions => F}

/** The reference's energy-pipeline evaluation harness as a library
  * operator (reference tests/test_8_CVE_db_sweep.py:162-237): for each
  * (η, steps) grid point, build the energy index, run energy search
  * for the probe queries, and score against the standard build's
  * top-`truthK` cosine results as pseudo-ground-truth. Returns one row
  * per grid point: (eta, steps, recall_at_k, mrr, ndcg_at_k).
  */
object EnergySweep {

  def grid(
      items: DataFrame,
      params: GraphParams,
      base: EnergyParams,
      etas: Seq[Double],
      stepss: Seq[Int],
      queryIds: Seq[Long],
      truthK: Int = 10): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._

    // pseudo-ground-truth: standard build, pure-cosine top-truthK.
    // The build eagerly materializes its edge cache - release it, the
    // sweep never reads the standard graph (a long-lived Verify
    // session must not accumulate one edge set per sweep call)
    val (standard, standardEdges) = ArrowSpaceBuilder.build(items, params)
    standardEdges.unpersist(blocking = false)
    val queries: Seq[(Long, Array[Double])] = queryIds.map { qid =>
      qid -> items.where(F.col("id") === qid)
        .select(F.col("vec").cast("array<double>")).head.getSeq[Double](0).toArray
    }
    val relevant = queries.map { case (qid, qv) =>
      standard.search(qv, tau = 1.0, topk = truthK)
        .select(F.lit(qid).as("query_id"), F.col("id").as("doc_id"))
    }.reduce(_ unionByName _).persist()
    relevant.count()

    val rows = for (eta <- etas; steps <- stepss) yield {
      val (em, _) = EnergyBuilder.buildEnergy(
        items, base.copy(eta = eta, steps = steps), params)
      val retrieved = queries.map { case (qid, qv) =>
        em.searchEnergy(qv, k = truthK)
          .select(F.lit(qid).as("query_id"), F.col("id").as("doc_id"), F.col("score"))
      }.reduce(_ unionByName _)
      val ranked = RankingMetrics.withRanks(retrieved)
      val recall = RankingMetrics.recallAtK(ranked, relevant, truthK).head.getDouble(0)
      val mrr = RankingMetrics.mrr(ranked, relevant).head.getDouble(0)
      val ndcg = RankingMetrics.ndcgAtK(ranked, relevant, truthK).head.getDouble(0)
      em.items.unpersist() // this grid point's metrics are extracted
      (eta, steps, recall, mrr, ndcg)
    }
    relevant.unpersist()
    standard.items.unpersist()
    rows.toDF("eta", "steps", "recall_at_k", "mrr", "ndcg_at_k")
  }
}
