package graft.queries

import org.apache.spark.sql.{functions => F}
import graft.queries.QueryLib._

/** Evaluation metrics (library kernels, SURVEY.md §2.4) and the
  * multimodal columns (binary payload + typed meta). */
private[graft] object MetricQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_payload_stats", (s, d) => {
      import graft.operators.Multimodal
      Multimodal.payloadStats(
        Multimodal.syntheticMedia(docs(s, d), "doc_id", "text"))
    },
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  count(*) AS n_media,
        |  round(avg(octet_length(encode(text))), 4) AS avg_bytes,
        |  max(octet_length(encode(text))) AS max_bytes
        |FROM documents
        |GROUP BY kind
        |ORDER BY kind""".stripMargin),

    QuerySpec("mm_features", (s, d) => {
      import graft.operators.Multimodal
      Multimodal.decodeFeatures(
        Multimodal.syntheticMedia(docs(s, d), "doc_id", "text"), dim = 32)
        .select("media_id", "kind")
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind
        |FROM documents ORDER BY media_id""".stripMargin),

    QuerySpec("mm_frame_sample", (s, d) => {
      import graft.operators.Multimodal
      Multimodal.frameSample(
        Multimodal.syntheticMedia(docs(s, d), "doc_id", "text"), everyN = 2)
        .select("media_id", "frame_idx")
        .orderBy("media_id", "frame_idx")
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    greatest(1, octet_length(encode(text)) // 256) AS nf
        |  FROM documents)
        |SELECT media_id, CAST(t.i AS INT) AS frame_idx
        |FROM m, unnest(range(0, (nf + 1) // 2)) AS t(i)
        |ORDER BY media_id, frame_idx""".stripMargin),

    QuerySpec("m_eval_ann", (s, d) => {
      import graft.functions.VectorFunctions.cosine
      import graft.metrics.RankingMetrics
      val e = tbl(s, d, "embeddings").select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").as("vec"),
        F.col("label"))
      val q = e.where(F.col("vec_id") <= 4).select(
        F.col("vec_id").as("query_id"),
        F.col("vec").as("qvec"),
        F.col("label").as("qlabel"))
      val scored = q.crossJoin(
        e.select(F.col("vec_id").as("doc_id"), F.col("vec"), F.col("label")))
        .where(F.col("doc_id") =!= F.col("query_id"))
        .select(
          F.col("query_id"), F.col("doc_id"),
          cosine(F.col("qvec"), F.col("vec")).as("score"))
      val retrieved = RankingMetrics.withRanks(scored)
        .where(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank")
      val relevant = q.select("query_id", "qlabel")
        .join(
          e.select(F.col("vec_id").as("doc_id"), F.col("label").as("qlabel")),
          Seq("qlabel"))
        .where(F.col("doc_id") =!= F.col("query_id"))
        .select("query_id", "doc_id")
      RankingMetrics.recallAtK(retrieved, relevant, 10)
        .crossJoin(RankingMetrics.mrr(retrieved, relevant))
        .crossJoin(RankingMetrics.ndcgAtK(retrieved, relevant, 10))
        .crossJoin(RankingMetrics.mapAtK(retrieved, relevant, 10))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
        |  FROM e WHERE vec_id <= 4),
        |scored AS (SELECT q.query_id, e.vec_id AS doc_id,
        |    list_cosine_similarity(e.v, q.qv) AS score
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored),
        |retrieved AS (SELECT * FROM ranked WHERE rank <= 10),
        |relevant AS (SELECT q.query_id, e.vec_id AS doc_id
        |  FROM e, q WHERE e.label = q.qlabel AND e.vec_id <> q.query_id),
        |nrel AS (SELECT query_id, count(*) AS n_rel FROM relevant GROUP BY 1),
        |hits AS (SELECT r.query_id, r.doc_id, r.rank
        |  FROM retrieved r JOIN relevant v
        |    ON r.query_id = v.query_id AND r.doc_id = v.doc_id),
        |recall_q AS (SELECT n.query_id,
        |    coalesce(h.c, 0)::DOUBLE / n.n_rel AS recall
        |  FROM nrel n LEFT JOIN
        |    (SELECT query_id, count(*) c FROM hits GROUP BY 1) h
        |    ON n.query_id = h.query_id),
        |mrr_q AS (SELECT q.query_id,
        |    coalesce(1.0 / f.first_rank, 0.0) AS rr
        |  FROM (SELECT query_id FROM nrel) q LEFT JOIN
        |    (SELECT query_id, min(rank) AS first_rank FROM hits GROUP BY 1) f
        |    ON q.query_id = f.query_id),
        |dcg_q AS (SELECT query_id, sum(1.0 / log2(rank + 1)) AS dcg
        |  FROM hits GROUP BY 1),
        |idcg_q AS (SELECT n.query_id,
        |    sum(1.0 / log2(i + 1)) AS idcg
        |  FROM nrel n, unnest(range(1, least(n.n_rel, 10) + 1)) AS t(i)
        |  GROUP BY 1),
        |ndcg_q AS (SELECT i.query_id,
        |    coalesce(d.dcg, 0.0) / CASE WHEN i.idcg = 0 THEN 1 ELSE i.idcg END AS ndcg
        |  FROM idcg_q i LEFT JOIN dcg_q d ON i.query_id = d.query_id),
        |prec AS (SELECT h.query_id, h.rank,
        |    (SELECT count(*) FROM hits h2
        |      WHERE h2.query_id = h.query_id AND h2.rank <= h.rank)::DOUBLE
        |      / h.rank AS p
        |  FROM hits h),
        |ap_q AS (SELECT n.query_id,
        |    coalesce(s.sp, 0.0) / least(n.n_rel, 10) AS ap
        |  FROM nrel n LEFT JOIN
        |    (SELECT query_id, sum(p) sp FROM prec GROUP BY 1) s
        |    ON n.query_id = s.query_id)
        |SELECT
        |  (SELECT round(avg(recall), 6) FROM recall_q) AS recall_at_k,
        |  (SELECT round(avg(rr), 6) FROM mrr_q) AS mrr,
        |  (SELECT round(avg(ndcg), 6) FROM ndcg_q) AS ndcg_at_k,
        |  (SELECT round(avg(ap), 6) FROM ap_q) AS map_at_k""".stripMargin),

    QuerySpec("m_eval_taumode", (s, d) => {
      // test_8 pattern: truth = top-10 cosine of the standard build,
      // retrieved = taumode(τ=0.62) top-10 (reference
      // tests/test_8_CVE_db_sweep.py:236-237).
      import graft.metrics.RankingMetrics
      val (m, _) = model(s, d)
      val qv = queryVec(s, d)
      // query_id = id*0 (always 0) rather than lit(0): a FOLDABLE
      // query_id would be optimized out of withRanks' window partition
      // spec, leaving a partition-less WindowExec that warns on every
      // execution; this keeps the per-query window shape real
      val retrieved = m.search(qv, tau = 0.62)
        .select(
          (F.col("id") * 0L).as("query_id"),
          F.col("id").as("doc_id"), F.col("score"))
      val relevant = m.search(qv, tau = 1.0)
        .select((F.col("id") * 0L).as("query_id"), F.col("id").as("doc_id"))
      val ranked = RankingMetrics.withRanks(retrieved)
      RankingMetrics.recallAtK(ranked, relevant, 10)
        .crossJoin(RankingMetrics.mrr(ranked, relevant))
        .crossJoin(RankingMetrics.ndcgAtK(ranked, relevant, 10))
    },
      s"""$SpectralCte,
         |cosims AS (
         |  SELECT b.id, sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id = 0
         |  GROUP BY b.id),
         |lq AS (SELECT lambda FROM lam WHERE id = 0),
         |rel AS (SELECT id AS doc_id FROM cosims ORDER BY cos DESC, id ASC LIMIT 10),
         |ret AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT l.id AS doc_id,
         |      0.62 * c.cos + 0.38 * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |    FROM lam l JOIN cosims c ON c.id = l.id CROSS JOIN lq
         |    ORDER BY score DESC, doc_id ASC LIMIT 10)),
         |hits AS (SELECT r.doc_id, r.rank FROM ret r JOIN rel USING (doc_id))
         |SELECT
         |  round((SELECT count(*) FROM hits)::DOUBLE / 10, 6) AS recall_at_k,
         |  round(coalesce((SELECT 1.0 / min(rank) FROM hits), 0.0), 6) AS mrr,
         |  round(coalesce((SELECT sum(1.0 / log2(rank + 1)) FROM hits), 0.0)
         |    / (SELECT sum(1.0 / log2(i + 1))
         |       FROM unnest(range(1, 11)) AS t(i)), 6) AS ndcg_at_k""".stripMargin),

    QuerySpec("m_tau_sweep", (s, d) => {
      // test_4/test_7 pattern: sweep τ, score each ranking against the
      // pure-cosine truth (reference tests/test_4:18-23, test_7:28).
      // ONE distributed job for the whole sweep: items × τ-literals,
      // per-τ window top-k, metrics in a single groupBy — not a
      // 5×3-job driver loop.
      import org.apache.spark.sql.expressions.Window
      val (m, _) = model(s, d)
      val qv = queryVec(s, d)
      val lambdaQ = m.prepareQueryLambda(qv)
      val q = F.typedLit(qv)
      val taus = Seq(1.0, 0.9, 0.8, 0.62, 0.42)
      import graft.functions.VectorFunctions.{cosine, lambdaProximity}
      val scored = m.items
        .select(F.col("id").as("doc_id"),
          cosine(F.col("vec"), q).as("cos"),
          lambdaProximity(F.col("lambda"), F.lit(lambdaQ)).as("prox"))
        .crossJoin(s.range(1).select(F.explode(F.typedLit(taus)).as("tau")))
        .withColumn("score",
          F.col("tau") * F.col("cos") + (F.lit(1.0) - F.col("tau")) * F.col("prox"))
      val w = Window.partitionBy("tau").orderBy(F.col("score").desc, F.col("doc_id").asc)
      // localCheckpoint, not persist: ≤ |taus|·10 rows, materialized
      // once and reused by both metric branches; no cache-manager entry
      // to leak across the 202-query Verify session (blocks are
      // GC-cleaned once the result frame is dropped)
      val ranked = scored
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("tau", "doc_id", "rank")
        .localCheckpoint()
      val relevant = ranked.where(F.col("tau") === 1.0).select("doc_id")
      val idcg = (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
      val hits = ranked.join(relevant, "doc_id")
      val spark2 = s
      import spark2.implicits._
      taus.toDF("tau")
        .join(
          hits.groupBy("tau").agg(
            F.count(F.lit(1)).as("nh"),
            F.min("rank").as("fr"),
            F.sum(F.lit(1.0) / F.log2(F.col("rank") + 1.0)).as("dcg")),
          Seq("tau"), "left")
        .select(
          F.col("tau"),
          F.round(F.coalesce(F.col("nh"), F.lit(0L)).cast("double") / 10.0, 6).as("recall_at_k"),
          F.round(F.coalesce(F.lit(1.0) / F.col("fr"), F.lit(0.0)), 6).as("mrr"),
          F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg, 6).as("ndcg_at_k"))
        .orderBy(F.col("tau").desc)
    },
      s"""$SpectralCte,
         |cosims AS (
         |  SELECT b.id, sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id = 0
         |  GROUP BY b.id),
         |lq AS (SELECT lambda FROM lam WHERE id = 0),
         |taus AS (SELECT unnest([1.0, 0.9, 0.8, 0.62, 0.42]) AS tau),
         |scoredt AS (
         |  SELECT t.tau, l.id AS doc_id,
         |    t.tau * c.cos +
         |      (1 - t.tau) * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |  FROM lam l JOIN cosims c ON c.id = l.id CROSS JOIN lq CROSS JOIN taus t),
         |rett AS (
         |  SELECT tau, doc_id,
         |    row_number() OVER (PARTITION BY tau
         |      ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM scoredt QUALIFY rank <= 10),
         |rel AS (SELECT id AS doc_id FROM cosims ORDER BY cos DESC, id ASC LIMIT 10),
         |hits AS (SELECT r.tau, r.rank FROM rett r JOIN rel USING (doc_id)),
         |idcg AS (SELECT sum(1.0 / log2(i + 1)) AS v
         |  FROM unnest(range(1, 11)) AS t(i))
         |SELECT t.tau,
         |  round(coalesce(h.nh, 0)::DOUBLE / 10, 6) AS recall_at_k,
         |  round(coalesce(1.0 / h.fr, 0.0), 6) AS mrr,
         |  round(coalesce(h.dcg, 0.0) / (SELECT v FROM idcg), 6) AS ndcg_at_k
         |FROM taus t LEFT JOIN (
         |  SELECT tau, count(*) AS nh, min(rank) AS fr,
         |    sum(1.0 / log2(rank + 1)) AS dcg
         |  FROM hits GROUP BY tau) h ON t.tau = h.tau
         |ORDER BY t.tau DESC""".stripMargin),

    QuerySpec("m_rank_corr", (s, d) => {
      // test_2 pattern: Spearman + Kendall tau-b between the pure-
      // cosine (tau=1.0) and taumode (tau=0.62) rankings of query 0.
      import graft.metrics.RankingMetrics
      val (m, _) = model(s, d)
      val qv = queryVec(s, d)
      // query_id = id*0, not lit(0) — see m_eval_taumode: a foldable
      // key is stripped from the rank windows' partition specs
      def ranked(t: Double) = RankingMetrics.withRanks(
        m.search(qv, tau = t, topk = 20).select(
          (F.col("id") * 0L).as("query_id"),
          F.col("id").as("doc_id"), F.col("score")))
      val a = ranked(1.0)
      val b = ranked(0.62)
      RankingMetrics.spearman(a, b).crossJoin(RankingMetrics.kendallTau(a, b))
    },
      s"""$SpectralCte,
         |cosims AS (
         |  SELECT b.id, sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id = 0
         |  GROUP BY b.id),
         |ra AS (
         |  SELECT id AS doc_id, row_number() OVER (ORDER BY cos DESC, id ASC) AS ra
         |  FROM cosims ORDER BY cos DESC, id ASC LIMIT 20),
         |rb AS (
         |  SELECT id AS doc_id, row_number() OVER (ORDER BY score DESC, id ASC) AS rb
         |  FROM (
         |    SELECT l.id,
         |      0.62 * c.cos + 0.38 * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |    FROM lam l JOIN cosims c USING (id)
         |    CROSS JOIN (SELECT lambda FROM lam WHERE id = 0) lq)
         |  ORDER BY score DESC, id ASC LIMIT 20),
         |shared AS (SELECT doc_id, ra, rb FROM ra JOIN rb USING (doc_id)),
         |dense AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY ra, doc_id) AS DOUBLE) AS da,
         |    CAST(row_number() OVER (ORDER BY rb, doc_id) AS DOUBLE) AS db,
         |    ra, rb
         |  FROM shared),
         |sp AS (SELECT round(corr(da, db), 6) AS spearman FROM dense),
         |kpairs AS (
         |  SELECT sign(i.ra - j.ra) AS sa, sign(i.rb - j.rb) AS sb
         |  FROM dense i JOIN dense j ON i.doc_id < j.doc_id),
         |kc AS (
         |  SELECT sum(CASE WHEN sa * sb > 0 THEN 1 ELSE 0 END) AS c,
         |    sum(CASE WHEN sa * sb < 0 THEN 1 ELSE 0 END) AS d,
         |    sum(CASE WHEN sa = 0 THEN 1 ELSE 0 END) AS ta,
         |    sum(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS tb,
         |    count(*) AS n0
         |  FROM kpairs),
         |kt AS (
         |  SELECT round(CASE WHEN sqrt((n0 - ta) * (n0 - tb)) = 0 THEN 0.0
         |    ELSE (c - d) / sqrt(CAST((n0 - ta) AS DOUBLE) * (n0 - tb)) END, 6) AS kendall
         |  FROM kc)
         |SELECT sp.spearman, kt.kendall FROM sp CROSS JOIN kt""".stripMargin),

    QuerySpec("m_paired_ttest", (s, d) => {
      // test_3 pattern: paired t between two per-entity measures (here
      // customer account balance vs realized order spend — the
      // relational stand-in that makes the kernel oracle-checkable;
      // p_value is asserted against closed forms in MetricsSpec).
      val cust = tbl(s, d, "customer")
      val spend = tbl(s, d, "orders")
        .groupBy("o_custkey").agg(F.sum("o_totalprice").as("spend"))
      val paired = cust.join(spend, F.col("c_custkey") === F.col("o_custkey"))
      graft.metrics.RankingMetrics.pairedTTest(paired, "c_acctbal", "spend")
        .select(F.col("n"), F.round(F.col("t_stat"), 6).as("t_stat"), F.col("dof"))
    },
      """WITH spend AS (
        |  SELECT o_custkey, sum(o_totalprice) AS spend
        |  FROM orders GROUP BY o_custkey),
        |p AS (
        |  SELECT c_acctbal - spend AS diff
        |  FROM customer JOIN spend ON c_custkey = o_custkey)
        |SELECT count(*) AS n,
        |  round(avg(diff) / (stddev_samp(diff) / sqrt(count(*))), 6) AS t_stat,
        |  CAST(count(*) - 1 AS DOUBLE) AS dof
        |FROM p""".stripMargin),

    QuerySpec("m_topology_eval", (s, d) => {
      // test_6 pattern: score the taumode top-10 with the six
      // graph-aware metrics; truth = cosine top-10, anchor = query id 0.
      val (m, edges) = model(s, d)
      val qv = queryVec(s, d)
      val relevant = m.search(qv, tau = 1.0).select(F.col("id")).collect()
        .map(_.getLong(0)).toSet
      // the ranked list is ≤ topk rows by construction — rank it on
      // the driver instead of a partition-less window (whose constant
      // partition key would be folded away, leaving a single-task
      // WindowExec that re-warns on every re-execution of the plan),
      // as searchBatch ranks its driver-held queries' merged heaps
      val spark2 = s
      import spark2.implicits._
      val retrieved = m.search(qv, tau = 0.62)
        .select(F.col("id"), F.col("score")).collect()
        .sortBy(r => (-r.getDouble(1), r.getLong(0)))
        .zipWithIndex
        .map { case (r, i) =>
          (0L, r.getLong(0), i + 1,
            if (relevant(r.getLong(0))) 1.0 else 0.0)
        }
        .toSeq.toDF("query_id", "doc_id", "rank", "grade")
      val sources = Seq((0L, 0L)).toDF("query_id", "node_id")
      graft.metrics.TopologyMetrics.evaluate(edges, retrieved, sources)
        .select(
          F.col("query_id"),
          F.round(F.col("g_rbp"), 6).as("g_rbp"),
          F.round(F.col("td_ndcg"), 6).as("td_ndcg"),
          F.round(F.col("it_err"), 6).as("it_err"),
          F.round(F.col("mrr_topo"), 6).as("mrr_topo"),
          F.round(F.col("sqi"), 6).as("sqi"))
    },
      // The six graph-aware metrics over the τ=0.62 top-10 list
      // (TopologyMetrics.evaluate, k=10, rbpP=0.9, maxGrade=3, weights
      // 0.4/0.3/0.3): spectral CTE for the ranked lists + graph base +
      // unrolled PPR + unrolled LPA + prefix conductance/modularity via
      // window functions; IT-ERR's stop-probability recurrence becomes a
      // windowed product().
      s"""$SpectralCte,
         |$GraphBaseCte,
         |${pprRoundsCte(15)},
         |${lpaRoundsCte(5)},
         |cosims AS (
         |  SELECT b.id, sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id = 0
         |  GROUP BY b.id),
         |lq AS (SELECT lambda FROM lam WHERE id = 0),
         |rel AS (SELECT id AS doc_id FROM cosims ORDER BY cos DESC, id ASC LIMIT 10),
         |ret AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT l.id AS doc_id,
         |      0.62 * c.cos + 0.38 * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |    FROM lam l JOIN cosims c ON c.id = l.id CROSS JOIN lq
         |    ORDER BY score DESC, doc_id ASC LIMIT 10)),
         |lrows AS (
         |  SELECT ret.rank, ret.doc_id,
         |    CASE WHEN rel.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS grade,
         |    coalesce(r15.r, 0.0) AS ppr,
         |    coalesce(dg.degree, 0.0) AS degree,
         |    coalesce(lab5.lab, -1) AS community
         |  FROM ret LEFT JOIN rel ON rel.doc_id = ret.doc_id
         |  LEFT JOIN r15 ON r15.id = ret.doc_id
         |  LEFT JOIN (SELECT src AS id, sum(w) AS degree FROM w GROUP BY src) dg
         |    ON dg.id = ret.doc_id
         |  LEFT JOIN lab5 ON lab5.id = ret.doc_id),
         |inte AS (
         |  SELECT hr.rank AS rhigh, sum(w.w) AS iw
         |  FROM w JOIN lrows lr ON lr.doc_id = w.src
         |         JOIN lrows hr ON hr.doc_id = w.dst
         |  WHERE lr.rank < hr.rank
         |  GROUP BY hr.rank),
         |pq AS (
         |  SELECT l.rank, l.doc_id, l.grade, l.ppr, l.degree, l.community,
         |    sum(l.degree) OVER (ORDER BY l.rank) AS vol,
         |    coalesce(sum(i.iw) OVER (ORDER BY l.rank), 0.0) AS internal
         |  FROM lrows l LEFT JOIN inte i ON i.rhigh = l.rank),
         |modsh AS (
         |  SELECT c.rank, max(c.cnt)::DOUBLE / c.rank AS modshare
         |  FROM (
         |    SELECT a.rank, b.community, count(*) AS cnt
         |    FROM lrows a JOIN lrows b ON b.rank <= a.rank
         |    GROUP BY a.rank, b.community) c
         |  GROUP BY c.rank),
         |tot AS (SELECT sum(w) AS tv FROM w),
         |nmax AS (SELECT max(rank) AS n FROM lrows),
         |tfac AS (
         |  SELECT pq.rank, pq.doc_id, pq.grade, pq.ppr,
         |    0.4 * pq.ppr + 0.3 * (1.0 -
         |      CASE WHEN pq.rank = nmax.n AND tot.tv - pq.vol <= 0 THEN 0.0
         |           WHEN least(pq.vol, tot.tv - pq.vol) <= 0 THEN 1.0
         |           ELSE greatest(0.0, pq.vol - 2.0 * pq.internal) /
         |                least(pq.vol, tot.tv - pq.vol) END) +
         |    0.3 * ms.modshare AS t
         |  FROM pq JOIN modsh ms ON ms.rank = pq.rank
         |  CROSS JOIN tot CROSS JOIN nmax),
         |mxt AS (SELECT max(t) AS maxt FROM tfac),
         |grbp AS (SELECT sum(0.1 * grade * pow(0.9, rank - 1) * t) AS v FROM tfac),
         |dcgv AS (SELECT sum((pow(2.0, grade) - 1.0) * t / log2(rank + 1.0)) AS v
         |  FROM tfac),
         |idcgv AS (SELECT sum((pow(2.0, s.g) - 1.0) * mxt.maxt / log2(s.rn + 1.0)) AS v
         |  FROM (SELECT grade AS g, row_number() OVER (ORDER BY grade DESC) AS rn
         |        FROM tfac) s CROSS JOIN mxt),
         |tdndcg AS (SELECT CASE WHEN idcgv.v > 0 THEN dcgv.v / idcgv.v ELSE 0.0 END AS v
         |  FROM dcgv CROSS JOIN idcgv),
         |errv AS (SELECT sum(coalesce(s.prodpre, 1.0) * s.rt / s.rank) AS v FROM (
         |  SELECT rank, (grade / 3.0) * t AS rt,
         |    product(1.0 - (grade / 3.0) * t) OVER (ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prodpre
         |  FROM tfac) s),
         |mrrt AS (SELECT coalesce(
         |  (SELECT t / rank FROM tfac WHERE grade > 0 ORDER BY rank LIMIT 1), 0.0) AS v),
         |sqiv AS (SELECT
         |  0.3 * (1.0 - CASE WHEN least(q.vol, tot.tv - q.vol) <= 0 THEN 1.0
         |    ELSE greatest(0.0, q.vol - 2.0 * q.internal) /
         |         least(q.vol, tot.tv - q.vol) END) +
         |  0.3 * ms.modshare + 0.4 * ps.sp AS v
         |  FROM (SELECT vol, internal, rank FROM pq ORDER BY rank DESC LIMIT 1) q
         |  JOIN modsh ms ON ms.rank = q.rank
         |  CROSS JOIN (SELECT sum(ppr) AS sp FROM tfac) ps CROSS JOIN tot)
         |SELECT CAST(0 AS BIGINT) AS query_id,
         |  round(grbp.v, 6) AS g_rbp, round(tdndcg.v, 6) AS td_ndcg,
         |  round(errv.v, 6) AS it_err, round(mrrt.v, 6) AS mrr_topo,
         |  round(sqiv.v, 6) AS sqi
         |FROM grbp CROSS JOIN tdndcg CROSS JOIN errv CROSS JOIN mrrt
         |CROSS JOIN sqiv"""
        // lrows/tfac are referenced up to 6 times each: without
        // MATERIALIZED DuckDB re-inlines the whole spectral+graph
        // chain per reference and the query never finishes
        .stripMargin.replace(" AS (", " AS MATERIALIZED ("))
  )
}
