package graft.queries

import org.apache.spark.sql.{functions => F}
import graft.queries.QueryLib._

/** The ArrowSpace index operators (O1-O7) over the default-params
  * index that every `a_` row shares; each oracle recomputes the whole
  * taumode (or energy) pipeline from the embeddings table. */
private[graft] object IndexQueries {

  /** The WHOLE energy pipeline (EnergyBuilder E1–E6, defaults:
    * opticalTokens=40, trim 0.1, η=0.1, steps=4, splitQuantile=0.9,
    * neighborK=12, splitTau=0.15, weights 1.0/0.5/0.25, candidateM=32,
    * GraphParams eps=1 k=10 σ=0.5 p=2) replayed as one DuckDB CTE
    * chain. Every stage is deterministic by construction on the engine
    * side (DeterministicKMeans: farthest-first seeding from the
    * smallest id + 20 fixed Lloyd iterations, ties → smaller index;
    * exact order-statistic quantiles), so the recurrence can be
    * unrolled: 39 seeding picks, 20 Lloyd rounds, the dispersion
    * splits, the candidate graph, and both F×F co-energy Laplacians.
    * Ends in lamv(id, lambda, e_raw) + tauv(t).
    */
  private val EnergyOracleCte: String = {
    val sb = new StringBuilder
    sb.append(
      """ex AS (SELECT vec_id AS id, generate_subscripts(embedding, 1) AS f,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |nrm AS (SELECT id, sqrt(sum(v * v)) AS nm FROM ex GROUP BY id),
        |x0 AS (SELECT ex.id, ex.f,
        |  CASE WHEN nrm.nm = 0 THEN ex.v ELSE ex.v / nrm.nm END AS x
        |  FROM ex JOIN nrm ON nrm.id = ex.id),
        |xl AS (SELECT id, list(x ORDER BY f) AS lv FROM x0 GROUP BY id),
        |ecp AS (SELECT a.id AS src, b.id AS dst,
        |  1.0 - greatest(0.0, list_cosine_similarity(a.lv, b.lv)) AS d
        |  FROM xl a JOIN xl b ON a.id <> b.id),
        |eknn AS (SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
        |  FROM ecp WHERE d <= 1.0) WHERE rn <= 12),
        |esym AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM eknn UNION ALL SELECT dst AS src, src AS dst FROM eknn))"""
        .stripMargin)
    // E1: 4 diffusion steps x <- x + eta*(mean_N(x) - x)
    for (t <- 1 to 4) sb.append(
      s""",
         |x$t AS (SELECT xs.id, xs.f, xs.x + 0.1 * (coalesce(nb.mn, xs.x) - xs.x) AS x
         |  FROM x${t - 1} xs LEFT JOIN (
         |    SELECT e.src AS id, xn.f, avg(xn.x) AS mn
         |    FROM esym e JOIN x${t - 1} xn ON xn.id = e.dst
         |    GROUP BY e.src, xn.f) nb ON nb.id = xs.id AND nb.f = xs.f)""".stripMargin)
    // E2: trim the 10% farthest from the global mean (exact quantile)
    sb.append(
      """,
        |nit AS (SELECT count(*) AS n FROM nrm),
        |gmean AS (SELECT x4.f, sum(x4.x) / nit.n AS m
        |  FROM x4 CROSS JOIN nit GROUP BY x4.f, nit.n),
        |dmn AS (SELECT x4.id, sqrt(sum((x4.x - gmean.m) * (x4.x - gmean.m))) AS dmean
        |  FROM x4 JOIN gmean ON gmean.f = x4.f GROUP BY x4.id),
        |tcut AS (SELECT quantile_disc(dmean, 0.9) AS c FROM dmn),
        |keep AS (SELECT dmn.id FROM dmn CROSS JOIN tcut WHERE dmn.dmean <= tcut.c),
        |trm AS (SELECT x4.id, x4.f, x4.x FROM x4 JOIN keep ON keep.id = x4.id)"""
        .stripMargin)
    // E3: deterministic k-means (farthest-first + 20 Lloyd rounds)
    sb.append("," + kmeansCtes("trm", 40, 20, ""))
    // E4: per-cluster stats, dispersion splits
    sb.append(
      """,
        |cstat AS (SELECT fin.c, trm.f,
        |  sum(trm.x) / count(*) AS mf,
        |  sqrt(greatest(0.0, sum(trm.x * trm.x) / count(*) -
        |    (sum(trm.x) / count(*)) * (sum(trm.x) / count(*)))) AS sf
        |  FROM fin JOIN trm ON trm.id = fin.id GROUP BY fin.c, trm.f),
        |cdisp AS (SELECT c, sqrt(sum(sf * sf)) AS disp FROM cstat GROUP BY c),
        |scut AS (SELECT r.disp AS d FROM
        |  (SELECT disp, row_number() OVER (ORDER BY disp) AS rn FROM cdisp) r
        |  CROSS JOIN (SELECT count(*) AS l FROM cdisp) n
        |  WHERE r.rn = least(n.l, cast(trunc(0.9 * n.l) AS BIGINT) + 1)),
        |ecent AS (
        |  SELECT 2 * cs.c AS cid, cs.f,
        |    CASE WHEN cd.disp > sc.d THEN cs.mf + 0.15 * cs.sf ELSE cs.mf END AS v,
        |    cd.disp AS disp
        |  FROM cstat cs JOIN cdisp cd ON cd.c = cs.c CROSS JOIN scut sc
        |  UNION ALL
        |  SELECT 2 * cs.c + 1, cs.f, cs.mf - 0.15 * cs.sf, cd.disp
        |  FROM cstat cs JOIN cdisp cd ON cd.c = cs.c CROSS JOIN scut sc
        |  WHERE cd.disp > sc.d),
        |cl AS (SELECT cid, list(v ORDER BY f) AS lv, max(disp) AS disp
        |  FROM ecent GROUP BY cid),
        |ccp AS (SELECT a.cid AS ca, b.cid AS cb,
        |  1.0 - greatest(0.0, list_cosine_similarity(a.lv, b.lv)) AS d
        |  FROM cl a JOIN cl b ON a.cid <> b.cid),
        |csel AS (SELECT DISTINCT least(ca, cb) AS a, greatest(ca, cb) AS b FROM (
        |  SELECT ca, cb FROM (
        |    SELECT ca, cb, row_number() OVER (PARTITION BY ca ORDER BY d, cb) AS rn
        |    FROM ccp) WHERE rn <= 32)),
        |pedges AS (SELECT csel.a, csel.b,
        |  1.0 - greatest(0.0, list_cosine_similarity(xx.lv, yy.lv)) AS d
        |  FROM csel JOIN cl xx ON xx.cid = csel.a JOIN cl yy ON yy.cid = csel.b),
        |pw AS (SELECT a, b, 1.0 / (1.0 + pow(d / 0.5, 2.0)) AS w FROM pedges),
        |pdif AS (SELECT pw.a, pw.b, pw.w, xa.f, xa.v - xb.v AS df
        |  FROM pw JOIN ecent xa ON xa.cid = pw.a
        |          JOIN ecent xb ON xb.cid = pw.b AND xb.f = xa.f),
        |pm AS (SELECT d1.f AS f, d2.f AS g, sum(d1.w * d1.df * d2.df) AS m
        |  FROM pdif d1 JOIN pdif d2 ON d1.a = d2.a AND d1.b = d2.b AND d1.f <= d2.f
        |  GROUP BY d1.f, d2.f),
        |fg AS (SELECT DISTINCT f FROM ecent),
        |pdg AS (SELECT f, m FROM pm WHERE f = g),
        |pall AS (SELECT f, g, m FROM pm
        |  UNION ALL SELECT g AS f, f AS g, m FROM pm WHERE f < g),
        |pdist AS (SELECT i.f, j.f AS g,
        |  CASE WHEN coalesce(di.m, 0.0) * coalesce(dj.m, 0.0) <= 0 THEN 1.0
        |       ELSE 1.0 - greatest(0.0, coalesce(pa.m, 0.0) / sqrt(di.m * dj.m)) END AS d
        |  FROM fg i JOIN fg j ON i.f <> j.f
        |  LEFT JOIN pdg di ON di.f = i.f
        |  LEFT JOIN pdg dj ON dj.f = j.f
        |  LEFT JOIN pall pa ON pa.f = i.f AND pa.g = j.f),
        |psel AS (SELECT DISTINCT least(f, g) AS f, greatest(f, g) AS g FROM (
        |  SELECT f, g FROM (
        |    SELECT f, g, row_number() OVER (PARTITION BY f ORDER BY d, g) AS rn
        |    FROM pdist) WHERE rn <= 10)),
        |plap AS (SELECT psel.f, psel.g, 1.0 / (1.0 + pow(pd.d / 0.5, 2.0)) AS w
        |  FROM psel JOIN pdist pd ON pd.f = psel.f AND pd.g = psel.g),
        |cen AS (SELECT xa.cid, sum(plap.w * (xa.v - xb.v) * (xa.v - xb.v)) AS e
        |  FROM plap JOIN ecent xa ON xa.f = plap.f
        |            JOIN ecent xb ON xb.cid = xa.cid AND xb.f = plap.g
        |  GROUP BY xa.cid),
        |mdsp AS (SELECT greatest(1e-12, max(disp)) AS v FROM cl),
        |esq AS (SELECT pw.a, pw.b, sum((xa.v - xb.v) * (xa.v - xb.v)) AS ss
        |  FROM pw JOIN ecent xa ON xa.cid = pw.a
        |          JOIN ecent xb ON xb.cid = pw.b AND xb.f = xa.f
        |  GROUP BY pw.a, pw.b),
        |ew AS (SELECT pe.a, pe.b,
        |  1.0 * (1.0 / (1.0 + abs(ca.e - cb.e))) +
        |  0.5 * (1.0 - abs(xa.disp - xb.disp) / mdsp.v) +
        |  0.25 * (1.0 / (1.0 + esq.ss)) AS w
        |  FROM pedges pe
        |  JOIN cen ca ON ca.cid = pe.a JOIN cen cb ON cb.cid = pe.b
        |  JOIN cl xa ON xa.cid = pe.a JOIN cl xb ON xb.cid = pe.b
        |  JOIN esq ON esq.a = pe.a AND esq.b = pe.b
        |  CROSS JOIN mdsp),
        |edif AS (SELECT ew.a, ew.b, ew.w, xa.f, xa.v - xb.v AS df
        |  FROM ew JOIN ecent xa ON xa.cid = ew.a
        |          JOIN ecent xb ON xb.cid = ew.b AND xb.f = xa.f),
        |em AS (SELECT d1.f AS f, d2.f AS g, sum(d1.w * d1.df * d2.df) AS m
        |  FROM edif d1 JOIN edif d2 ON d1.a = d2.a AND d1.b = d2.b AND d1.f <= d2.f
        |  GROUP BY d1.f, d2.f),
        |edg AS (SELECT f, m FROM em WHERE f = g),
        |eall AS (SELECT f, g, m FROM em
        |  UNION ALL SELECT g AS f, f AS g, m FROM em WHERE f < g),
        |edist AS (SELECT i.f, j.f AS g,
        |  CASE WHEN coalesce(di.m, 0.0) * coalesce(dj.m, 0.0) <= 0 THEN 1.0
        |       ELSE 1.0 - greatest(0.0, coalesce(ea.m, 0.0) / sqrt(di.m * dj.m)) END AS d
        |  FROM fg i JOIN fg j ON i.f <> j.f
        |  LEFT JOIN edg di ON di.f = i.f
        |  LEFT JOIN edg dj ON dj.f = j.f
        |  LEFT JOIN eall ea ON ea.f = i.f AND ea.g = j.f),
        |esel AS (SELECT DISTINCT least(f, g) AS f, greatest(f, g) AS g FROM (
        |  SELECT f, g FROM (
        |    SELECT f, g, row_number() OVER (PARTITION BY f ORDER BY d, g) AS rn
        |    FROM edist) WHERE rn <= 10)),
        |elap AS (SELECT esel.f, esel.g, 1.0 / (1.0 + pow(ed2.d / 0.5, 2.0)) AS w
        |  FROM esel JOIN edist ed2 ON ed2.f = esel.f AND ed2.g = esel.g),
        |iterm AS (SELECT a.id, elap.w * (a.v - b.v) * (a.v - b.v) AS t
        |  FROM elap JOIN ex a ON a.f = elap.f
        |            JOIN ex b ON b.id = a.id AND b.f = elap.g),
        |ilam AS (SELECT id, sum(t) AS e_raw,
        |  CASE WHEN sum(t) <= 0 THEN 0.0
        |       ELSE least(1.0, greatest(0.0, sum(t * t) / (sum(t) * sum(t)))) END AS g_raw
        |  FROM iterm GROUP BY id),
        |tauv AS (SELECT CASE WHEN quantile_disc(e_raw, 0.5) > 0
        |  THEN quantile_disc(e_raw, 0.5) ELSE 1e-10 END AS t FROM ilam),
        |lamv AS (SELECT il.id,
        |  (tv.t / (1.0 + tv.t)) *
        |    (CASE WHEN il.e_raw + tv.t = 0 THEN 0.0
        |          ELSE il.e_raw / (il.e_raw + tv.t) END) +
        |  (1.0 - tv.t / (1.0 + tv.t)) * il.g_raw AS lambda,
        |  il.e_raw AS e_raw
        |  FROM ilam il CROSS JOIN tauv tv)""".stripMargin)
    // MATERIALIZED on every CTE: DuckDB inlines plain CTEs per
    // reference, and the seeding/Lloyd chains reference their
    // predecessor twice each — inlining makes the expansion
    // exponential (observed as "Too many open files" from duplicated
    // parquet scans). Materialization makes the evaluation linear.
    sb.toString.replace(" AS (", " AS MATERIALIZED (")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("a_lambdas", (s, d) => {
      val (m, _) = model(s, d)
      m.lambdas
        .select(F.col("id"), F.round(F.col("lambda"), 6).as("lambda"))
        .orderBy("id")
    },
      // spectral core (O1/O3-O7 + S6-S10): the DuckDB oracle
      // recomputes the FULL taumode pipeline from the embeddings table —
      // Gram matrix → column-cosine affinity → kernel weights (σ=0.5,
      // p=2) → per-item Dirichlet energy + Gini concentration → exact
      // median τ (quantile_disc matches Spark's approxQuantile with
      // relativeError=0) → λ = m·E/(E+τ) + (1−m)·G — so the flagship
      // queries are hash-verified end to end, not just spec-verified.
      s"""$SpectralCte
         |SELECT id, round(lambda, 6) AS lambda FROM lam ORDER BY id""".stripMargin),

    QuerySpec("a_search", (s, d) => {
      val (m, _) = model(s, d)
      m.search(queryVec(s, d), tau = 0.62)
        .select(F.col("id"), F.round(F.col("score"), 6).as("score"))
    },
      s"""$SpectralCte,
         |cosims AS (
         |  SELECT b.id, sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id = 0
         |  GROUP BY b.id)
         |SELECT id, round(score, 6) AS score FROM (
         |  SELECT l.id,
         |    0.62 * c.cos + 0.38 * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |  FROM lam l JOIN cosims c USING (id)
         |  CROSS JOIN (SELECT lambda FROM lam WHERE id = 0) lq
         |  ORDER BY score DESC, l.id ASC LIMIT 10)""".stripMargin),

    QuerySpec("a_search_batch", (s, d) => {
      val (m, _) = model(s, d)
      // three items' raw embeddings as the queries, so each query's λ
      // is that item's stored λ (the same synth formula, the same L)
      val q = emb(s, d).where(F.col("id").isin(0L, 3L, 7L))
        .select(F.col("id").as("query_id"), F.col("vec").as("qvec"))
      Seq(0.8, 0.62).map(tau => m.searchBatch(q, tau, 10).select(F.lit(tau).as("tau"),
          F.col("query_id"), F.col("id"), F.round(F.col("score"), 6).as("score"), F.col("rank")))
        .reduce(_ unionByName _)
    },
      s"""$SpectralCte,
         |cosims AS (
         |  SELECT a.id AS query_id, b.id,
         |    sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id IN (0, 3, 7)
         |  GROUP BY a.id, b.id),
         |taus AS (SELECT CAST(unnest([0.8, 0.62]) AS DOUBLE) AS tau),
         |scored AS (
         |  SELECT t.tau, c.query_id, l.id,
         |    t.tau * c.cos + (1.0 - t.tau) * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |  FROM lam l JOIN cosims c USING (id)
         |  JOIN lam lq ON lq.id = c.query_id
         |  CROSS JOIN taus t)
         |SELECT tau, query_id, id, round(score, 6) AS score, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY tau, query_id ORDER BY score DESC, id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin),

    QuerySpec("a_search_hybrid", (s, d) => {
      val (m, _) = model(s, d)
      m.searchHybrid(queryVec(s, d), tau = 0.8)
        .select(F.col("id"), F.round(F.col("score"), 6).as("score"))
    },
      s"""$SpectralCte,
         |cosims AS (
         |  SELECT b.id, sum(a.v * b.v) / sqrt(sum(a.v * a.v) * sum(b.v * b.v)) AS cos
         |  FROM x a JOIN x b ON a.f = b.f AND a.id = 0
         |  GROUP BY b.id),
         |norms AS (SELECT id, sqrt(sum(v * v)) AS nrm FROM x GROUP BY id)
         |SELECT id, round(score, 6) AS score FROM (
         |  SELECT l.id,
         |    0.8 * (0.5 * c.cos + 0.5 * (CASE WHEN qn.nrm = 0 OR n.nrm = 0 THEN 0.0
         |      ELSE exp(-abs(ln(qn.nrm / n.nrm))) END)) +
         |    0.2 * (1.0 / (1.0 + abs(l.lambda - lq.lambda))) AS score
         |  FROM lam l JOIN cosims c USING (id) JOIN norms n USING (id)
         |  CROSS JOIN (SELECT lambda FROM lam WHERE id = 0) lq
         |  CROSS JOIN (SELECT nrm FROM norms WHERE id = 0) qn
         |  ORDER BY score DESC, l.id ASC LIMIT 10)""".stripMargin),

    QuerySpec("a_search_energy", (s, d) => {
      val (m, _) = model(s, d)
      m.searchEnergy(queryVec(s, d), k = 10)
        .select(F.col("id"), F.round(F.col("score"), 6).as("score"))
    },
      s"""$SpectralCte
         |SELECT id, round(score, 6) AS score FROM (
         |  SELECT l.id,
         |    1.0 / (1.0 + abs(l.lambda - lq.lambda)) +
         |    0.5 / (1.0 + abs(l.e_raw - lq.e_raw)) AS score
         |  FROM lam l
         |  CROSS JOIN (SELECT lambda, e_raw FROM lam WHERE id = 0) lq
         |  ORDER BY score DESC, l.id ASC LIMIT 10)""".stripMargin),

    QuerySpec("a_get_item", (s, d) => {
      val (m, _) = model(s, d)
      m.getItem(7)
        .select(F.col("id"), F.round(F.col("lambda"), 6).as("lambda"))
    },
      s"""$SpectralCte
         |SELECT id, round(lambda, 6) AS lambda FROM lam WHERE id = 7""".stripMargin),

    QuerySpec("a_energy_lambdas", (s, d) => {
      val (m, _) = energyModel(s, d)
      m.lambdas
        .select(F.col("id"), F.round(F.col("lambda"), 6).as("lambda"))
        .orderBy("id")
    },
      s"""WITH $EnergyOracleCte
         |SELECT id, round(lambda, 6) AS lambda FROM lamv ORDER BY id""".stripMargin),

    QuerySpec("a_energy_search", (s, d) => {
      val (m, _) = energyModel(s, d)
      m.searchEnergy(queryVec(s, d), k = 10)
        .select(F.col("id"), F.round(F.col("score"), 6).as("score"))
    },
      // the query vector IS item 0's raw embedding, so λ_q and E_q equal
      // that item's stored lambda / e_raw (same synth formula, same L)
      s"""WITH $EnergyOracleCte,
         |lq AS (SELECT lambda, e_raw FROM lamv WHERE id = 0)
         |SELECT id, round(score, 6) AS score FROM (
         |  SELECT lv.id,
         |    1.0 * (1.0 / (1.0 + abs(lv.lambda - lq.lambda))) +
         |    0.5 * (1.0 / (1.0 + abs(lv.e_raw - lq.e_raw))) AS score
         |  FROM lamv lv CROSS JOIN lq
         |  ORDER BY score DESC, lv.id ASC LIMIT 10)""".stripMargin),

    QuerySpec("a_graph_degrees", (s, d) => {
      val (_, edges) = model(s, d)
      graft.graph.KnnGraph.degrees(edges)
        .select(F.col("id"), F.round(F.col("degree"), 4).as("degree"))
        .orderBy("id")
    },
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cos_pairs AS (
        |  SELECT a.id AS src, b.id AS dst,
        |    1.0 - greatest(0.0, list_cosine_similarity(a.v, b.v)) AS d
        |  FROM e a JOIN e b ON a.id <> b.id),
        |knn AS (
        |  SELECT src, dst, d FROM (
        |    SELECT src, dst, d,
        |      row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
        |    FROM cos_pairs WHERE d <= 1.0)
        |  WHERE rn <= 10),
        |sym AS (
        |  SELECT src, dst, min(d) AS d FROM (
        |    SELECT src, dst, d FROM knn
        |    UNION ALL SELECT dst AS src, src AS dst, d FROM knn)
        |  GROUP BY src, dst)
        |SELECT src AS id,
        |  round(sum(1.0 / (1.0 + pow(d / 0.5, 2.0))), 4) AS degree
        |FROM sym GROUP BY src ORDER BY id""".stripMargin)
  )
}
