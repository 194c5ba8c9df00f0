package graft.queries

import org.apache.spark.sql.{functions => F}
import graft.queries.QueryLib._

/** Graph analytics (GraphX; reference test_6 semantics) over the
  * `a_` index's eps-kNN item graph. */
private[graft] object GraphQueries {

  /** Unrolled k-core peeling over GraphBaseCte's `sym`/`nodes`:
    * kc0 = all nodes; kc_{i+1} = nodes whose degree among kc_i ≥ k.
    * Monotone, so a converged fixpoint is invariant under the spare
    * rounds. Ends in kc`rounds`. */
  private def kcoreRoundsCte(k: Int, rounds: Int): String = {
    val sb = new StringBuilder("kc0 AS (SELECT id FROM nodes)")
    for (i <- 1 to rounds) sb.append(
      s""",
         |kd$i AS (SELECT s.src AS id, count(*) AS deg FROM sym s
         |  JOIN kc${i - 1} a ON a.id = s.src
         |  JOIN kc${i - 1} b ON b.id = s.dst
         |  GROUP BY s.src),
         |kc$i AS (SELECT id FROM kd$i WHERE deg >= $k)""".stripMargin)
    sb.toString
  }

  /** Generated DuckDB oracle for g_ppr: GraphX's
    * staticPersonalizedPageRank is a fixed 15-iteration linear
    * recurrence rank = 0.15·δ_src + 0.85·Σ_in rank(j)/outdeg(j) with
    * rank₀ = δ_src and NO final normalization (validated: 0 mismatches
    * vs the engine at round-6 precision, sf0.01) — unrolled here as
    * chained CTEs over the same kNN-graph SQL as a_graph_degrees.
    */
  private val PprOracleSql: String =
    s"""WITH $GraphBaseCte,
       |${pprRoundsCte(15)}
       |SELECT id, round(r, 6) AS ppr FROM r15 ORDER BY id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("g_triangles", (s, d) => {
      // Exact cos>=0.3 threshold graph built broadcast-side (no
      // cartesian join), then the relational 3-way-join count that
      // matches the DuckDB oracle form.
      val edges = graft.graph.GraphAnalytics.cosineThresholdEdges(emb(s, d), 0.3)
      graft.graph.GraphAnalytics.triangleCount(edges)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |und AS (SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.3)
        |SELECT count(*) AS n_triangles
        |FROM und e1
        |  JOIN und e2 ON e1.dst = e2.src
        |  JOIN und e3 ON e1.src = e3.src AND e2.dst = e3.dst""".stripMargin),

    QuerySpec("g_conductance", (s, d) => {
      // conductance of the fixed node set {id < 250} in the eps-kNN
      // graph — the one §2.3 graph kernel that is SQL-expressible on a
      // deterministic set (community-based variants depend on LPA).
      val (_, edges) = model(s, d)
      val half = edges.agg(F.max("src")).head.getLong(0) / 2 + 1
      val c = graft.graph.GraphAnalytics.conductance(
        edges, (0L until half).toSet)
      val spark2 = s
      import spark2.implicits._
      Seq(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toDF("conductance")
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
        |symd AS (
        |  SELECT src, dst, min(d) AS d FROM (
        |    SELECT src, dst, d FROM knn
        |    UNION ALL SELECT dst AS src, src AS dst, d FROM knn)
        |  GROUP BY src, dst),
        |w AS (SELECT src, dst, 1.0 / (1.0 + pow(d / 0.5, 2.0)) AS w FROM symd),
        |half AS (SELECT max(src) // 2 + 1 AS h FROM w),
        |agg AS (SELECT
        |    sum(CASE WHEN (src < h) <> (dst < h) THEN w ELSE 0 END) AS cut,
        |    sum(CASE WHEN src < h THEN w ELSE 0 END) AS vols,
        |    sum(CASE WHEN src >= h THEN w ELSE 0 END) AS volr
        |  FROM w CROSS JOIN half)
        |SELECT round(CASE WHEN least(vols, volr) <= 0 THEN 1.0
        |  ELSE (cut / 2.0) / least(vols, volr) END, 6) AS conductance
        |FROM agg""".stripMargin),

    QuerySpec("g_ppr", (s, d) => {
      val (_, edges) = model(s, d)
      val src = edges.agg(F.min("src")).head.getLong(0)
      graft.graph.GraphAnalytics.personalizedPageRank(edges, src)
        .select(F.col("id"), F.round(F.col("ppr"), 6).as("ppr"))
        .orderBy("id")
    },
      PprOracleSql),

    QuerySpec("g_components", (s, d) => {
      val (_, edges) = model(s, d)
      graft.graph.GraphAnalytics.connectedComponents(edges).orderBy("id")
    },
      """WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
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
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM knn
        |    UNION SELECT dst AS src, src AS dst FROM knn)),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |r(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.dst, r.lab FROM r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst)
        |SELECT id, min(lab) AS component FROM r GROUP BY id ORDER BY id""".stripMargin),

    QuerySpec("g_kcore", (s, d) => {
      // dense-backbone extraction: 3-core of the cos>=0.3 threshold
      // graph (the kNN graph is degree-homogeneous by construction —
      // its cores are all-or-nothing; the threshold graph peels over
      // ~10 rounds to a 316-node core at sf0.01). 12 unrolled rounds
      // in the oracle; the monotone fixpoint makes spares no-ops.
      val und = graft.graph.GraphAnalytics
        .cosineThresholdEdges(emb(s, d), 0.3)
      val sym = und.unionByName(
        und.select(F.col("dst").as("src"), F.col("src").as("dst")))
      graft.graph.GraphAnalytics.kCore(sym, k = 3, maxRounds = 12)
    },
      (s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |sym AS (SELECT a.id AS src, b.id AS dst
         |  FROM e a JOIN e b ON a.id <> b.id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.3),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |${kcoreRoundsCte(3, 12)}
         |SELECT s.src AS id, count(*) AS deg FROM sym s
         |JOIN kc12 a ON a.id = s.src
         |JOIN kc12 b ON b.id = s.dst
         |GROUP BY s.src ORDER BY id""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    QuerySpec("g_communities", (s, d) => {
      val (_, edges) = model(s, d)
      graft.graph.GraphAnalytics.labelPropagation(edges).orderBy("id")
    },
      s"""WITH $GraphBaseCte,
         |${lpaRoundsCte(5)}
         |SELECT id, lab AS community FROM lab5 ORDER BY id""".stripMargin),

    // unweighted shortest-path hops from the smallest node over the
    // undirected kNN graph — frontier-bounded multi-source BFS; the
    // oracle replays it as a round-capped recursive CTE with the same
    // truncation (min hops within 20 rounds, unreachable rows absent)
    QuerySpec("g_shortest_paths", (s, d) => {
      val (_, edges) = model(s, d)
      val src = edges
        .select(F.explode(F.array(F.col("src"), F.col("dst"))).as("n"))
        .agg(F.min("n")).head.getLong(0)
      graft.graph.GraphAnalytics.hopDistances(edges, Seq(src), maxHops = 20)
        .orderBy("id")
    },
      // BFS hop distances, replayed as a round-capped recursive CTE over
      // the same symmetrized kNN graph: states are (id, hops<=20) pairs,
      // so the recursion terminates, and min(hops) per id is the BFS
      // distance; rows never reached within the cap are absent on both
      // sides (identical truncation by construction)
      """WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
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
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM knn
        |    UNION SELECT dst AS src, src AS dst FROM knn)),
        |r(id, hops) AS (
        |  SELECT min(src), 0 FROM sym
        |  UNION
        |  SELECT sy.dst, r.hops + 1 FROM r JOIN sym sy ON sy.src = r.id
        |  WHERE r.hops < 20)
        |SELECT id, min(hops) AS hops FROM r GROUP BY id ORDER BY id""".stripMargin),

    // the landmark-SET face: hops = distance to the NEAREST of two
    // landmarks (min and max node id) — the seed-set distance feature;
    // same recursive replay, seeded with both rows
    QuerySpec("g_hop_landmarks", (s, d) => {
      val (_, edges) = model(s, d)
      val mm = edges
        .select(F.explode(F.array(F.col("src"), F.col("dst"))).as("n"))
        .agg(F.min("n"), F.max("n")).head
      graft.graph.GraphAnalytics.hopDistances(
          edges, Seq(mm.getLong(0), mm.getLong(1)), maxHops = 20)
        .orderBy("id")
    },
      // landmark set {min, max node id}: the recursion seeds with BOTH
      // rows, so min(hops) per id is the distance to the nearest landmark
      """WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
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
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM knn
        |    UNION SELECT dst AS src, src AS dst FROM knn)),
        |r(id, hops) AS (
        |  SELECT s, 0 FROM (
        |    SELECT min(src) AS s FROM sym
        |    UNION SELECT max(src) FROM sym)
        |  UNION
        |  SELECT sy.dst, r.hops + 1 FROM r JOIN sym sy ON sy.src = r.id
        |  WHERE r.hops < 20)
        |SELECT id, min(hops) AS hops FROM r GROUP BY id ORDER BY id""".stripMargin),

    // harmonic centrality against the {min, max} landmark pair:
    // Σ 1/d(l, v) over landmarks reached — TWO terms, so the floating
    // sum is one commutative addition and round-4 is bit-stable
    // against the SQL replay's order
    QuerySpec("g_harmonic", (s, d) => {
      val (_, edges) = model(s, d)
      val mm = edges
        .select(F.explode(F.array(F.col("src"), F.col("dst"))).as("n"))
        .agg(F.min("n"), F.max("n")).head
      graft.graph.GraphAnalytics.harmonicCentrality(
          edges, Seq(mm.getLong(0), mm.getLong(1)), maxHops = 20)
        .orderBy("id")
    },
      // harmonic centrality: the per-source recursion (src rides the
      // rows), min hops per (src, id), then Σ 1/h over the two landmarks
      """WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
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
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM knn
        |    UNION SELECT dst AS src, src AS dst FROM knn)),
        |r(l, id, hops) AS (
        |  SELECT s, s, 0 FROM (
        |    SELECT min(src) AS s FROM sym
        |    UNION SELECT max(src) FROM sym)
        |  UNION
        |  SELECT r.l, sy.dst, r.hops + 1 FROM r JOIN sym sy ON sy.src = r.id
        |  WHERE r.hops < 20),
        |d AS (SELECT l, id, min(hops) AS h FROM r GROUP BY l, id)
        |SELECT id, round(sum(1.0 / h), 4) AS harmonic
        |FROM d WHERE h > 0 GROUP BY id ORDER BY id""".stripMargin),

    QuerySpec("g_topology_factor", (s, d) => {
      val (_, edges) = model(s, d)
      val src = edges.agg(F.min("src")).head.getLong(0)
      graft.graph.GraphAnalytics.topologyFactor(edges, src).orderBy("id")
    },
      s"""WITH $GraphBaseCte,
         |${pprRoundsCte(15)},
         |${lpaRoundsCte(5)},
         |csize AS (SELECT lab, count(*) AS csize FROM lab5 GROUP BY lab),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |tot AS (SELECT sum(w) AS totvol FROM w),
         |condc AS (
         |  SELECT ls.lab AS lab, sum(w.w) AS vol,
         |    sum(CASE WHEN ls.lab <> ld.lab THEN w.w ELSE 0.0 END) AS cut
         |  FROM w JOIN lab5 ls ON ls.id = w.src
         |         JOIN lab5 ld ON ld.id = w.dst
         |  GROUP BY ls.lab),
         |conds AS (
         |  SELECT lab, CASE WHEN least(vol, totvol - vol) <= 0 THEN 1.0
         |    ELSE cut / least(vol, totvol - vol) END AS cond
         |  FROM condc CROSS JOIN tot),
         |bounds AS (
         |  SELECT min(r) AS lo,
         |    CASE WHEN max(r) - min(r) <= 0 THEN 1.0
         |         ELSE max(r) - min(r) END AS span
         |  FROM r15)
         |SELECT l.id,
         |  round(0.4 * ((r15.r - b.lo) / b.span) + 0.3 * (1.0 - c.cond) +
         |    0.3 * (cs.csize::DOUBLE / nn.n), 6) AS topology_factor
         |FROM lab5 l JOIN r15 ON r15.id = l.id
         |  JOIN csize cs ON cs.lab = l.lab
         |  JOIN conds c ON c.lab = l.lab
         |  CROSS JOIN bounds b CROSS JOIN nn
         |ORDER BY l.id""".stripMargin)
  )
}
