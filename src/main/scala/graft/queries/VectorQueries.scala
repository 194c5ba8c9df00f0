package graft.queries

import graft.operators.{Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.queries.QueryLib._

/** Similarity search: exact, LSH, codec and IVF top-k faces, their
  * batch, filtered and tie-aware forms, mining, PCA and the layout
  * takedowns. */
private[graft] object VectorQueries {

  /** Shared protocol of the four codec takedown rows, pinned to ONE
    * implementation exactly like their shared oracle SQL
    * (`takedownSurvivorsSql` — query vec id 1, %5==0 removal, search
    * at the degenerate rerank-covers-corpus point): build+save the
    * family's layout, `codesLayoutRemove`, reload-and-search. The
    * family differs only in its (save, search) pair. */
  private def codecTakedownRow(
      tag: String,
      save: (DataFrame, String) => Unit,
      search: (SparkSession, String, DataFrame, Array[Double]) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val e = emb(s, d)
    val dir = tmpDir(s"graft_vtake_$tag")
    save(e, dir)
    Similarity.codesLayoutRemove(
      s, dir, e.where(F.col("id") % 5 === 0).select("id"))
    val qv = e.where(F.col("id") === 1)
      .select("vec").head.getSeq[Double](0).toArray
    search(s, dir, e, qv)
  }

  /** Replay of Pca.fit/project as generated DuckDB SQL: the covariance
    * from an unnested self-join, then the SAME fixed-start power
    * iteration with Hotelling deflation, unrolled one CTE per
    * iteration (the per-iteration normalize uses a whole-partition
    * window so every CTE references its predecessor exactly once —
    * linear, not exponential, under CTE inlining; the shared
    * covariance CTEs are MATERIALIZED because c_k is probed by all
    * `iters` matvecs). Power iteration is self-correcting, so the
    * engine and oracle trajectories agree to ~1e-12 long before
    * either has converged — round(…, 6) on both sides absorbs it.
    */
  private def pcaOracleSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         unnest(CAST(embedding AS DOUBLE[])) AS x
      |  FROM embeddings),
      |n AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
      |m AS MATERIALIZED (
      |  SELECT i, sum(x) / (SELECT n FROM n) AS mu FROM e GROUP BY i),
      |c0 AS MATERIALIZED (
      |  SELECT g.i, g.j, g.s / (SELECT n FROM n) - ma.mu * mb.mu AS v
      |  FROM (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
      |        FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2) g
      |  JOIN m ma ON ma.i = g.i JOIN m mb ON mb.i = g.j),
      |v0 AS (SELECT i, 1.0 / sqrt((SELECT count(*) FROM m)) AS val FROM m)""".stripMargin
    for (c <- 1 to k) {
      val cov = s"c${c - 1}"
      for (t <- 1 to iters) {
        val prev = if (t == 1) "v0" else s"v${c}_${t - 1}"
        // MATERIALIZED: DuckDB 1.0 inlines single-reference CTEs, and a
        // 60-deep inlined chain made optimization time EXPONENTIAL in
        // iteration count (measured: 8 iters 0.16 s, 12 iters 0.8 s);
        // materializing each 64-row iterate keeps it linear (60 iters 0.35 s)
        sb ++= s",\nv${c}_$t AS MATERIALIZED (SELECT i, s / sqrt(sum(s * s) OVER ()) AS val FROM " +
          s"(SELECT c.i AS i, sum(c.v * p.val) AS s FROM $cov c JOIN $prev p ON c.j = p.i GROUP BY c.i))"
      }
      val vl = s"v${c}_$iters"
      sb ++= s",\nl$c AS (SELECT sum(a.val * c.v * b.val) AS l FROM $cov c " +
        s"JOIN $vl a ON c.i = a.i JOIN $vl b ON c.j = b.i)"
      if (c < k)
        sb ++= s",\nc$c AS MATERIALIZED (SELECT c.i, c.j, c.v - (SELECT l FROM l$c) * a.val * b.val AS v " +
          s"FROM $cov c JOIN $vl a ON c.i = a.i JOIN $vl b ON c.j = b.i)"
      sb ++= s",\nmd$c AS (SELECT sum(m.mu * v.val) AS md FROM m JOIN $vl v ON m.i = v.i)"
      sb ++= s",\np$c AS (SELECT e.vec_id, sum(e.x * v.val) - (SELECT md FROM md$c) AS p " +
        s"FROM e JOIN $vl v ON e.i = v.i GROUP BY e.vec_id)"
      sb ++= s",\ns$c AS (SELECT $c AS component, round((SELECT l FROM l$c), 6) AS eigenvalue, " +
        s"round(sum(p * p) / (SELECT n FROM n) - (sum(p) / (SELECT n FROM n)) * (sum(p) / (SELECT n FROM n)), 6) " +
        s"AS var_proj FROM p$c)"
    }
    sb ++= "\n" + (1 to k).map(c => s"SELECT * FROM s$c").mkString(" UNION ALL ")
    sb ++= "\nORDER BY component"
    sb.toString
  }

  // shared by the four codec takedown rows (and the same contract as
  // v_takedown_ivf's inline copy): at the degenerate point every
  // family's post-takedown answer is the exact cosine order over the
  // surviving (%5 <> 0) vectors
  private lazy val takedownSurvivorsSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 1)
      |SELECT e.vec_id AS id,
      |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
      |FROM e, q
      |WHERE e.vec_id % 5 <> 0
      |ORDER BY score DESC, id ASC""".stripMargin

  // shared by the flat and composed tie-aware BATCH rows: on the
  // constructed total tie every query's widened class is the whole
  // corpus, so each qid's answer is its exact cosine top-10 over the
  // abs(x)+1 vectors
  private lazy val tieAwareBatchReplaySql: String =
    """WITH e AS (SELECT vec_id AS id,
      |  list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x) + 1.0)
      |    AS v
      |  FROM embeddings),
      |q AS (SELECT id AS qid, v AS qv FROM e WHERE id <= 4),
      |scored AS (SELECT q.qid, e.id,
      |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
      |  FROM e CROSS JOIN q),
      |ranked AS (SELECT qid, id, score,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, id ASC) AS rn
      |  FROM scored)
      |SELECT qid, id, score FROM ranked WHERE rn <= 10
      |ORDER BY qid, score DESC, id ASC""".stripMargin

  /** [[graft.scale.DeterministicKMeans.fitSpherical]]'s recurrence as
    * a CTE chain: the [[kmeansCtes]] seeding verbatim over the
    * (pre-normalized) `src`, then `iters` Lloyd rounds where each
    * updated mean is re-normalized to the sphere (kept centers of
    * empty clusters stay untouched — matching the engine's
    * `case _ => cs(c)` exactly, which is why the normalization is
    * conditional on a mean existing rather than applied to every row).
    * The final assignment ${p}fin runs over `asgSrc` — the RAW rows,
    * because with unit centers argmin-squared-Euclid is argmax-cosine
    * for any input norm, which is the contract under test. Emits
    * ${p}kc`iters` (c, f, cx) and ${p}fin(id, c).
    */
  private def kmeansSphericalCtes(
      src: String, asgSrc: String, k: Int, iters: Int, p: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""
         |${p}sp0 AS (SELECT min(id) AS id FROM $src),
         |${p}cent0 AS (SELECT 0 AS c, t.f, t.x AS cx
         |  FROM $src t JOIN ${p}sp0 s ON t.id = s.id),
         |${p}md0 AS (SELECT t.id, sum((t.x - c0.cx) * (t.x - c0.cx)) AS md
         |  FROM $src t JOIN ${p}cent0 c0 ON c0.f = t.f GROUP BY t.id)""".stripMargin)
    for (i <- 1 until k) {
      sb.append(
        s""",
           |${p}pick$i AS (SELECT id FROM ${p}md${i - 1} ORDER BY md DESC, id ASC LIMIT 1),
           |${p}cent$i AS (SELECT $i AS c, t.f, t.x AS cx
           |  FROM $src t JOIN ${p}pick$i pk ON t.id = pk.id)""".stripMargin)
      if (i < k - 1) sb.append(
        s""",
           |${p}md$i AS (SELECT m.id, least(m.md, d.nd) AS md FROM ${p}md${i - 1} m JOIN (
           |    SELECT t.id, sum((t.x - ci.cx) * (t.x - ci.cx)) AS nd
           |    FROM $src t JOIN ${p}cent$i ci ON ci.f = t.f GROUP BY t.id) d
           |  ON d.id = m.id)""".stripMargin)
    }
    sb.append(
      (0 until k).map(i => s"SELECT * FROM ${p}cent$i")
        .mkString(s",\n${p}kc0 AS (", " UNION ALL ", ")"))
    for (j <- 1 to iters) sb.append(
      s""",
         |${p}km$j AS (
         |  SELECT asg.c, t.f, avg(t.x) AS mx
         |  FROM (
         |    SELECT id, c FROM (
         |      SELECT t.id, k2.c,
         |        row_number() OVER (PARTITION BY t.id
         |          ORDER BY sum((t.x - k2.cx) * (t.x - k2.cx)) ASC, k2.c ASC) AS rn
         |      FROM $src t JOIN ${p}kc${j - 1} k2 ON k2.f = t.f
         |      GROUP BY t.id, k2.c)
         |    WHERE rn = 1) asg
         |  JOIN $src t ON t.id = asg.id
         |  GROUP BY asg.c, t.f),
         |${p}kn$j AS (SELECT c, sqrt(sum(mx * mx)) AS nm FROM ${p}km$j GROUP BY c),
         |${p}kc$j AS (
         |  SELECT k.c, k.f,
         |    CASE WHEN m.mx IS NOT NULL THEN
         |      CASE WHEN n.nm = 0 THEN m.mx ELSE m.mx / n.nm END
         |    ELSE k.cx END AS cx
         |  FROM ${p}kc${j - 1} k
         |  LEFT JOIN ${p}km$j m ON m.c = k.c AND m.f = k.f
         |  LEFT JOIN ${p}kn$j n ON n.c = k.c)""".stripMargin)
    sb.append(
      s""",
         |${p}fin AS (SELECT id, c FROM (
         |  SELECT t.id, k2.c,
         |    row_number() OVER (PARTITION BY t.id
         |      ORDER BY sum((t.x - k2.cx) * (t.x - k2.cx)) ASC, k2.c ASC) AS rn
         |  FROM $asgSrc t JOIN ${p}kc$iters k2 ON k2.f = t.f
         |  GROUP BY t.id, k2.c) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  val specs: Seq[QuerySpec] = Seq(
    // hybrid retrieval: BM25 lexical top-20 fused with cosine ANN
    // top-20 by Reciprocal Rank Fusion — rank-based, so the two
    // incomparable score scales need no calibration
    QuerySpec("v_rrf_fusion", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def ranked(df: DataFrame, id: String): DataFrame = df.select(
        F.col(id).as("doc_id"),
        F.row_number().over(
          Window.orderBy(F.col("score").desc, F.col(id).asc)).as("rank"))
      val lex = ranked(
        TextOps.bm25TopK(docs(s, d), Seq("spark", "vector", "stream"), 20),
        "doc_id")
      val sem = ranked(Similarity.annTopK(emb(s, d), queryVec(s, d), 20), "id")
      TextOps.rrfFuse(Seq(lex, sem), kConst = 60)
    },
      // RRF replay: the t_bm25 scoring chain and the v_ann_topk cosine
      // chain, each row_number'ed on its ROUNDED score (the engine's
      // rank convention), unioned and folded into sum(1/(60+rank))
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks),
        |corpus AS (
        |  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, count(*)::DOUBLE AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        |  WHERE token IN ('spark', 'vector', 'stream')
        |  GROUP BY doc_id, token),
        |idf AS (
        |  SELECT token, ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1) AS idf
        |  FROM (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df
        |        FROM tf GROUP BY token) d, corpus c),
        |lexs AS (
        |  SELECT tf.doc_id,
        |    round(sum(idf.idf * tf.tf * 2.2 /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))), 6) AS score
        |  FROM tf
        |  JOIN idf USING (token)
        |  JOIN dl USING (doc_id), corpus c
        |  GROUP BY tf.doc_id
        |  ORDER BY score DESC, doc_id ASC
        |  LIMIT 20),
        |lex AS (SELECT doc_id, row_number() OVER (
        |  ORDER BY score DESC, doc_id ASC) AS rank FROM lexs),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |qv AS (SELECT v AS q FROM ev WHERE vec_id = 0),
        |sems AS (
        |  SELECT ev.vec_id AS doc_id,
        |    round(list_cosine_similarity(ev.v, qv.q), 4) AS score
        |  FROM ev, qv
        |  ORDER BY score DESC, doc_id ASC
        |  LIMIT 20),
        |sem AS (SELECT doc_id, row_number() OVER (
        |  ORDER BY score DESC, doc_id ASC) AS rank FROM sems),
        |u AS (SELECT doc_id, rank FROM lex
        |  UNION ALL SELECT doc_id, rank FROM sem)
        |SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf,
        |  count(*) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf DESC, doc_id ASC""".stripMargin),

    QuerySpec("v_ann_topk", (s, d) =>
      Similarity.annTopK(emb(s, d), queryVec(s, d), 20),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    QuerySpec("v_ann_topk_lsh", (s, d) =>
      // deterministic SRP-LSH (Hamming-ranked candidates, exact-integer
      // projections) rather than the seeded ML BucketedRandomProjection
      // path: same approximate contract, but reproducible enough for
      // the DuckDB oracle to replay the candidate set bit-for-bit
      Similarity.annTopKHamming(emb(s, d), queryVec(s, d), 20),
      // SRP-LSH replay: md5-parity ±1 planes, vectors quantized to
      // round(x·1e6) BIGINTs so plane-sign agreement is exact integer
      // math — the top-240 Hamming candidate set is identical to the
      // engine's, then the same round-4 cosine re-rank as v_ann_topk.
      ("""WITH planes AS (
        |  SELECT j.range AS j, f.range AS f,
        |    CASE WHEN ascii(substr(md5(CAST(j.range AS VARCHAR) || '_' ||
        |      CAST(f.range AS VARCHAR)), 1, 1)) % 2 = 0
        |    THEN 1 ELSE -1 END AS s
        |  FROM range(256) j CROSS JOIN range(64) f),
        |xsrc AS (SELECT vec_id AS id,
        |  generate_subscripts(embedding, 1) - 1 AS f,
        |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |xq AS (SELECT id, f, CAST(round(x * 1000000) AS BIGINT) AS xi
        |  FROM xsrc),
        |proj AS (SELECT x.id, p.j, sum(p.s * x.xi) AS pr
        |  FROM xq x JOIN planes p ON p.f = x.f GROUP BY x.id, p.j),
        |qb AS (SELECT j, pr >= 0 AS qb FROM proj WHERE id = 0),
        |agr AS (SELECT pr.id,
        |    sum(CASE WHEN (pr.pr >= 0) = qb.qb THEN 1 ELSE 0 END) AS agree
        |  FROM proj pr JOIN qb ON qb.j = pr.j GROUP BY pr.id),
        |cand AS (SELECT id FROM agr ORDER BY agree DESC, id ASC LIMIT 240),
        |q AS (SELECT f, x FROM xsrc WHERE id = 0),
        |scored AS (SELECT a.id,
        |  sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)) AS cos
        |  FROM xsrc a JOIN q ON q.f = a.f JOIN cand c ON c.id = a.id
        |  GROUP BY a.id)
        |SELECT id, round(cos, 4) AS score FROM scored
        |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // SQ8 quantized ANN through the MATERIALIZED index: codes are a
    // real d-byte BINARY column (8× smaller than the float64 vectors),
    // the candidate scan reads only codes, and the exact vectors are
    // touched by the bounded rerank join alone
    QuerySpec("v_ann_topk_sq8", (s, d) => {
      val e = emb(s, d)
      Similarity.sq8TopK(
        Similarity.sq8Encode(e), e, queryVec(s, d), 20, rerank = 100)
    },
      // SQ8 replay: per-dim min/max arrays, affine 0..255 quantize +
      // dequantize (constant dims pass through), dequantized-cosine
      // candidate cut at 100 (round-4 then id tiebreak), exact rerank
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |idx AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS j
        |  FROM e),
        |dims AS (SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        |  FROM idx GROUP BY j),
        |stats AS (SELECT list(mn ORDER BY j) AS mns,
        |    list(mx ORDER BY j) AS mxs FROM dims),
        |dq AS (SELECT e.vec_id,
        |    list_transform(range(1, len(e.v) + 1), j ->
        |      CASE WHEN s.mxs[j] = s.mns[j] THEN s.mns[j]
        |        ELSE s.mns[j]
        |          + round((e.v[j] - s.mns[j]) / (s.mxs[j] - s.mns[j]) * 255.0)
        |            * (s.mxs[j] - s.mns[j]) / 255.0
        |      END) AS dv
        |  FROM e, stats s),
        |ap AS (SELECT d.vec_id,
        |    round(list_cosine_similarity(d.dv, q.qv), 4) AS approx
        |  FROM dq d, q),
        |cand AS (SELECT vec_id FROM ap
        |  ORDER BY approx DESC, vec_id ASC LIMIT 100)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e JOIN cand USING (vec_id), q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // 1-bit binary quantization (sign bits packed 64 dims/long, 64×
    // smaller than the float64 vectors): Hamming-distance candidate
    // cut — an INTEGER, so the production operating point replays
    // exactly in SQL (no degenerate-point oracle needed) — then exact
    // cosine rerank like every codec
    QuerySpec("v_ann_topk_binary", (s, d) => {
      val e = emb(s, d)
      Similarity.binaryTopK(
        Similarity.binaryEncode(e, persist = false), e, queryVec(s, d),
        k = 20, rerank = 60)
    },
      // binary replay at the PRODUCTION operating point: hamming =
      // count of per-dimension sign disagreements (x > 0, NULL-false
      // like the engine's packer), integer-exact candidate cut, then
      // the exact cosine rerank
      """WITH src AS (SELECT vec_id AS id,
        |    generate_subscripts(embedding, 1) AS f,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |q AS (SELECT f, x FROM src WHERE id = 0),
        |ham AS (SELECT s.id,
        |    sum(CASE WHEN COALESCE(s.x > 0, FALSE)
        |      <> COALESCE(q.x > 0, FALSE) THEN 1 ELSE 0 END) AS h
        |  FROM src s JOIN q ON q.f = s.f GROUP BY s.id),
        |cand AS (SELECT id FROM ham ORDER BY h ASC, id ASC LIMIT 60),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, qv.qv), 4) AS score
        |FROM e JOIN cand ON cand.id = e.vec_id, qv
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // batch face: one scan of the packed bits scores all queries
    // (xor+popcount per row), bounded-heap per-query candidate cut,
    // one exact-rerank join for every query's survivors
    QuerySpec("v_ann_topk_binary_batch", (s, d) => {
      val e = emb(s, d)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      Similarity.binaryTopKBatch(
        Similarity.binaryEncode(e, persist = false), e, qs,
        k = 10, rerank = 60)
    },
      // per-query generalization of the binary replay (qids 0..4)
      """WITH src AS (SELECT vec_id AS id,
        |    generate_subscripts(embedding, 1) AS f,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |qs AS (SELECT id AS qid, f, x FROM src WHERE id <= 4),
        |ham AS (SELECT q.qid, s.id,
        |    sum(CASE WHEN COALESCE(s.x > 0, FALSE)
        |      <> COALESCE(q.x > 0, FALSE) THEN 1 ELSE 0 END) AS h
        |  FROM src s JOIN qs q ON q.f = s.f GROUP BY q.qid, s.id),
        |cand AS (SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid
        |      ORDER BY h ASC, id ASC) AS rn FROM ham) WHERE rn <= 60),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
        |scored AS (SELECT c.qid, e.vec_id AS id,
        |    round(list_cosine_similarity(e.v, qv.qv), 4) AS score
        |  FROM cand c JOIN e ON e.vec_id = c.id
        |  JOIN qv ON qv.qid = c.qid),
        |ranked AS (SELECT qid, id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
        |  FROM scored)
        |SELECT qid, id, score FROM ranked WHERE rn <= 10
        |ORDER BY qid, score DESC, id ASC""".stripMargin),

    // batch face of the SQ8 index: one codes scan scores all queries
    // (broadcast query side), salted per-query candidate cut, one
    // rerank join for every query's survivors
    QuerySpec("v_ann_topk_sq8_batch", (s, d) => {
      val e = emb(s, d)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      Similarity.sq8TopKBatch(
        Similarity.sq8Encode(e), e, qs, k = 10, rerank = 100)
    },
      // batch generalization of the v_ann_topk_sq8 replay: per-qid
      // candidate window on the dequantized scores, exact rerank per qid
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |idx AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS j
        |  FROM e),
        |dims AS (SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        |  FROM idx GROUP BY j),
        |stats AS (SELECT list(mn ORDER BY j) AS mns,
        |    list(mx ORDER BY j) AS mxs FROM dims),
        |dq AS (SELECT e.vec_id,
        |    list_transform(range(1, len(e.v) + 1), j ->
        |      CASE WHEN s.mxs[j] = s.mns[j] THEN s.mns[j]
        |        ELSE s.mns[j]
        |          + round((e.v[j] - s.mns[j]) / (s.mxs[j] - s.mns[j]) * 255.0)
        |            * (s.mxs[j] - s.mns[j]) / 255.0
        |      END) AS dv
        |  FROM e, stats s),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
        |ap AS (SELECT q.qid, d.vec_id,
        |    round(list_cosine_similarity(d.dv, q.qv), 4) AS approx
        |  FROM dq d, q),
        |cand AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY approx DESC, vec_id ASC) AS rn
        |  FROM ap) WHERE rn <= 100),
        |scored AS (SELECT c.qid, e.vec_id AS id,
        |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |  FROM cand c JOIN e ON e.vec_id = c.vec_id
        |  JOIN q ON q.qid = c.qid)
        |SELECT qid, id, score FROM (
        |  SELECT qid, id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
        |  FROM scored) WHERE rn <= 10
        |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")),

    // PQ quantized ANN: m=4 byte codes per row (16× denser than the
    // float64 vectors), per-subspace DeterministicKMeans codebooks so
    // the codec is oracle-replayable, ADC lookup-table scan, bounded
    // exact rerank — the third codec beside exact and SQ8
    QuerySpec("v_ann_topk_pq", (s, d) => {
      val e = emb(s, d)
      val index = Similarity.pqBuild(e, m = 4, ksub = 8, iters = 10)
      val out = Similarity.pqTopK(index, e, queryVec(s, d), 20, rerank = 100)
        .localCheckpoint()
      Similarity.pqRelease(index)
      out
    },
      // PQ replay: 4 per-subspace DeterministicKMeans recurrences (8
      // codebook entries, 10 Lloyd rounds over 16-dim slices; same CTE
      // generator as the IVF oracle), reconstruction = the concatenated
      // assigned centroids, ADC approx = cosine(query, reconstruction)
      // (round-4, id tiebreak) cut at 100, exact rerank top-20
      (s"""WITH pqsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |p0src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 1 AND 16),
          |p1src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 17 AND 32),
          |p2src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 33 AND 48),
          |p3src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 49 AND 64),
          |${kmeansCtes("p0src", 8, 10, "p0")},
          |${kmeansCtes("p1src", 8, 10, "p1")},
          |${kmeansCtes("p2src", 8, 10, "p2")},
          |${kmeansCtes("p3src", 8, 10, "p3")},
          |recon AS (
          |  SELECT fin.id, k.f, k.cx
          |  FROM p0fin fin JOIN p0kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p1fin fin JOIN p1kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p2fin fin JOIN p2kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p3fin fin JOIN p3kc10 k ON k.c = fin.c),
          |q AS (SELECT f, x FROM pqsrc WHERE id = 0),
          |qn AS (SELECT sqrt(sum(x * x)) AS v FROM q),
          |ap AS (SELECT r.id,
          |  round(sum(q.x * r.cx) / (qn.v * sqrt(sum(r.cx * r.cx))), 4)
          |    AS approx
          |  FROM recon r JOIN q ON q.f = r.f CROSS JOIN qn
          |  GROUP BY r.id, qn.v),
          |cand AS (SELECT id FROM ap ORDER BY approx DESC, id ASC LIMIT 100),
          |scored AS (SELECT a.id,
          |  sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)) AS cos
          |  FROM pqsrc a JOIN q ON q.f = a.f JOIN cand c ON c.id = a.id
          |  GROUP BY a.id)
          |SELECT id, round(cos, 4) AS score FROM scored
          |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // OPQ (rotated PQ): parametric eigenvalue-allocation rotation
    // before subspace quantization. Oracled at the DEGENERATE point
    // (rerank covers the corpus ⇒ the exact rerank IS the answer, and
    // an ORTHOGONAL rotation preserves every cosine — so the exact
    // top-k SQL oracles the whole rotate→encode→ADC→rerank plumbing);
    // production pruning and the recall-vs-raw-PQ claim are
    // spec-pinned in PqSpec, measured at scale in
    // history/SCALE_BENCH_r11_recall{40,80,160v}.json.
    QuerySpec("v_opq_topk", (s, d) => {
      val e = emb(s, d)
      val index = Similarity.opqBuild(e, m = 4, ksub = 8, iters = 10)
      val out = Similarity.opqTopK(index, e, queryVec(s, d), 20,
          rerank = 100000)
        .localCheckpoint()
      Similarity.opqRelease(index)
      out
    },
      // OPQ degenerate-point replay: with rerank covering the corpus
      // the output is the exact cosine top-20 regardless of codes, and
      // orthogonality makes rotated cosines == raw cosines — the same
      // exact SQL as v_ann_topk
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // OPQ batch face at the degenerate point: rerank covers the
    // corpus, so each qid's answer is its exact cosine top-10 and the
    // whole rotate-LUT -> ADC -> raw-rerank pipeline is oracled by
    // plain SQL; production pruning + batch==single are spec-pinned.
    QuerySpec("v_opq_topk_batch", (s, d) => {
      val e = emb(s, d)
      val index = Similarity.opqBuild(e, m = 4, ksub = 8, iters = 10)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.opqTopKBatch(index, e, qs, k = 10,
          rerank = 100000)
        .localCheckpoint()
      Similarity.opqRelease(index)
      out
    },
      // exact per-qid cosine top-10 (self included — the batch face
      // does not exclude the query row); the degenerate-point argument
      // is v_opq_topk's, per query
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
        |scored AS (SELECT q.qid, e.vec_id AS id,
        |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |  FROM e CROSS JOIN q),
        |ranked AS (SELECT qid, id, score,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, id ASC) AS rn
        |  FROM scored)
        |SELECT qid, id, score FROM ranked WHERE rn <= 10
        |ORDER BY qid, score DESC, id ASC""".stripMargin),

    // batch face of the PQ index: per-query ADC lookup tables built on
    // the executors, ONE codes scan for all queries, salted per-query
    // cut, one rerank join
    QuerySpec("v_ann_topk_pq_batch", (s, d) => {
      val e = emb(s, d)
      val pq = Similarity.pqBuild(e, m = 4, ksub = 8, iters = 10)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.pqTopKBatch(pq, e, qs, k = 10, rerank = 100)
        .localCheckpoint()
      Similarity.pqRelease(pq)
      out
    },
      // PQ-batch replay: the v_ann_topk_pq recon chain, per-query approx
      // ranked on the rounded score (batch parity convention), cut at
      // 100, exact rescore, per-qid top-10
      (s"""WITH pqsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |p0src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 1 AND 16),
          |p1src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 17 AND 32),
          |p2src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 33 AND 48),
          |p3src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 49 AND 64),
          |${kmeansCtes("p0src", 8, 10, "p0")},
          |${kmeansCtes("p1src", 8, 10, "p1")},
          |${kmeansCtes("p2src", 8, 10, "p2")},
          |${kmeansCtes("p3src", 8, 10, "p3")},
          |recon AS (
          |  SELECT fin.id, k.f, k.cx
          |  FROM p0fin fin JOIN p0kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p1fin fin JOIN p1kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p2fin fin JOIN p2kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p3fin fin JOIN p3kc10 k ON k.c = fin.c),
          |qs AS (SELECT id AS qid, f, x FROM pqsrc WHERE id <= 4),
          |qn AS (SELECT qid, sqrt(sum(x * x)) AS v FROM qs GROUP BY qid),
          |ap AS (SELECT q.qid, r.id,
          |  round(sum(q.x * r.cx) / (qn.v * sqrt(sum(r.cx * r.cx))), 4)
          |    AS approx
          |  FROM recon r JOIN qs q ON q.f = r.f
          |  JOIN qn ON qn.qid = q.qid
          |  GROUP BY q.qid, r.id, qn.v),
          |cand AS (SELECT qid, id FROM (
          |  SELECT qid, id, row_number() OVER (
          |    PARTITION BY qid ORDER BY approx DESC, id ASC) AS rn
          |  FROM ap) WHERE rn <= 100),
          |scored AS (SELECT c.qid, a.id,
          |  round(sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)), 4)
          |    AS score
          |  FROM pqsrc a JOIN cand c ON c.id = a.id
          |  JOIN qs q ON q.qid = c.qid AND q.f = a.f
          |  GROUP BY c.qid, a.id)
          |SELECT qid, id, score FROM (
          |  SELECT qid, id, score, row_number() OVER (
          |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
          |  FROM scored) WHERE rn <= 10
          |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // IVF+PQ composition (IndexIVFPQ): lists prune WHICH rows are
    // scanned (nprobe=12 of 16), PQ codes bound WHAT the scan reads
    // (4 bytes/row through the ADC expression), exact rerank at 60
    QuerySpec("v_ivf_pq_topk", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val pq = Similarity.pqBuild(e, m = 4, ksub = 8, iters = 10)
      val out = Similarity.ivfPqTopK(
        ivf, pq, e, queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.pqRelease(pq)
      out
    },
      // IVF+PQ replay: the v_ivf_topk probe chain (k=16 lists, 15 Lloyd
      // rounds, nprobe=12) intersected with the v_ann_topk_pq ADC chain
      // (4 subspaces, 8 entries, 10 rounds) — candidates are probed rows
      // ranked by round-4 reconstruction cosine, cut at 60, exact rerank
      (s"""WITH pqsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("pqsrc", 16, 15, "iv")},
          |p0src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 1 AND 16),
          |p1src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 17 AND 32),
          |p2src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 33 AND 48),
          |p3src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 49 AND 64),
          |${kmeansCtes("p0src", 8, 10, "p0")},
          |${kmeansCtes("p1src", 8, 10, "p1")},
          |${kmeansCtes("p2src", 8, 10, "p2")},
          |${kmeansCtes("p3src", 8, 10, "p3")},
          |q AS (SELECT f, x FROM pqsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN q ON q.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |recon AS (
          |  SELECT fin.id, k.f, k.cx
          |  FROM p0fin fin JOIN p0kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p1fin fin JOIN p1kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p2fin fin JOIN p2kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p3fin fin JOIN p3kc10 k ON k.c = fin.c),
          |qn AS (SELECT sqrt(sum(x * x)) AS v FROM q),
          |ap AS (SELECT r.id,
          |  round(sum(q.x * r.cx) / (qn.v * sqrt(sum(r.cx * r.cx))), 4)
          |    AS approx
          |  FROM recon r JOIN sel s ON s.id = r.id
          |  JOIN q ON q.f = r.f CROSS JOIN qn
          |  GROUP BY r.id, qn.v),
          |cand AS (SELECT id FROM ap ORDER BY approx DESC, id ASC LIMIT 60),
          |scored AS (SELECT a.id,
          |  sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)) AS cos
          |  FROM pqsrc a JOIN q ON q.f = a.f JOIN cand c ON c.id = a.id
          |  GROUP BY a.id)
          |SELECT id, round(cos, 4) AS score FROM scored
          |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // the full IndexIVFPQ serving shape, batched: executor probe
    // selection + cluster-keyed candidate join + ADC over codes with
    // broadcast per-query tables + exact rerank
    QuerySpec("v_ivf_pq_topk_batch", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val pq = Similarity.pqBuild(e, m = 4, ksub = 8, iters = 10)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.ivfPqTopKBatch(
        ivf, pq, e, qs, k = 10, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.pqRelease(pq)
      out
    },
      // IVF+PQ batch replay: per-query probe ranking over the iv chain,
      // probe-bounded candidates intersected with the PQ recon approx,
      // batch rank convention, exact rescore per qid
      (s"""WITH pqsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("pqsrc", 16, 15, "iv")},
          |p0src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 1 AND 16),
          |p1src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 17 AND 32),
          |p2src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 33 AND 48),
          |p3src AS (SELECT id, f, x FROM pqsrc WHERE f BETWEEN 49 AND 64),
          |${kmeansCtes("p0src", 8, 10, "p0")},
          |${kmeansCtes("p1src", 8, 10, "p1")},
          |${kmeansCtes("p2src", 8, 10, "p2")},
          |${kmeansCtes("p3src", 8, 10, "p3")},
          |recon AS (
          |  SELECT fin.id, k.f, k.cx
          |  FROM p0fin fin JOIN p0kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p1fin fin JOIN p1kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p2fin fin JOIN p2kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p3fin fin JOIN p3kc10 k ON k.c = fin.c),
          |qs AS (SELECT id AS qid, f, x FROM pqsrc WHERE id <= 4),
          |cq AS (SELECT q.qid, k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN qs q ON q.f = k.f GROUP BY q.qid, k.c),
          |probes AS (SELECT qid, c FROM (
          |  SELECT qid, c, row_number() OVER (
          |    PARTITION BY qid ORDER BY d, c) AS rn FROM cq) WHERE rn <= 12),
          |sel AS (SELECT p.qid, fin.id
          |  FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |qn AS (SELECT qid, sqrt(sum(x * x)) AS v FROM qs GROUP BY qid),
          |ap AS (SELECT s.qid, r.id,
          |  round(sum(q.x * r.cx) / (qn.v * sqrt(sum(r.cx * r.cx))), 4)
          |    AS approx
          |  FROM recon r JOIN sel s ON s.id = r.id
          |  JOIN qs q ON q.qid = s.qid AND q.f = r.f
          |  JOIN qn ON qn.qid = s.qid
          |  GROUP BY s.qid, r.id, qn.v),
          |cand AS (SELECT qid, id FROM (
          |  SELECT qid, id, row_number() OVER (
          |    PARTITION BY qid ORDER BY approx DESC, id ASC) AS rn
          |  FROM ap) WHERE rn <= 60),
          |scored AS (SELECT c.qid, a.id,
          |  round(sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)), 4)
          |    AS score
          |  FROM pqsrc a JOIN cand c ON c.id = a.id
          |  JOIN qs q ON q.qid = c.qid AND q.f = a.f
          |  GROUP BY c.qid, a.id)
          |SELECT qid, id, score FROM (
          |  SELECT qid, id, score, row_number() OVER (
          |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
          |  FROM scored) WHERE rn <= 10
          |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Spherical-quantizer IVF on a deliberately UN-normalized corpus
    // (each vector scaled by 1 + id%5): fitSpherical's unit centroids
    // make assignment argmax-cosine for any input norm, so probe
    // ranking and assignment agree where the Euclidean quantizer's
    // geometry breaks — the documented IVF normalization contract,
    // lifted (history/SCALE.md "Known limits")
    QuerySpec("v_ivf_spherical_topk", (s, d) => {
      val e = emb(s, d).select(F.col("id"),
        F.transform(F.col("vec"),
          x => x * (F.col("id") % 5 + 1).cast("double")).as("vec"))
      val ivf = Similarity.ivfBuildSpherical(e, nLists = 16)
      val out = Similarity.ivfTopK(ivf, queryVec(s, d), k = 20, nprobe = 12)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // Spherical-quantizer replay on the scaled (un-normalized) corpus:
      // seeding + Lloyd over the unit-normalized rows with per-round
      // center renorm (kmeansSphericalCtes), final assignment over the
      // RAW scaled rows — unit centers make it argmax-cosine; probe
      // ranking, probed scan, exact round-4 cosines as v_ivf_topk
      (s"""WITH ssrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) * (1 + vec_id % 5) AS x
          |  FROM embeddings),
          |snrm AS (SELECT id, sqrt(sum(x * x)) AS nm FROM ssrc GROUP BY id),
          |nsrc AS (SELECT s.id, s.f,
          |  CASE WHEN n.nm = 0 THEN s.x ELSE s.x / n.nm END AS x
          |  FROM ssrc s JOIN snrm n ON n.id = s.id),
          |${kmeansSphericalCtes("nsrc", "ssrc", 16, 15, "sv")},
          |q AS (SELECT f, x FROM ssrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM svkc15 k JOIN q ON q.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM svfin fin JOIN probes p ON p.c = fin.c),
          |scored AS (SELECT a.id,
          |  sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)) AS cos
          |  FROM ssrc a JOIN q ON q.f = a.f JOIN sel s ON s.id = a.id
          |  GROUP BY a.id)
          |SELECT id, round(cos, 4) AS score FROM scored
          |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // Two-level (hierarchical) coarse quantizer — the build path past
    // suggestLists' 64k-list wall: √k coarse cells, per-cell
    // sub-quantizers fit in parallel inside tasks, assignment scans
    // √k + p·√k centers per row instead of k. Oracled at the
    // DEGENERATE point (nprobe = index.k: the probe scans every list,
    // so output == exact brute-force top-k whatever the hierarchical
    // fit produced — same pattern as v_bitext_mine_pq); the production
    // pruning's determinism, coverage and recall are spec-pinned
    // (SimilaritySpec "two-level IVF").
    QuerySpec("v_ivf_2level_topk", (s, d) => {
      val ivf = Similarity.ivfBuildTwoLevel(emb(s, d), nLists = 16)
      val out = Similarity.ivfTopK(ivf, queryVec(s, d), k = 20,
        nprobe = ivf.k).localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // Two-level IVF at the degenerate point: nprobe = index.k keeps
      // every probed list, so the output is the exact brute-force top-k
      // and the oracle is v_ann_topk's scan — the hierarchical fit
      // (coarse cells + per-cell sub-quantizers) affects WHICH lists
      // exist, not what a full-probe scan returns
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // hierarchical probe selection over the two-level index: probes
    // chosen by ranking √k coarse cells then only the probed cells'
    // sub-centers — the query-side mirror of the build-side cliff
    // ivfBuildTwoLevel fixes. Oracled at the degenerate point
    // (coarseCells = all cells, nprobe = k ⇒ probes equal the flat
    // path's, scan covers every list ⇒ exact top-k); the pruned
    // point's probe equality and recall are spec-pinned
    QuerySpec("v_ivf_2level_hier_topk", (s, d) => {
      val ivf = Similarity.ivfBuildTwoLevel(emb(s, d), nLists = 16)
      val out = Similarity.ivfTopKHier(ivf, queryVec(s, d), k = 20,
        nprobe = ivf.k, coarseCells = ivf.hier.get.coarse.length)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // hierarchical probes at the degenerate point (all coarse cells,
      // nprobe = k): every list is probed whatever the hierarchy chose,
      // so the answer is the exact top-20 — same brute-force replay
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // SHARDED hierarchical probe selection: probes chosen by a join
    // against the sub-center TABLE (cell-partitioned at rest) instead
    // of a broadcast of all k sub-centers — the batch-retrieval form
    // once k·F outgrows a broadcast (~512 MB at 1M corpus-proportional
    // lists). Oracled at the degenerate point (all coarse cells,
    // nprobe = k ⇒ every list probed ⇒ exact per-query top-k); exact
    // row-for-row parity with the broadcast path at a PRUNED point is
    // spec-pinned (SimilaritySpec "sharded hierarchical probes")
    QuerySpec("v_ivf_2level_sharded_topk", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuildTwoLevel(e, nLists = 16)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.ivfTopKBatchHierSharded(ivf, qs, k = 10,
        nprobe = ivf.k, coarseCells = ivf.hier.get.coarse.length)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // sharded hier probes at the degenerate point: every list probed
      // for every query, so each query's answer is the exact brute-force
      // top-10 — per-query replay of the single-query oracle
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
        |scored AS (SELECT qs.qid, e.vec_id AS id,
        |    round(list_cosine_similarity(e.v, qs.qv), 4) AS score
        |  FROM e, qs),
        |ranked AS (SELECT qid, id, score,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, id ASC) AS rn
        |  FROM scored)
        |SELECT qid, id, score FROM ranked
        |WHERE rn <= 10
        |ORDER BY qid, score DESC, id ASC""".stripMargin),

    // Residual IVF+PQ (IVFADC — Jégou et al. TPAMI'11, the faiss
    // IndexIVFPQ default): codebooks trained on r = x − c(list), so
    // codec capacity models the within-list spread. Query-time scan
    // cost equals v_ivf_pq_topk's (m bytes + one divide — the
    // reconstruction norm ‖x̂‖² is folded into a stored n2hat column
    // at build); recall at fixed (nprobe, rerank) is spec-measured ≥
    // the raw codec's on clustered data
    QuerySpec("v_ivf_pqr_topk", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val pqr = Similarity.pqResidualBuild(ivf, m = 4, ksub = 8, iters = 10)
      val out = Similarity.ivfPqrTopK(
        ivf, pqr, e, queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.pqResidualRelease(pqr)
      out
    },
      // Residual IVF+PQ replay: the v_ivf_pq_topk chain with ONE change
      // of training input — the per-subspace kmeans chains run over
      // rsrc (x − assigned iv centroid) instead of pqsrc, and the
      // reconstruction adds the centroid back (recon = reconr + ivkc15).
      // The engine's stored-norm quotient equals cosine(q, recon)
      // exactly, so the oracle scores the reconstruction directly
      (s"""WITH pqsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("pqsrc", 16, 15, "iv")},
          |rsrc AS (SELECT s.id, s.f, s.x - k.cx AS x
          |  FROM pqsrc s JOIN ivfin fin ON fin.id = s.id
          |  JOIN ivkc15 k ON k.c = fin.c AND k.f = s.f),
          |p0src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 1 AND 16),
          |p1src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 17 AND 32),
          |p2src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 33 AND 48),
          |p3src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 49 AND 64),
          |${kmeansCtes("p0src", 8, 10, "p0")},
          |${kmeansCtes("p1src", 8, 10, "p1")},
          |${kmeansCtes("p2src", 8, 10, "p2")},
          |${kmeansCtes("p3src", 8, 10, "p3")},
          |reconr AS (
          |  SELECT fin.id, k.f, k.cx
          |  FROM p0fin fin JOIN p0kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p1fin fin JOIN p1kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p2fin fin JOIN p2kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p3fin fin JOIN p3kc10 k ON k.c = fin.c),
          |recon AS (SELECT r.id, r.f, r.cx + k.cx AS cx
          |  FROM reconr r JOIN ivfin fin ON fin.id = r.id
          |  JOIN ivkc15 k ON k.c = fin.c AND k.f = r.f),
          |q AS (SELECT f, x FROM pqsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN q ON q.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |qn AS (SELECT sqrt(sum(x * x)) AS v FROM q),
          |ap AS (SELECT r.id,
          |  round(sum(q.x * r.cx) / (qn.v * sqrt(sum(r.cx * r.cx))), 4)
          |    AS approx
          |  FROM recon r JOIN sel s ON s.id = r.id
          |  JOIN q ON q.f = r.f CROSS JOIN qn
          |  GROUP BY r.id, qn.v),
          |cand AS (SELECT id FROM ap ORDER BY approx DESC, id ASC LIMIT 60),
          |scored AS (SELECT a.id,
          |  sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)) AS cos
          |  FROM pqsrc a JOIN q ON q.f = a.f JOIN cand c ON c.id = a.id
          |  GROUP BY a.id)
          |SELECT id, round(cos, 4) AS score FROM scored
          |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // batch face of the residual composition: probe rows carry the
    // per-query dot LUT plus ONE extra scalar (⟨q,c⟩); same fan-out
    // join shape as v_ivf_pq_topk_batch
    QuerySpec("v_ivf_pqr_topk_batch", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val pqr = Similarity.pqResidualBuild(ivf, m = 4, ksub = 8, iters = 10)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.ivfPqrTopKBatch(
        ivf, pqr, e, qs, k = 10, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.pqResidualRelease(pqr)
      out
    },
      // batch face of the residual replay: same residual recon chain,
      // per-qid probe ranking / candidate window / exact rerank as the
      // v_ivf_pq_topk_batch convention
      (s"""WITH pqsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("pqsrc", 16, 15, "iv")},
          |rsrc AS (SELECT s.id, s.f, s.x - k.cx AS x
          |  FROM pqsrc s JOIN ivfin fin ON fin.id = s.id
          |  JOIN ivkc15 k ON k.c = fin.c AND k.f = s.f),
          |p0src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 1 AND 16),
          |p1src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 17 AND 32),
          |p2src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 33 AND 48),
          |p3src AS (SELECT id, f, x FROM rsrc WHERE f BETWEEN 49 AND 64),
          |${kmeansCtes("p0src", 8, 10, "p0")},
          |${kmeansCtes("p1src", 8, 10, "p1")},
          |${kmeansCtes("p2src", 8, 10, "p2")},
          |${kmeansCtes("p3src", 8, 10, "p3")},
          |reconr AS (
          |  SELECT fin.id, k.f, k.cx
          |  FROM p0fin fin JOIN p0kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p1fin fin JOIN p1kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p2fin fin JOIN p2kc10 k ON k.c = fin.c
          |  UNION ALL SELECT fin.id, k.f, k.cx
          |  FROM p3fin fin JOIN p3kc10 k ON k.c = fin.c),
          |recon AS (SELECT r.id, r.f, r.cx + k.cx AS cx
          |  FROM reconr r JOIN ivfin fin ON fin.id = r.id
          |  JOIN ivkc15 k ON k.c = fin.c AND k.f = r.f),
          |qs AS (SELECT id AS qid, f, x FROM pqsrc WHERE id <= 4),
          |cq AS (SELECT q.qid, k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN qs q ON q.f = k.f GROUP BY q.qid, k.c),
          |probes AS (SELECT qid, c FROM (
          |  SELECT qid, c, row_number() OVER (
          |    PARTITION BY qid ORDER BY d, c) AS rn FROM cq) WHERE rn <= 12),
          |sel AS (SELECT p.qid, fin.id
          |  FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |qn AS (SELECT qid, sqrt(sum(x * x)) AS v FROM qs GROUP BY qid),
          |ap AS (SELECT s.qid, r.id,
          |  round(sum(q.x * r.cx) / (qn.v * sqrt(sum(r.cx * r.cx))), 4)
          |    AS approx
          |  FROM recon r JOIN sel s ON s.id = r.id
          |  JOIN qs q ON q.qid = s.qid AND q.f = r.f
          |  JOIN qn ON qn.qid = s.qid
          |  GROUP BY s.qid, r.id, qn.v),
          |cand AS (SELECT qid, id FROM (
          |  SELECT qid, id, row_number() OVER (
          |    PARTITION BY qid ORDER BY approx DESC, id ASC) AS rn
          |  FROM ap) WHERE rn <= 60),
          |scored AS (SELECT c.qid, a.id,
          |  round(sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)), 4)
          |    AS score
          |  FROM pqsrc a JOIN cand c ON c.id = a.id
          |  JOIN qs q ON q.qid = c.qid AND q.f = a.f
          |  GROUP BY c.qid, a.id)
          |SELECT qid, id, score FROM (
          |  SELECT qid, id, score, row_number() OVER (
          |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
          |  FROM scored) WHERE rn <= 10
          |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // IVF+SQ8 composition (IndexIVFScalarQuantizer): lists prune WHICH
    // rows are scanned (nprobe=12 of 16), SQ8 codes bound WHAT the
    // scan reads (d bytes/row through the dequantized-cosine
    // expression), exact rerank at 60 — closes the one unpruned scan
    // the plain sq8 batch carries (VERDICT r8 #5)
    QuerySpec("v_ivf_sq8_topk", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val sq8 = Similarity.sq8Encode(e)
      val out = Similarity.ivfSq8TopK(
        ivf, sq8, e, queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.sq8Release(sq8)
      out
    },
      // IVF+SQ8 replay: the v_ivf_topk probe chain (16 lists, 15 Lloyd
      // rounds, nprobe=12) bounds WHICH rows enter the v_ann_topk_sq8
      // dequant chain (per-dim min/max over the WHOLE corpus — the
      // engine encodes before probing); candidates cut at 60 on the
      // round-4 dequantized cosine (id tiebreak), exact rerank top-20
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |qx AS (SELECT f, x FROM ivsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * qx.x) / sqrt(sum(k.cx * k.cx) * sum(qx.x * qx.x)) AS d
          |  FROM ivkc15 k JOIN qx ON qx.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |idx AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS j
          |  FROM e),
          |dims AS (SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
          |  FROM idx GROUP BY j),
          |stats AS (SELECT list(mn ORDER BY j) AS mns,
          |    list(mx ORDER BY j) AS mxs FROM dims),
          |dq AS (SELECT e.vec_id,
          |    list_transform(range(1, len(e.v) + 1), j ->
          |      CASE WHEN s.mxs[j] = s.mns[j] THEN s.mns[j]
          |        ELSE s.mns[j]
          |          + round((e.v[j] - s.mns[j]) / (s.mxs[j] - s.mns[j]) * 255.0)
          |            * (s.mxs[j] - s.mns[j]) / 255.0
          |      END) AS dv
          |  FROM e JOIN sel ON sel.id = e.vec_id, stats s),
          |ap AS (SELECT d.vec_id,
          |    round(list_cosine_similarity(d.dv, q.qv), 4) AS approx
          |  FROM dq d, q),
          |cand AS (SELECT vec_id FROM ap
          |  ORDER BY approx DESC, vec_id ASC LIMIT 60)
          |SELECT e.vec_id AS id,
          |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |FROM e JOIN cand USING (vec_id), q
          |ORDER BY score DESC, id ASC
          |LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // IVF + binary: probed lists bound WHICH rows scan, 1-bit codes
    // bound WHAT the scan reads (8 B/row at 64 dims). Oracled at the
    // PRODUCTION pruning (nprobe=12, rerank=60) — the probe chain is
    // the replayable kmeans recurrence and the hamming cut is integer
    QuerySpec("v_ivf_binary_topk", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val bin = Similarity.binaryEncode(e)
      val out = Similarity.ivfBinaryTopK(
        ivf, bin, e, queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.binaryRelease(bin)
      out
    },
      // IVF+binary replay: the iv probe chain bounds the candidate set,
      // then the integer hamming cut and the exact rerank — all at the
      // production operating point
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |qx AS (SELECT f, x FROM ivsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * qx.x) / sqrt(sum(k.cx * k.cx) * sum(qx.x * qx.x)) AS d
          |  FROM ivkc15 k JOIN qx ON qx.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |ham AS (SELECT s.id,
          |    sum(CASE WHEN COALESCE(s.x > 0, FALSE)
          |      <> COALESCE(qx.x > 0, FALSE) THEN 1 ELSE 0 END) AS h
          |  FROM ivsrc s JOIN sel ON sel.id = s.id
          |  JOIN qx ON qx.f = s.f GROUP BY s.id),
          |cand AS (SELECT id FROM ham ORDER BY h ASC, id ASC LIMIT 60)
          |SELECT e.vec_id AS id,
          |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |FROM e JOIN cand ON cand.id = e.vec_id, q
          |ORDER BY score DESC, id ASC
          |LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // batch face of the residual codec at the same production
    // pruning: per-qid probe ranking over the k-means chain, residual
    // sign bits per (query, probed list), per-qid (hamming ASC, id
    // ASC) window at 60, exact rerank per qid
    QuerySpec("v_ivf_binary_resid_topk_batch", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val bri = Similarity.binaryResidualEncode(ivf)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.ivfBinaryResidualTopKBatch(
        ivf, bri, e, qs, k = 10, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.binaryResidualRelease(bri)
      out
    },
      // batch generalization of the residual replay: per-qid probes,
      // residual sign operands with each candidate's own list centroid,
      // per-qid (h ASC, id ASC) window, exact rerank per qid
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
          |qsx AS (SELECT id AS qid, f, x FROM ivsrc WHERE id <= 4),
          |cq AS (SELECT q.qid, k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN qsx q ON q.f = k.f GROUP BY q.qid, k.c),
          |probes AS (SELECT qid, c FROM (
          |  SELECT qid, c, row_number() OVER (
          |    PARTITION BY qid ORDER BY d, c) AS rn FROM cq) WHERE rn <= 12),
          |ham AS (SELECT p.qid, s.id,
          |    sum(CASE WHEN COALESCE((s.x - kc.cx) > 0, FALSE)
          |      <> COALESCE((q.x - kc.cx) > 0, FALSE) THEN 1 ELSE 0 END)
          |      AS h
          |  FROM ivsrc s
          |  JOIN ivfin fin ON fin.id = s.id
          |  JOIN probes p ON p.c = fin.c
          |  JOIN ivkc15 kc ON kc.c = fin.c AND kc.f = s.f
          |  JOIN qsx q ON q.qid = p.qid AND q.f = s.f
          |  GROUP BY p.qid, s.id),
          |cand AS (SELECT qid, id FROM (
          |  SELECT qid, id, row_number() OVER (
          |    PARTITION BY qid ORDER BY h ASC, id ASC) AS rn
          |  FROM ham) WHERE rn <= 60),
          |scored AS (SELECT c.qid, e.vec_id AS id,
          |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |  FROM cand c JOIN e ON e.vec_id = c.id
          |  JOIN qs q ON q.qid = c.qid)
          |SELECT qid, id, score FROM (
          |  SELECT qid, id, score, row_number() OVER (
          |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
          |  FROM scored) WHERE rn <= 10
          |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // residual-sign binary (r13): bits = signs of (vec − list
    // centroid) under the frozen quantizer, so Hamming ranks WITHIN a
    // mode where raw signs tie. Integer cut key → oracled at its
    // PRODUCTION pruning (nprobe 12/16, rerank 60): the SQL replays
    // the k-means recurrence, the per-list residual signs, and the
    // (hamming ASC, id ASC) cut exactly
    QuerySpec("v_ivf_binary_resid_topk", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val bri = Similarity.binaryResidualEncode(ivf)
      val out = Similarity.ivfBinaryResidualTopK(
        ivf, bri, e, queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.binaryResidualRelease(bri)
      out
    },
      // the residual-sign sibling at the same production pruning: the
      // only change vs v_ivf_binary_topk's replay is the sign operand —
      // (x − centroid) on both the candidate and the query side, with
      // each candidate's own list centroid
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |qx AS (SELECT f, x FROM ivsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * qx.x) / sqrt(sum(k.cx * k.cx) * sum(qx.x * qx.x)) AS d
          |  FROM ivkc15 k JOIN qx ON qx.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |ham AS (SELECT s.id,
          |    sum(CASE WHEN COALESCE((s.x - kc.cx) > 0, FALSE)
          |      <> COALESCE((qx.x - kc.cx) > 0, FALSE) THEN 1 ELSE 0 END)
          |      AS h
          |  FROM ivsrc s
          |  JOIN ivfin fin ON fin.id = s.id
          |  JOIN probes p ON p.c = fin.c
          |  JOIN ivkc15 kc ON kc.c = fin.c AND kc.f = s.f
          |  JOIN qx ON qx.f = s.f
          |  GROUP BY s.id),
          |cand AS (SELECT id FROM ham ORDER BY h ASC, id ASC LIMIT 60)
          |SELECT e.vec_id AS id,
          |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |FROM e JOIN cand ON cand.id = e.vec_id, q
          |ORDER BY score DESC, id ASC
          |LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // batched IVF+SQ8: executor probe selection + cluster-keyed
    // candidate join + codes join bounding the scan + exact rerank
    QuerySpec("v_ivf_sq8_topk_batch", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val sq8 = Similarity.sq8Encode(e)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val out = Similarity.ivfSq8TopKBatch(
        ivf, sq8, e, qs, k = 10, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.sq8Release(sq8)
      out
    },
      // batch generalization: per-qid probe ranking over the iv chain,
      // probe-bounded rows through the dequant approx, per-qid candidate
      // window at 60, exact rerank per qid
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
          |qsx AS (SELECT id AS qid, f, x FROM ivsrc WHERE id <= 4),
          |cq AS (SELECT q.qid, k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN qsx q ON q.f = k.f GROUP BY q.qid, k.c),
          |probes AS (SELECT qid, c FROM (
          |  SELECT qid, c, row_number() OVER (
          |    PARTITION BY qid ORDER BY d, c) AS rn FROM cq) WHERE rn <= 12),
          |sel AS (SELECT p.qid, fin.id
          |  FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |idx AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS j
          |  FROM e),
          |dims AS (SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
          |  FROM idx GROUP BY j),
          |stats AS (SELECT list(mn ORDER BY j) AS mns,
          |    list(mx ORDER BY j) AS mxs FROM dims),
          |dq AS (SELECT e.vec_id,
          |    list_transform(range(1, len(e.v) + 1), j ->
          |      CASE WHEN s.mxs[j] = s.mns[j] THEN s.mns[j]
          |        ELSE s.mns[j]
          |          + round((e.v[j] - s.mns[j]) / (s.mxs[j] - s.mns[j]) * 255.0)
          |            * (s.mxs[j] - s.mns[j]) / 255.0
          |      END) AS dv
          |  FROM e, stats s),
          |ap AS (SELECT s2.qid, d.vec_id,
          |    round(list_cosine_similarity(d.dv, q.qv), 4) AS approx
          |  FROM dq d JOIN sel s2 ON s2.id = d.vec_id
          |  JOIN qs q ON q.qid = s2.qid),
          |cand AS (SELECT qid, vec_id FROM (
          |  SELECT qid, vec_id, row_number() OVER (
          |    PARTITION BY qid ORDER BY approx DESC, vec_id ASC) AS rn
          |  FROM ap) WHERE rn <= 60),
          |scored AS (SELECT c.qid, e.vec_id AS id,
          |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |  FROM cand c JOIN e ON e.vec_id = c.vec_id
          |  JOIN qs q ON q.qid = c.qid)
          |SELECT qid, id, score FROM (
          |  SELECT qid, id, score, row_number() OVER (
          |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
          |  FROM scored) WHERE rn <= 10
          |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    QuerySpec("v_emb_norms", (s, d) =>
      Similarity.norms(emb(s, d)).orderBy("id"),
      """SELECT vec_id AS id,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))), 4) AS norm
        |FROM embeddings
        |ORDER BY id""".stripMargin),

    QuerySpec("v_pca_summary", (s, d) => {
      // distributed PCA (engine addition): one treeAggregate moment
      // pass, deterministic power-iteration factorization, map-only
      // codegen projection. Output cross-checks the driver-side
      // eigenvalue against the cluster-side projection variance —
      // two independent computations of the same quantity.
      import s.implicits._
      val e = emb(s, d)
      val nF = e.select(F.size(F.col("vec"))).head.getInt(0)
      val m = graft.scale.Pca.fit(e, "vec", nF, k = 3, iters = 60)
      val proj = graft.scale.Pca.project(e, m, "vec")
      val vr = proj.agg(
        (F.avg(F.col("pc1") * F.col("pc1")) - F.avg("pc1") * F.avg("pc1")).as("v1"),
        (F.avg(F.col("pc2") * F.col("pc2")) - F.avg("pc2") * F.avg("pc2")).as("v2"),
        (F.avg(F.col("pc3") * F.col("pc3")) - F.avg("pc3") * F.avg("pc3")).as("v3")).head
      (0 until 3).map(j => (j + 1, m.eigenvalues(j), vr.getDouble(j)))
        .toDF("component", "eigenvalue", "var_proj")
        .select(
          F.col("component"),
          F.round(F.col("eigenvalue"), 6).as("eigenvalue"),
          F.round(F.col("var_proj"), 6).as("var_proj"))
        .orderBy("component")
    },
      pcaOracleSql(3, 60)),

    // contrastive hard negatives: nearest neighbors with a DIFFERENT
    // class label, per query — theta-join rewritten as an equi-join
    // on exploded negative-label keys (see Similarity.hardNegatives)
    QuerySpec("v_hard_negatives", (s, d) => {
      val e = tbl(s, d, "embeddings").select(
        F.col("vec_id").as("id"),
        F.col("embedding").cast("array<double>").as("vec"),
        F.col("label"))
      val q = e.where(F.col("id") < 5).select(
        F.col("id").as("qid"), F.col("vec").as("qvec"),
        F.col("label").as("qlabel"))
      Similarity.hardNegatives(e, q, k = 10)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    label::VARCHAR AS label
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS ql
        |  FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id, e.label AS neg_label,
        |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |  FROM e JOIN q ON e.label <> q.ql),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rk
        |  FROM scored)
        |SELECT qid, id, neg_label, score FROM ranked WHERE rk <= 10
        |ORDER BY qid, score DESC, id""".stripMargin),

    // the 100 TB sibling: IVF-pruned candidates (same DeterministicKMeans
    // coarse quantizer as v_ivf_topk, nprobe=12 of 16 lists), label
    // filter, exact scoring of the survivors only
    QuerySpec("v_hard_negatives_approx", (s, d) => {
      val e = tbl(s, d, "embeddings").select(
        F.col("vec_id").as("id"),
        F.col("embedding").cast("array<double>").as("vec"),
        F.col("label"))
      val q = e.where(F.col("id") < 5).select(
        F.col("id").as("qid"), F.col("vec").as("qvec"),
        F.col("label").as("qlabel"))
      Similarity.hardNegativesApprox(e, q, k = 10, nLists = 16, nprobe = 12)
    },
      // IVF-pruned hard negatives: the v_ivf_topk_batch probe replay
      // (same DeterministicKMeans CTE chain, per-query probe ranking,
      // probe-bounded candidate set) with the cross-label filter applied
      // before the per-query top-k; scores stay exact round-4 cosine
      (s"""WITH ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |lab AS (SELECT vec_id AS id, label::VARCHAR AS label
          |  FROM embeddings),
          |qlab AS (SELECT vec_id AS qid, label::VARCHAR AS ql
          |  FROM embeddings WHERE vec_id < 5),
          |qs AS (SELECT id AS qid, f, x FROM ivsrc WHERE id < 5),
          |cq AS (SELECT q.qid, k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN qs q ON q.f = k.f GROUP BY q.qid, k.c),
          |probes AS (SELECT qid, c FROM (
          |  SELECT qid, c, row_number() OVER (
          |    PARTITION BY qid ORDER BY d, c) AS rn FROM cq) WHERE rn <= 12),
          |sel AS (SELECT p.qid, fin.id
          |  FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |scored AS (SELECT s.qid, a.id, l.label AS neg_label,
          |  round(sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)), 4)
          |    AS score
          |  FROM ivsrc a JOIN sel s ON s.id = a.id
          |  JOIN qs q ON q.qid = s.qid AND q.f = a.f
          |  JOIN lab l ON l.id = a.id
          |  JOIN qlab ON qlab.qid = s.qid
          |  WHERE l.label IS NOT NULL AND l.label <> qlab.ql
          |  GROUP BY s.qid, a.id, l.label)
          |SELECT qid, id, neg_label, score FROM (
          |  SELECT qid, id, neg_label, score, row_number() OVER (
          |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
          |  FROM scored) WHERE rn <= 10
          |ORDER BY qid, score DESC, id ASC""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    QuerySpec("v_top_cosine_pairs", (s, d) =>
      Similarity.topCosinePairs(emb(s, d), 20),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS score
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY score DESC, id_a ASC, id_b ASC
        |LIMIT 20""".stripMargin),

    // margin-based bitext mining (LASER/CCMatrix): even ids are side
    // A, odd ids side B; ratio margin normalizes hubness away; best
    // partner per A-doc above margin 1.0
    QuerySpec("v_bitext_mine", (s, d) => {
      val e = emb(s, d)
      Similarity.bitextMine(
        e.where(F.col("id") % 2 === 0),
        e.where(F.col("id") % 2 =!= 0), k = 4, threshold = 1.0)
    },
      // margin replay: all-pairs cosines, forward/backward top-4 NN
      // averages as denominators, ratio margin, argmax per A-doc on the
      // RAW margin (id_b tiebreak), threshold on the ROUNDED margin —
      // the engine's conventions exactly
      ("""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |sa AS (SELECT id AS id_a, v AS va FROM e WHERE id % 2 = 0),
        |sb AS (SELECT id AS id_b, v AS vb FROM e WHERE id % 2 <> 0),
        |p AS (SELECT id_a, id_b, list_cosine_similarity(va, vb) AS cos
        |  FROM sa CROSS JOIN sb),
        |fa AS (SELECT id_a, avg(cos) AS den_a FROM (
        |  SELECT id_a, cos, row_number() OVER (
        |    PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rn FROM p)
        |  WHERE rn <= 4 GROUP BY id_a),
        |fb AS (SELECT id_b, avg(cos) AS den_b FROM (
        |  SELECT id_b, cos, row_number() OVER (
        |    PARTITION BY id_b ORDER BY cos DESC, id_a ASC) AS rn FROM p)
        |  WHERE rn <= 4 GROUP BY id_b),
        |m AS (SELECT p.id_a, p.id_b, p.cos,
        |  p.cos / ((fa.den_a + fb.den_b) / 2) AS margin
        |  FROM p JOIN fa USING (id_a) JOIN fb USING (id_b)),
        |best AS (SELECT id_a, id_b, round(cos, 4) AS cos,
        |  round(margin, 4) AS margin, row_number() OVER (
        |    PARTITION BY id_a ORDER BY margin DESC, id_b ASC) AS rn
        |  FROM m)
        |SELECT id_a, id_b, cos, margin FROM best
        |WHERE rn = 1 AND margin > 1.0
        |ORDER BY id_a""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // the IVF-candidate scale path of bitext mining (new r8 — the
    // recipe bitextMine's gate error names, as a first-class
    // operator). Oracled at the FULL-probe operating point, where the
    // candidate lists are exact per-side top-k and the whole margin /
    // union / argmax machinery is SQL-replayable; the probe PRUNING
    // inside ivfTopKBatch carries its own oracle (v_ivf_topk_batch)
    // and the pruned-path recall is spec-pinned (SimilaritySpec).
    QuerySpec("v_bitext_mine_approx", (s, d) => {
      val e = emb(s, d)
      Similarity.bitextMineApprox(
        e.where(F.col("id") % 2 === 0),
        e.where(F.col("id") % 2 =!= 0), k = 4, threshold = 1.0,
        nLists = 8, nprobe = 8)
    },
      // approx-path replay at full probes: the candidate lists are exact
      // per-side top-4 on the ROUNDED cosine (ivfTopKBatch's round-4
      // ranking convention), denominators average those rounded values,
      // candidates = forward ∪ backward, argmax per id_a on the RAW
      // margin (id_b tiebreak), threshold on the ROUNDED margin
      ("""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |sa AS (SELECT id, v FROM e WHERE id % 2 = 0),
        |sb AS (SELECT id, v FROM e WHERE id % 2 <> 0),
        |ap AS (SELECT a.id AS id_a, b.id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |  FROM sa a CROSS JOIN sb b),
        |fwd AS (SELECT id_a, id_b, cos FROM (
        |  SELECT id_a, id_b, cos, row_number() OVER (
        |    PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rn FROM ap)
        |  WHERE rn <= 4),
        |bwd AS (SELECT id_a, id_b, cos FROM (
        |  SELECT id_a, id_b, cos, row_number() OVER (
        |    PARTITION BY id_b ORDER BY cos DESC, id_a ASC) AS rn FROM ap)
        |  WHERE rn <= 4),
        |da AS (SELECT id_a, avg(cos) AS den_a FROM fwd GROUP BY id_a),
        |db AS (SELECT id_b, avg(cos) AS den_b FROM bwd GROUP BY id_b),
        |cand AS (SELECT DISTINCT id_a, id_b, cos FROM (
        |  SELECT * FROM fwd UNION ALL SELECT * FROM bwd)),
        |m AS (SELECT c.id_a, c.id_b, c.cos,
        |  c.cos / ((da.den_a + db.den_b) / 2) AS mraw
        |  FROM cand c JOIN da USING (id_a) JOIN db USING (id_b)),
        |best AS (SELECT id_a, id_b, round(cos, 4) AS cos,
        |  round(mraw, 4) AS margin, row_number() OVER (
        |    PARTITION BY id_a ORDER BY mraw DESC, id_b ASC) AS rn
        |  FROM m)
        |SELECT id_a, id_b, cos, margin FROM best
        |WHERE rn = 1 AND margin > 1.0
        |ORDER BY id_a""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // code-pruned bitext mining (VERDICT r8 #2): the two probed-list
    // retrievals read m-byte PQ/ADC codes instead of float64 vectors.
    // Oracled at the DEGENERATE operating point — full probes AND
    // rerank >= side size, where the per-query ADC cut keeps every
    // probed row, the exact rerank rescores them all, and the lists
    // equal exact top-k (same oracle as v_bitext_mine_approx); the
    // production pruning's recall is spec-pinned (SimilaritySpec).
    QuerySpec("v_bitext_mine_pq", (s, d) => {
      val e = emb(s, d)
      val n = e.count().toInt
      Similarity.bitextMinePq(
        e.where(F.col("id") % 2 === 0),
        e.where(F.col("id") % 2 =!= 0), k = 4, threshold = 1.0,
        nLists = 8, nprobe = 8, m = 4, ksub = 8, rerank = n)
    },
      // code-pruned bitext replay: at the oracle operating point (full
      // probes, rerank >= side size) the per-query ADC cut keeps every
      // probed row and the exact rerank rescores them all, so the lists
      // degenerate to exact top-4 on the round-4 cosine — the identical
      // replay as v_bitext_mine_approx; the PQ pruning machinery carries
      // its own oracle (v_ivf_pq_topk_batch) and the production point's
      // recall is spec-pinned
      ("""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |sa AS (SELECT id, v FROM e WHERE id % 2 = 0),
        |sb AS (SELECT id, v FROM e WHERE id % 2 <> 0),
        |ap AS (SELECT a.id AS id_a, b.id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |  FROM sa a CROSS JOIN sb b),
        |fwd AS (SELECT id_a, id_b, cos FROM (
        |  SELECT id_a, id_b, cos, row_number() OVER (
        |    PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rn FROM ap)
        |  WHERE rn <= 4),
        |bwd AS (SELECT id_a, id_b, cos FROM (
        |  SELECT id_a, id_b, cos, row_number() OVER (
        |    PARTITION BY id_b ORDER BY cos DESC, id_a ASC) AS rn FROM ap)
        |  WHERE rn <= 4),
        |da AS (SELECT id_a, avg(cos) AS den_a FROM fwd GROUP BY id_a),
        |db AS (SELECT id_b, avg(cos) AS den_b FROM bwd GROUP BY id_b),
        |cand AS (SELECT DISTINCT id_a, id_b, cos FROM (
        |  SELECT * FROM fwd UNION ALL SELECT * FROM bwd)),
        |m AS (SELECT c.id_a, c.id_b, c.cos,
        |  c.cos / ((da.den_a + db.den_b) / 2) AS mraw
        |  FROM cand c JOIN da USING (id_a) JOIN db USING (id_b)),
        |best AS (SELECT id_a, id_b, round(cos, 4) AS cos,
        |  round(mraw, 4) AS margin, row_number() OVER (
        |    PARTITION BY id_a ORDER BY mraw DESC, id_b ASC) AS rn
        |  FROM m)
        |SELECT id_a, id_b, cos, margin FROM best
        |WHERE rn = 1 AND margin > 1.0
        |ORDER BY id_a""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    QuerySpec("v_sql_surface", (s, d) => {
      // the registered-SQL path itself, oracle-checked: pure spark.sql
      // text over a temp view using the native graft_* functions
      graft.functions.VectorFunctions.registerAll(s)
      emb(s, d).createOrReplaceTempView("emb_v")
      s.sql(
        """SELECT a.id AS id,
          |  round(graft_cosine(a.vec, q.vec), 4) AS score,
          |  round(graft_l2norm(a.vec), 4) AS norm
          |FROM emb_v a CROSS JOIN (SELECT vec FROM emb_v WHERE id = 0) q
          |WHERE a.id <= 50
          |ORDER BY a.id""".stripMargin)
    },
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT a.id,
        |  round(list_cosine_similarity(a.v, q.v), 4) AS score,
        |  round(sqrt(list_dot_product(a.v, a.v)), 4) AS norm
        |FROM e a CROSS JOIN (SELECT v FROM e WHERE id = 0) q
        |WHERE a.id <= 50
        |ORDER BY a.id""".stripMargin),

    QuerySpec("v_batch_topk", (s, d) => {
      // Pure-cosine batch top-k (τ=1 degenerates to cosine, so the
      // result is SQL-expressible and oracle-checked).
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.cosine
      val e = emb(s, d)
      val q = e.where(F.col("id") <= 4)
        .select(F.col("id").as("query_id"), F.col("vec").as("qvec"))
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("score").desc, F.col("id").asc)
      e.join(F.broadcast(q), F.col("id") =!= F.col("query_id"))
        .withColumn("score", F.round(cosine(F.col("vec"), F.col("qvec")), 4))
        .select("query_id", "id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id <= 4),
        |scored AS (SELECT q.query_id, e.vec_id AS id,
        |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, id, score, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("v_ivf_topk", (s, d) => {
      // nprobe=12 is the measured recall@20 >= 0.9 operating point on
      // the near-orthogonal synthetic embeddings (recall is ~linear in
      // nprobe there because true neighbors scatter uniformly across
      // lists; clustered corpora reach the same recall at nprobe~2 —
      // see SimilaritySpec).
      val index = Similarity.ivfBuild(emb(s, d), nLists = 16)
      Similarity.ivfTopK(index, queryVec(s, d), k = 20, nprobe = 12)
    },
      (s"""WITH ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |q AS (SELECT f, x FROM ivsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
          |  FROM ivkc15 k JOIN q ON q.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin JOIN probes p ON p.c = fin.c),
          |scored AS (SELECT a.id,
          |  sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)) AS cos
          |  FROM ivsrc a JOIN q ON q.f = a.f JOIN sel ON sel.id = a.id
          |  GROUP BY a.id)
          |SELECT id, round(cos, 4) AS score FROM scored
          |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // FILTERED ANN (the faiss/vector-DB IDSelector face): the top-k
    // among rows matching a metadata predicate, the filter applied
    // INSIDE the probed scan — not a post-filter of an unfiltered
    // top-k (which under-returns whenever winners don't match).
    // Oracled at the degenerate point (nprobe = k ⇒ the filtered exact
    // top-20 among label=1 rows); pruned recall + the batch face's
    // parity are spec-pinned (SimilaritySpec "filtered ANN")
    QuerySpec("v_ivf_topk_filtered", (s, d) => {
      val meta = s.read.parquet(s"$d/embeddings.parquet")
        .select(F.col("vec_id").as("id"), F.col("label"))
      val ivf = Similarity.ivfBuild(emb(s, d), nLists = 16)
      val out = Similarity.ivfTopKWhere(ivf, meta, F.col("label") === 1,
        queryVec(s, d), k = 20, nprobe = ivf.k).localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // filtered ANN at the degenerate point: every list probed, so the
      // answer is the exact top-20 among label=1 rows
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |WHERE e.label = 1
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // FILTERED codec ANN (VERDICT r10 #1): the metadata predicate
    // applied INSIDE the code-pruned probed scan — oracled at the
    // PRODUCTION operating point (nprobe=12, rerank=60): the SQL
    // replays probe chain + label-filtered candidate set + dequant
    // chain + exact rerank
    QuerySpec("v_ivf_sq8_topk_filtered", (s, d) => {
      val e = emb(s, d)
      val meta = s.read.parquet(s"$d/embeddings.parquet")
        .select(F.col("vec_id").as("id"), F.col("label"))
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val sq8 = Similarity.sq8Encode(e)
      val out = Similarity.ivfSq8TopKWhere(
        ivf, sq8, e, meta, F.col("label") === 1,
        queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.sq8Release(sq8)
      out
    },
      // filtered IVF+SQ8 at the PRODUCTION pruning: the v_ivf_sq8_topk
      // replay with the label predicate intersecting the probed candidate
      // set BEFORE the dequant cut — exactly where ivfSq8TopKWhere
      // applies it
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |qx AS (SELECT f, x FROM ivsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * qx.x) / sqrt(sum(k.cx * k.cx) * sum(qx.x * qx.x)) AS d
          |  FROM ivkc15 k JOIN qx ON qx.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin
          |  JOIN probes p ON p.c = fin.c
          |  JOIN embeddings mm ON mm.vec_id = fin.id AND mm.label = 1),
          |idx AS (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS j
          |  FROM e),
          |dims AS (SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
          |  FROM idx GROUP BY j),
          |stats AS (SELECT list(mn ORDER BY j) AS mns,
          |    list(mx ORDER BY j) AS mxs FROM dims),
          |dq AS (SELECT e.vec_id,
          |    list_transform(range(1, len(e.v) + 1), j ->
          |      CASE WHEN s.mxs[j] = s.mns[j] THEN s.mns[j]
          |        ELSE s.mns[j]
          |          + round((e.v[j] - s.mns[j]) / (s.mxs[j] - s.mns[j]) * 255.0)
          |            * (s.mxs[j] - s.mns[j]) / 255.0
          |      END) AS dv
          |  FROM e JOIN sel ON sel.id = e.vec_id, stats s),
          |ap AS (SELECT d.vec_id,
          |    round(list_cosine_similarity(d.dv, q.qv), 4) AS approx
          |  FROM dq d, q),
          |cand AS (SELECT vec_id FROM ap
          |  ORDER BY approx DESC, vec_id ASC LIMIT 60)
          |SELECT e.vec_id AS id,
          |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |FROM e JOIN cand USING (vec_id), q
          |ORDER BY score DESC, id ASC
          |LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // FILTERED IVF+binary — same composition with the 1-bit codec;
    // the integer hamming cut keeps it oracle-replayable at the
    // production pruning
    QuerySpec("v_ivf_binary_topk_filtered", (s, d) => {
      val e = emb(s, d)
      val meta = s.read.parquet(s"$d/embeddings.parquet")
        .select(F.col("vec_id").as("id"), F.col("label"))
      val ivf = Similarity.ivfBuild(e, nLists = 16)
      val bin = Similarity.binaryEncode(e)
      val out = Similarity.ivfBinaryTopKWhere(
        ivf, bin, e, meta, F.col("label") === 1,
        queryVec(s, d), k = 20, nprobe = 12, rerank = 60)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      Similarity.binaryRelease(bin)
      out
    },
      // filtered IVF+binary at the production pruning: the
      // v_ivf_binary_topk replay with the label predicate intersecting
      // the probed candidates before the integer hamming cut
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |ivsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ivsrc", 16, 15, "iv")},
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |qx AS (SELECT f, x FROM ivsrc WHERE id = 0),
          |cq AS (SELECT k.c,
          |  1.0 - sum(k.cx * qx.x) / sqrt(sum(k.cx * k.cx) * sum(qx.x * qx.x)) AS d
          |  FROM ivkc15 k JOIN qx ON qx.f = k.f GROUP BY k.c),
          |probes AS (SELECT c FROM cq ORDER BY d, c LIMIT 12),
          |sel AS (SELECT fin.id FROM ivfin fin
          |  JOIN probes p ON p.c = fin.c
          |  JOIN embeddings mm ON mm.vec_id = fin.id AND mm.label = 1),
          |ham AS (SELECT s.id,
          |    sum(CASE WHEN COALESCE(s.x > 0, FALSE)
          |      <> COALESCE(qx.x > 0, FALSE) THEN 1 ELSE 0 END) AS h
          |  FROM ivsrc s JOIN sel ON sel.id = s.id
          |  JOIN qx ON qx.f = s.f GROUP BY s.id),
          |cand AS (SELECT id FROM ham ORDER BY h ASC, id ASC LIMIT 60)
          |SELECT e.vec_id AS id,
          |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
          |FROM e JOIN cand ON cand.id = e.vec_id, q
          |ORDER BY score DESC, id ASC
          |LIMIT 20""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // drift-triggered rebuild's batch half as its own oracle: rebuild
    // over base + a streamed append segment == a cold build over the
    // union, pinned END-TO-END by full-probe ranking every row after
    // the swap (exact cosine order — the same degenerate-point
    // argument as v_takedown_ivf)
    QuerySpec("v_ivf_rebuild", (s, d) => {
      val e = emb(s, d)
      val dir = tmpDir("graft_vrebuild_idx")
      val idx = Similarity.ivfBuild(
        e.where(F.col("id") % 2 === 0), nLists = 8)
      Similarity.ivfSave(idx, dir)
      val cents = idx.centroids
      Similarity.ivfRelease(idx)
      graft.streaming.StreamingOps.ivfAppendSegment(
        graft.scale.DeterministicKMeans.assign(
          e.where(F.col("id") % 2 =!= 0),
          graft.scale.DeterministicKMeans.Model(
            cents.sortBy(_._1).map(_._2)),
          idCol = "id", vecCol = "vec").select("id", "vec", "cluster"),
        dir, seg = 0L)
      Similarity.ivfRebuild(s, dir, targetListSize = 125)
      val post = Similarity.ivfLoad(s, dir)
      val qv = queryVec(s, d)
      val outDf = Similarity.ivfTopK(
          post, qv, k = 1000000, nprobe = post.k)
        .orderBy(F.col("score").desc, F.col("id").asc)
        .localCheckpoint()
      Similarity.ivfRelease(post)
      outDf
    },
      // rebuild == cold build over base + appends, pinned by full-probe
      // ranking EVERY row after the swap: exact cosine order
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC""".stripMargin),

    // IVF layout takedown at the degenerate full-probe point: base
    // lists over the even ids, one streamed append segment carrying
    // the odd ids against the FROZEN quantizer, then ivfLayoutRemove
    // of every %5==0 id (hits base AND segment). Full probes with
    // k ≥ corpus rank EVERY surviving vector exactly, so the oracle
    // is brute-force cosine over the surviving embeddings — removed
    // ids gone from every frame, all survivors still retrievable.
    QuerySpec("v_takedown_ivf", (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val dir = tmpDir("graft_vtake_idx")
      val idx = Similarity.ivfBuild(
        e.where(F.col("id") % 2 === 0), nLists = 8)
      Similarity.ivfSave(idx, dir)
      val cents = idx.centroids
      Similarity.ivfRelease(idx)
      graft.streaming.StreamingOps.ivfAppendSegment(
        graft.scale.DeterministicKMeans.assign(
          e.where(F.col("id") % 2 =!= 0),
          graft.scale.DeterministicKMeans.Model(
            cents.sortBy(_._1).map(_._2)),
          idCol = "id", vecCol = "vec").select("id", "vec", "cluster"),
        dir, seg = 0L)
      Similarity.ivfLayoutRemove(
        s, dir, e.where(F.col("id") % 5 === 0).select("id"))
      val post = Similarity.ivfLoad(s, dir)
      val qv = e.where(F.col("id") === 1)
        .select("vec").head.getSeq[Double](0).toArray
      val outDf = Similarity.ivfTopK(
          post, qv, k = 1000000, nprobe = post.k)
        .orderBy(F.col("score").desc, F.col("id").asc)
        .localCheckpoint()
      Similarity.ivfRelease(post)
      outDf
    },
      // takedown at the degenerate point: full probes + k ≥ corpus make
      // the post-takedown ranking the exact cosine order over surviving
      // (%5 <> 0) vectors — any removed id still present in base or the
      // append segment would surface, any erroneously-dropped survivor
      // would be missing
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 1)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |WHERE e.vec_id % 5 <> 0
        |ORDER BY score DESC, id ASC""".stripMargin),

    // codec-layout takedowns (VERDICT r12 #2): each family's persisted
    // layout (codes Parquet + quantizer sidecar) gets codesLayoutRemove
    // of every %5==0 id, then a reload and a DEGENERATE-point search
    // (rerank covers the corpus ⇒ the exact rerank IS the answer), so
    // the oracle is brute-force cosine over the surviving embeddings —
    // a removed id still in the codes would surface, a dropped
    // survivor would be missing, and the reload proves the swap left a
    // loadable layout. The quantizer sidecars stay frozen (documented
    // contract), which the degenerate point makes irrelevant to the
    // ranking.
    QuerySpec("v_takedown_sq8", codecTakedownRow("sq8",
      (e, dir) => Similarity.sq8Save(
        Similarity.sq8Encode(e, persist = false), dir),
      (s, dir, e, qv) => Similarity.sq8TopK(
        Similarity.sq8Load(s, dir), e, qv,
        k = 1000000, rerank = 1000000)),
      takedownSurvivorsSql),

    QuerySpec("v_takedown_binary", codecTakedownRow("bin",
      (e, dir) => Similarity.binarySave(
        Similarity.binaryEncode(e, persist = false), dir),
      (s, dir, e, qv) => Similarity.binaryTopK(
        Similarity.binaryLoad(s, dir), e, qv,
        k = 1000000, rerank = 1000000)),
      takedownSurvivorsSql),

    QuerySpec("v_takedown_pq", codecTakedownRow("pq",
      (e, dir) => {
        val built = Similarity.pqBuild(e, m = 4, ksub = 8, iters = 10)
        Similarity.pqSave(built, dir)
        Similarity.pqRelease(built)
      },
      (s, dir, e, qv) => Similarity.pqTopK(
        Similarity.pqLoad(s, dir), e, qv,
        k = 1000000, rerank = 1000000)),
      takedownSurvivorsSql),

    QuerySpec("v_takedown_opq", codecTakedownRow("opq",
      (e, dir) => {
        val built = Similarity.opqBuild(e, m = 4, ksub = 8, iters = 10)
        Similarity.opqSave(built, dir)
        Similarity.opqRelease(built)
      },
      (s, dir, e, qv) => Similarity.opqTopK(
        Similarity.opqLoad(s, dir), e, qv,
        k = 1000000, rerank = 1000000)),
      takedownSurvivorsSql),

    // residual-sign layout takedown (VERDICT r13 #4): the fifth codec
    // family PINNED instead of claimed covered "for free" by the
    // shared codes/ shape — binaryResidualSave + codesLayoutRemove of
    // every %5==0 id, reload through the residual-marker check, then
    // the composed search at the degenerate point (full probes +
    // rerank ≥ corpus ⇒ the exact rerank over surviving code rows IS
    // the answer). Same survivors oracle as the other four families;
    // the frozen in-memory quantizer keeps its own rows but a removed
    // id absent from codes/ can never become a candidate.
    QuerySpec("v_takedown_binary_resid", (s, d) => {
      val e = emb(s, d)
      val dir = tmpDir("graft_vtake_binres")
      val ivf = Similarity.ivfBuild(e, nLists = 8)
      Similarity.binaryResidualSave(
        Similarity.binaryResidualEncode(ivf, persist = false), dir)
      Similarity.codesLayoutRemove(
        s, dir, e.where(F.col("id") % 5 === 0).select("id"))
      val qv = e.where(F.col("id") === 1)
        .select("vec").head.getSeq[Double](0).toArray
      val out = Similarity.ivfBinaryResidualTopK(
          ivf, Similarity.binaryResidualLoad(s, dir), e, qv,
          k = 1000000, nprobe = ivf.k, rerank = 1000000)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      takedownSurvivorsSql),

    // tie-aware binary rerank oracled ON the trap it defuses: every
    // abs(x)+1 vector is all-positive, so all sign codes are IDENTICAL
    // and the whole corpus ties at Hamming 0 — the plain rerank-20 cut
    // would keep the 20 smallest ids (near-random by similarity), but
    // the tie-aware face detects the frontier tie, widens to the full
    // tie class, and its exact rerank returns the true cosine top-20,
    // which SQL replays directly (same abs(x)+1 transform)
    QuerySpec("v_binary_tieaware", (s, d) => {
      val e = emb(s, d).select(F.col("id"),
        F.transform(F.col("vec").cast("array<double>"),
          x => F.abs(x) + F.lit(1.0)).as("vec"))
      val q = queryVec(s, d).map(x => math.abs(x) + 1.0)
      Similarity.binaryTopKTieAware(
        Similarity.binaryEncode(e, persist = false), e, q,
        k = 20, rerank = 20, expandCap = 1 << 20)
    },
      // the widened tie class covers the whole corpus (every abs(x)+1
      // sign code is identical), so the tie-aware cut's exact rerank is
      // the true cosine top-20 over the transformed vectors
      """WITH e AS (SELECT vec_id AS id,
        |  list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x) + 1.0)
        |    AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE id = 0)
        |SELECT e.id, round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // the composed face at the degenerate full-probe point: probing
    // every list reduces it to the flat tie-aware cut, whose widened
    // class covers the corpus — exact cosine top-20 again
    QuerySpec("v_ivf_binary_tieaware", (s, d) => {
      val e = emb(s, d).select(F.col("id"),
        F.transform(F.col("vec").cast("array<double>"),
          x => F.abs(x) + F.lit(1.0)).as("vec"))
      val q = queryVec(s, d).map(x => math.abs(x) + 1.0)
      val ivf = Similarity.ivfBuild(e, nLists = 8)
      val out = Similarity.ivfBinaryTopKTieAware(
          ivf, Similarity.binaryEncode(e, persist = false), e, q,
          k = 20, nprobe = 8, rerank = 20, expandCap = 1 << 20)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // full probes reduce the composed face to the flat tie-aware cut:
      // the same exact top-20 replay
      """WITH e AS (SELECT vec_id AS id,
        |  list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x) + 1.0)
        |    AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE id = 0)
        |SELECT e.id, round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // batch face of the tie-aware rerank on the same constructed total
    // tie: every query's frontier covers the corpus, so each qid's
    // answer is its exact cosine top-10 over the transformed vectors
    QuerySpec("v_binary_tieaware_batch", (s, d) => {
      val e = emb(s, d).select(F.col("id"),
        F.transform(F.col("vec").cast("array<double>"),
          x => F.abs(x) + F.lit(1.0)).as("vec"))
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      Similarity.binaryTopKBatchTieAware(
        Similarity.binaryEncode(e, persist = false), e, qs,
        k = 10, rerank = 10, expandCap = 1 << 20)
    },
      // per-qid exact top-10 over the abs(x)+1 vectors — every query's
      // widened tie class is the whole corpus
      tieAwareBatchReplaySql),

    // composed BATCH tie-aware face (VERDICT r12 #5) on the same
    // constructed total tie, at full probes: the probed frontier
    // covers the corpus, so each qid's answer is the exact cosine
    // top-10 — the same replay as the flat batch face
    // FILTERED composed tie-aware face on the same constructed total
    // tie: full probes + a cap covering the corpus reduce it to exact
    // filter-then-top-k over the matching (id % 3 == 0) rows — any
    // non-matching id surfacing, or a matching id crowded out by the
    // mode's tie class (the post-filter failure), breaks the replay
    QuerySpec("v_ivf_binary_tieaware_filtered", (s, d) => {
      val e = emb(s, d).select(F.col("id"),
        F.transform(F.col("vec").cast("array<double>"),
          x => F.abs(x) + F.lit(1.0)).as("vec"))
      val q = queryVec(s, d).map(x => math.abs(x) + 1.0)
      val meta = e.select(F.col("id"),
        (F.col("id") % 3 === 0).cast("string").as("k3"))
      val ivf = Similarity.ivfBuild(e, nLists = 8)
      val out = Similarity.ivfBinaryTopKTieAwareWhere(
          ivf, Similarity.binaryEncode(e, persist = false), e, meta,
          F.col("k3") === "true", q,
          k = 20, nprobe = 8, rerank = 20, expandCap = 1 << 20)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // filtered face at the degenerate point: exact filter-then-top-k
      // over the abs(x)+1 vectors — the predicate must intersect BEFORE
      // the frontier probe or the mode's tie class crowds the cut
      """WITH e AS (SELECT vec_id AS id,
        |  list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x) + 1.0)
        |    AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE id = 0)
        |SELECT e.id, round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |WHERE e.id % 3 = 0
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    QuerySpec("v_ivf_binary_tieaware_batch", (s, d) => {
      val e = emb(s, d).select(F.col("id"),
        F.transform(F.col("vec").cast("array<double>"),
          x => F.abs(x) + F.lit(1.0)).as("vec"))
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val ivf = Similarity.ivfBuild(e, nLists = 8)
      val out = Similarity.ivfBinaryTopKBatchTieAware(
          ivf, Similarity.binaryEncode(e, persist = false), e, qs,
          k = 10, nprobe = 8, rerank = 10, expandCap = 1 << 20)
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // full probes reduce the composed BATCH face to the flat one —
      // the same per-qid exact top-10 replay
      tieAwareBatchReplaySql),

    // OPQ built from MERGED SHARD MOMENTS (the per-drop refit story as
    // one operator): three uneven shards → additive PCA accumulators →
    // opqRotationFromMoments → opqBuildWithRotation, queried at the
    // degenerate exact-rerank point — an orthogonal rotation preserves
    // every cosine, so the exact top-k SQL oracles the moments-merge →
    // rotation → encode → ADC → rerank plumbing end-to-end
    QuerySpec("v_opq_moments_topk", (s, d) => {
      import graft.scale.Pca
      val e = emb(s, d)
      val acc = Seq(
          e.where(F.col("id") % 7 === 0),
          e.where(F.col("id") % 7 === 1),
          e.where(F.col("id") % 7 >= 2))
        .map(sh => Pca.moments(sh, "vec", 64))
        .reduce(Pca.mergeMoments)
      val rot = Similarity.opqRotationFromMoments(acc, 64, m = 4)
      val index = Similarity.opqBuildWithRotation(
        e, rot, m = 4, ksub = 8, iters = 10)
      val out = Similarity.opqTopK(index, e, queryVec(s, d), 20,
          rerank = 100000)
        .localCheckpoint()
      Similarity.opqRelease(index)
      out
    },
      // v_opq_topk's degenerate-point argument, with the rotation fit
      // from merged shard moments instead of a one-shot corpus pass —
      // any ORTHOGONAL rotation preserves the exact rerank's cosines
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |FROM e, q
        |ORDER BY score DESC, id ASC
        |LIMIT 20""".stripMargin),

    // hard negatives at the ROUTED sizing-matched default (VERDICT r11
    // #1 shipped suggestNprobe; this row pins the nprobe = 0 routing
    // end-to-end): at nLists = 8 the fraction-floored default probes
    // ALL lists, so the approx path must return the exact cross-label
    // top-k — v_hard_negatives' replay oracles the default's plumbing
    QuerySpec("v_hard_negatives_suggest", (s, d) => {
      val e = tbl(s, d, "embeddings").select(
        F.col("vec_id").as("id"),
        F.col("embedding").cast("array<double>").as("vec"),
        F.col("label"))
      val q = e.where(F.col("id") < 5).select(
        F.col("id").as("qid"), F.col("vec").as("qvec"),
        F.col("label").as("qlabel"))
      Similarity.hardNegativesApprox(e, q, k = 10, nLists = 8, nprobe = 0)
    },
      // at nLists = 8 the suggestNprobe default probes ALL lists, so the
      // routed approx path must equal the exact cross-label top-k
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    label::VARCHAR AS label
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS ql
        |  FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id, e.label AS neg_label,
        |    round(list_cosine_similarity(e.v, q.qv), 4) AS score
        |  FROM e JOIN q ON e.label <> q.ql),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rk
        |  FROM scored)
        |SELECT qid, id, neg_label, score FROM ranked WHERE rk <= 10
        |ORDER BY qid, score DESC, id""".stripMargin),

    // incremental index maintenance: fit the coarse quantizer on the
    // even half, append the odd half against the FROZEN centroids —
    // output is every row's list assignment in the widened index
    QuerySpec("v_ivf_append", (s, d) => {
      val all = emb(s, d)
      val idx0 = Similarity.ivfBuild(all.where(F.col("id") % 2 === 0),
        nLists = 8)
      val idx = Similarity.ivfAppend(idx0, all.where(F.col("id") % 2 =!= 0))
      val out = idx.assigned.select(F.col("id"), F.col("cluster"))
        .orderBy("id").localCheckpoint()
      Similarity.ivfRelease(idx)
      out
    },
      // IVF probe replay: the coarse quantizer is DeterministicKMeans
      // (k=16 lists, 15 Lloyd rounds on the RAW vectors), probes = the
      // nprobe=12 lists nearest the query by rectified cosine, then
      // exact cosine top-20 within the probed lists.
      // append replay: quantizer fitted on the even half only, every
      // row (old and appended) assigned by argmin against those frozen
      // final centroids
      (s"""WITH vasrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
          |  WHERE vec_id % 2 = 0),
          |allsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("vasrc", 8, 15, "va")},
          |vaasg AS (SELECT id, c FROM (
          |  SELECT t.id, k2.c, row_number() OVER (PARTITION BY t.id
          |    ORDER BY sum((t.x - k2.cx) * (t.x - k2.cx)) ASC, k2.c ASC)
          |    AS rn
          |  FROM allsrc t JOIN vakc15 k2 ON k2.f = t.f
          |  GROUP BY t.id, k2.c) WHERE rn = 1)
          |SELECT id, c::INT AS cluster FROM vaasg
          |ORDER BY id""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    QuerySpec("v_ivf_topk_batch", (s, d) => {
      // the batch-retrieval scale path: probe selection on the
      // executors, ONE cluster-keyed join for all queries, salted
      // per-query top-k (same operating point as v_ivf_topk)
      val e = emb(s, d)
      val index = Similarity.ivfBuild(e, nLists = 16)
      val qs = e.where(F.col("id") <= 4)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      Similarity.ivfTopKBatch(index, qs, k = 10, nprobe = 12)
    },
      // batch generalization of the v_ivf_topk replay: per-query probe
      // ranking, probe-bounded candidate join, rank on the ROUNDED score
      // (the engine's batch parity convention — see v_batch_topk)
      ivfTopKBatchReplaySql)
  )
}
