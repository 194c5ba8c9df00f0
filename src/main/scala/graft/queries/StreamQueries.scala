package graft.queries

import graft.operators.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.queries.QueryLib._

/** Streaming rows, each run as a real stream: MemoryStream
  * micro-batches through the operator's foreachBatch, read back. */
private[graft] object StreamQueries {

  /** Shared machinery of the two semantic-gate oracle rows (fold-free
    * stream and live-compaction variant — same replay SQL,
    * `embedGateReplaySql`): a ONE-list layout over the decade anchors
    * makes probing a full state scan and within-batch blocking
    * all-pairs (the exact degenerate point), and duplicates are
    * planted by pure id arithmetic with POWER-OF-TWO scales so the
    * feed values are bit-identical in both engines. donor(name, off)
    * keys the join so feed row `id` matches donor row `id + off`
    * (anchor = id-1, batch-1 donor = id+3, within-batch twin's donor
    * = id-37, batch-2 donor = id+2). */
  private def embedGateRow(compact: Boolean)
      : (SparkSession, String) => DataFrame = (s, d) => {
    import s.implicits._
    val e = emb(s, d)
    val dir = tmpDir("graft_segate_idx")
    val out = tmpDir("graft_segate_out")
    val ckpt = tmpDir("graft_segate_ckpt")
    val built = Similarity.ivfBuild(
      e.where(F.col("id") % 10 === 0), nLists = 1)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    def donor(name: String, off: Int) = e.select(
      (F.col("id") - off).as(s"did_$name"), F.col("vec").as(s"dv_$name"))
    def sc(c: org.apache.spark.sql.Column, k: Double) =
      F.transform(c, x => x * k)
    val dd = F.expr("id div 10")
    val feed = e.where(F.col("id") % 10 >= 1 && F.col("id") % 10 <= 3)
      .withColumn("b", F.col("id") % 10)
      .join(donor("a", -1), F.col("id") === F.col("did_a"), "left")
      .join(donor("w", 3), F.col("id") === F.col("did_w"), "left")
      .join(donor("l", -37), F.col("id") === F.col("did_l"), "left")
      .join(donor("x", 2), F.col("id") === F.col("did_x"), "left")
      .withColumn("fv",
        F.when(F.col("b") === 1 && dd % 4 === 1 &&
            F.col("dv_a").isNotNull, sc(F.col("dv_a"), 2.0))
          .when(F.col("b") === 1 && dd % 8 === 3 &&
            F.col("dv_w").isNotNull, sc(F.col("dv_w"), 2.0))
          .when(F.col("b") === 1 && dd % 8 === 7 &&
            F.col("dv_l").isNotNull, sc(F.col("dv_l"), 4.0))
          .when(F.col("b") === 2 && dd % 8 === 3 &&
            F.col("dv_x").isNotNull, sc(F.col("dv_x"), 8.0))
          .otherwise(F.col("vec")))
      .select(F.col("id"), F.col("fv"), F.col("b"))
    val batches = (1 to 3).map(k =>
      feed.where(F.col("b") === k).select("id", "fv")
        .as[(Long, Array[Double])].collect().sortBy(_._1))
    // live-compaction variant: a full fold BETWEEN batches so the
    // last batch probes folded state (folds must be invisible)
    streamBatches(s, batches.map(_.toSeq), Seq("id", "vec"),
        i => if (compact && i == 2) Similarity.ivfCompactAppends(s, dir)) {
      src => graft.streaming.StreamingOps.embedGateStream(
        src, dir, out, ckpt,
        cosineThreshold = 0.95, nprobe = 1,
        compactEverySegs =
          if (compact) 2
          else graft.streaming.StreamingOps.defaultCompactEverySegs)
    }
    val qv = e.where(F.col("id") === 4)
      .select("vec").head.getSeq[Double](0).toArray
    s.read.parquet(out)
      .select(F.col("id"),
        F.round(graft.functions.VectorFunctions.cosine(
          F.col("vec"), F.typedLit(qv)), 4).as("score"))
      .orderBy("id")
      .localCheckpoint()
  }

  // the semantic gate at its one-list degenerate point is pure cosine
  // logic: per batch, a row loses to a SMALLER-id batch row at round-4
  // cosine >= 0.95, survivors reject against the state so far (base
  // anchors + previously admitted FEED vectors), and the admitted rows
  // join the state. The feed transforms replay bit-identically
  // (power-of-two scales). Shared by the fold-free stream row and the
  // compaction row — folds must be invisible to gate decisions, so the
  // SQL is identical.
  private lazy val embedGateReplaySql: String =
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |feed AS (SELECT s.id, s.id % 10 AS b,
        |  CASE
        |    WHEN s.id % 10 = 1 AND (s.id // 10) % 4 = 1
        |      AND d1.v IS NOT NULL THEN list_transform(d1.v, x -> x * 2.0)
        |    WHEN s.id % 10 = 1 AND (s.id // 10) % 8 = 3
        |      AND d2.v IS NOT NULL THEN list_transform(d2.v, x -> x * 2.0)
        |    WHEN s.id % 10 = 1 AND (s.id // 10) % 8 = 7
        |      AND d3.v IS NOT NULL THEN list_transform(d3.v, x -> x * 4.0)
        |    WHEN s.id % 10 = 2 AND (s.id // 10) % 8 = 3
        |      AND d4.v IS NOT NULL THEN list_transform(d4.v, x -> x * 8.0)
        |    ELSE s.v END AS fv
        |  FROM e s
        |  LEFT JOIN e d1 ON d1.id = s.id - 1
        |  LEFT JOIN e d2 ON d2.id = s.id + 3
        |  LEFT JOIN e d3 ON d3.id = s.id - 37
        |  LEFT JOIN e d4 ON d4.id = s.id + 2
        |  WHERE s.id % 10 BETWEEN 1 AND 3),
        |st0 AS (SELECT id, v AS fv FROM e WHERE id % 10 = 0),
        |b1 AS (SELECT id, fv FROM feed WHERE b = 1),
        |b1w AS (SELECT x.id, x.fv FROM b1 x WHERE NOT EXISTS (
        |  SELECT 1 FROM b1 y WHERE y.id < x.id
        |    AND round(list_cosine_similarity(x.fv, y.fv), 4) >= 0.95)),
        |b1a AS (SELECT x.id, x.fv FROM b1w x WHERE NOT EXISTS (
        |  SELECT 1 FROM st0 t
        |    WHERE round(list_cosine_similarity(x.fv, t.fv), 4) >= 0.95)),
        |st1 AS (SELECT * FROM st0 UNION ALL SELECT * FROM b1a),
        |b2 AS (SELECT id, fv FROM feed WHERE b = 2),
        |b2w AS (SELECT x.id, x.fv FROM b2 x WHERE NOT EXISTS (
        |  SELECT 1 FROM b2 y WHERE y.id < x.id
        |    AND round(list_cosine_similarity(x.fv, y.fv), 4) >= 0.95)),
        |b2a AS (SELECT x.id, x.fv FROM b2w x WHERE NOT EXISTS (
        |  SELECT 1 FROM st1 t
        |    WHERE round(list_cosine_similarity(x.fv, t.fv), 4) >= 0.95)),
        |st2 AS (SELECT * FROM st1 UNION ALL SELECT * FROM b2a),
        |b3 AS (SELECT id, fv FROM feed WHERE b = 3),
        |b3w AS (SELECT x.id, x.fv FROM b3 x WHERE NOT EXISTS (
        |  SELECT 1 FROM b3 y WHERE y.id < x.id
        |    AND round(list_cosine_similarity(x.fv, y.fv), 4) >= 0.95)),
        |b3a AS (SELECT x.id, x.fv FROM b3w x WHERE NOT EXISTS (
        |  SELECT 1 FROM st2 t
        |    WHERE round(list_cosine_similarity(x.fv, t.fv), 4) >= 0.95)),
        |q AS (SELECT v AS qv FROM e WHERE id = 4)
        |SELECT a.id, round(list_cosine_similarity(a.fv, q.qv), 4) AS score
        |FROM (SELECT * FROM b1a UNION ALL SELECT * FROM b2a
        |      UNION ALL SELECT * FROM b3a) a, q
        |ORDER BY id""".stripMargin

  /** N-batch generalisation of [[GateReplayCtes]] — one (within-batch
    * exact-fp dedup → within-batch near-dup → against base+accepted)
    * stage per batch predicate, in arrival order. Requires
    * [[JaccardPairsCte]] earlier in the same WITH. Compaction never
    * appears here because the law it oracles is exactly that folds
    * are INVISIBLE to gate decisions.
    */
  private def gateReplayCtes(preds: Seq[String]): String = {
    val stages = preds.zipWithIndex.map { case (p, i) =>
      val k = i + 1
      val prior = (1 to i).map(j => s"  UNION SELECT doc_id FROM s$j")
        .mkString("\n")
      val priorBlock = if (prior.isEmpty) "" else "\n" + prior
      s"""b${k}k AS (
         |  SELECT min(doc_id) AS doc_id FROM fpk
         |  WHERE $p GROUP BY fp),
         |s${k}w AS (
         |  SELECT doc_id FROM b${k}k WHERE doc_id NOT IN (
         |    SELECT j.doc_b FROM jpairs j
         |    JOIN b${k}k ka ON ka.doc_id = j.doc_a
         |    JOIN b${k}k kb ON kb.doc_id = j.doc_b
         |    WHERE j.jaccard >= 0.8)),
         |ref$k AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 10 = 0$priorBlock),
         |s$k AS (
         |  SELECT doc_id FROM s${k}w WHERE doc_id NOT IN (
         |    SELECT j.doc_a FROM jpairs j
         |      JOIN ref$k r ON r.doc_id = j.doc_b WHERE j.jaccard >= 0.8
         |    UNION
         |    SELECT j.doc_b FROM jpairs j
         |      JOIN ref$k r ON r.doc_id = j.doc_a WHERE j.jaccard >= 0.8))""".stripMargin
    }
    """fpk AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |""".stripMargin + stages.mkString(",\n")
  }

  val specs: Seq[QuerySpec] = Seq(
    // STREAMING row in the correctness gate (VERDICT r10 #7): the ANN
    // serve face run as a REAL stream — two MemoryStream micro-batches
    // through ivfQueryStream's foreachBatch into parquet, read back.
    // Per-batch results equal the batch operator and each qid lands in
    // exactly one batch, so the union is oracled by the SAME replay SQL
    // as v_ivf_topk_batch (the checker sorts rows — append order is
    // irrelevant by design: a multi-file parquet sink has no order).
    QuerySpec("s_ivf_query_stream", (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val index = Similarity.ivfBuild(e, nLists = 16)
      val qrows = e.where(F.col("id") <= 4)
        .select(F.col("id"), F.col("vec"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val out = tmpDir("graft_sivf_out")
      val ckpt = tmpDir("graft_sivf_ckpt")
      streamBatches(s, Seq(qrows.take(3).toSeq, qrows.drop(3).toSeq),
          Seq("qid", "qvec")) {
        src => graft.streaming.StreamingOps.ivfQueryStream(
          src, index, k = 10, nprobe = 12,
          outPath = out, checkpoint = ckpt)
      }
      Similarity.ivfRelease(index)
      s.read.parquet(out)
        .select(F.col("qid"), F.col("id"), F.col("score"))
        .orderBy(F.col("qid"), F.col("score").desc, F.col("id").asc)
        .localCheckpoint()
    },
      // the streamed serve face unions its micro-batches' results, each
      // of which equals the batch operator, and every qid lands in
      // exactly one micro-batch — so the SAME batch replay oracles it
      // (the checker sorts rows; parquet append order is meaningless)
      ivfTopKBatchReplaySql),

    // the SELF-GROWING streaming dedup gate as a REAL stream (the
    // second streaming row in the correctness gate): base index
    // persisted from the %10==0 docs, two MemoryStream micro-batches
    // through minhashGateStream's foreachBatch — each batch collapsed
    // within itself (dedupCorpus), deduped against base ∪ earlier
    // survivors (dedupAgainstIndex over loadWithAppends), survivors'
    // band rows appended as idempotent seg=batchId partitions.
    // Oracled by the sequential exact-Jaccard replay in DuckDB.
    QuerySpec("s_dedup_gate_stream", (s, d) => {
      import s.implicits._
      val all = docs(s, d).select("doc_id", "text")
      val dir = tmpDir("graft_sgate_idx")
      val out = tmpDir("graft_sgate_out")
      val ckpt = tmpDir("graft_sgate_ckpt")
      val built = Dedup.minhashIndexBuild(
        all.where(F.col("doc_id") % 10 === 0))
      Dedup.minhashIndexSave(built, dir)
      Dedup.minhashIndexRelease(built)
      val b1 = all.where(F.col("doc_id") % 10 >= 1 && F.col("doc_id") % 10 <= 4)
        .as[(Long, String)].collect().sortBy(_._1)
      val b2 = all.where(F.col("doc_id") % 10 >= 5)
        .as[(Long, String)].collect().sortBy(_._1)
      streamBatches(s, Seq(b1.toSeq, b2.toSeq), Seq("doc_id", "text")) {
        src => graft.streaming.StreamingOps.minhashGateStream(
          src, dir, out, ckpt, jaccardThreshold = 0.8)
      }
      s.read.parquet(out).select("doc_id").orderBy("doc_id")
        .localCheckpoint()
    },
      // the streaming gate replayed SEQUENTIALLY in exact SQL: batch 1's
      // within-batch collapse (exact-fingerprint keepers, then near-dup
      // doc_b drop over pairs inside the kept set) and index check
      // against the base (%10=0); batch 2's the same, but against
      // base ∪ batch-1 survivors — the self-growing state, in SQL.
      // Candidate scheme and verify are shared code with d_dedup_corpus /
      // d_dedup_against_index, so exact jpairs is the same contract.
      s"""WITH $JaccardPairsCte,
        |$GateReplayCtes
        |SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
        |ORDER BY doc_id""".stripMargin),

    // streaming SEMANTIC dedup gate (VERDICT r12 #3) at its exact
    // degenerate point: base = decade anchors under a ONE-list IVF
    // (probing = full state scan; within-batch blocking = all pairs),
    // so every admit/reject is plain cosine logic a NOT-EXISTS chain
    // replays. Duplicates are PLANTED by id arithmetic with
    // power-of-two scales (bit-identical feed values in both engines):
    // batch-1 rows dup their base anchor (reject vs state), pairs of
    // batch-1 rows share an out-of-corpus donor direction (the
    // smaller id wins within batch, the larger loses), and batch-2
    // rows dup ADMITTED batch-1 directions (reject vs appended state).
    // Output: every admitted id with its round-4 cosine to a fixed
    // reference vector — membership AND payload pinned.
    QuerySpec("s_embed_gate_stream", embedGateRow(compact = false),
      embedGateReplaySql),

    // the semantic gate with its appends COMPACTION live (mirroring
    // s_gate_compact_stream): in-stream folds at cadence 2 plus an
    // explicit full fold between batches 2 and 3, so the last batch
    // probes a fully folded state — the admitted set must be
    // IDENTICAL to the fold-free row's (same replay SQL verbatim)
    QuerySpec("s_embed_gate_compact", embedGateRow(compact = true),
      // folds are invisible to gate decisions — identical replay
      embedGateReplaySql),

    // the gate with its appends COMPACTION live (VERDICT r12
    // continuation): four micro-batches at compactEverySegs = 2 (the
    // in-stream fold fires twice) plus an explicit full fold between
    // batches 3 and 4, so the last batch probes a fully folded state —
    // the accepted set must be IDENTICAL to the fold-free sequential
    // replay (folds are invisible to gate decisions)
    QuerySpec("s_gate_compact_stream", (s, d) => {
      import s.implicits._
      val all = docs(s, d).select("doc_id", "text")
      val dir = tmpDir("graft_sgatec_idx")
      val out = tmpDir("graft_sgatec_out")
      val ckpt = tmpDir("graft_sgatec_ckpt")
      val built = Dedup.minhashIndexBuild(
        all.where(F.col("doc_id") % 10 === 0))
      Dedup.minhashIndexSave(built, dir)
      Dedup.minhashIndexRelease(built)
      val mod = F.col("doc_id") % 10
      val batches = Seq(
        mod >= 1 && mod <= 2, mod >= 3 && mod <= 4,
        mod >= 5 && mod <= 6, mod >= 7
      ).map(p => all.where(p).as[(Long, String)].collect().sortBy(_._1))
      streamBatches(s, batches.map(_.toSeq), Seq("doc_id", "text"),
          i => if (i == 3) Dedup.minhashCompactAppends(s, dir)) {
        src => graft.streaming.StreamingOps.minhashGateStream(
          src, dir, out, ckpt,
          jaccardThreshold = 0.8, compactEverySegs = 2)
      }
      s.read.parquet(out).select("doc_id").orderBy("doc_id")
        .localCheckpoint()
    },
      // the same sequential gate law under a four-batch split — the
      // replay has NO compaction stage because the law being oracled is
      // that the in-stream and explicit folds never change a decision
      s"""WITH $JaccardPairsCte,
        |${gateReplayCtes(Seq(
             "doc_id % 10 BETWEEN 1 AND 2", "doc_id % 10 BETWEEN 3 AND 4",
             "doc_id % 10 BETWEEN 5 AND 6", "doc_id % 10 >= 7"))}
        |SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
        |UNION ALL SELECT doc_id FROM s3 UNION ALL SELECT doc_id FROM s4
        |ORDER BY doc_id""".stripMargin),

    // streaming incremental profiling as a REAL stream (VERDICT r11
    // #4): two MemoryStream micro-batches through profileStream's
    // per-batch sketch sidecars, then profileOf merges them — the law
    // is merged-sidecars == whole-corpus profile, so the output (and
    // its SQL replay) is the same shape as p_incr_profile: exact
    // counts/nulls/moments plus the HLL distinct pinned as a ±5%
    // tolerance flag (sketch union is not byte-identical to a
    // one-shot sketch — measured ±6 on 500 distinct at lgK=12).
    QuerySpec("s_profile_stream", (s, d) => {
      import s.implicits._
      import graft.operators.Profile
      val all = docs(s, d)
      val cols = Seq("lang", "n_chars", "source")
      val side = tmpDir("graft_sprof") + "/sidecars"
      val ckpt = tmpDir("graft_sprof_ck")
      val feed = all.select(
          F.col("doc_id"), F.col("lang"),
          F.col("n_chars").cast("long").as("n_chars"), F.col("source"))
        .as[(Long, Option[String], Option[Long], Option[String])]
      val b1 = feed.filter(_._1 % 2 == 0).collect().sortBy(_._1)
      val b2 = feed.filter(_._1 % 2 == 1).collect().sortBy(_._1)
      streamBatches(s, Seq(b1.toSeq, b2.toSeq),
          Seq("doc_id", "lang", "n_chars", "source")) {
        src => graft.streaming.StreamingOps.profileStream(
          src, cols, side, ckpt)
      }
      val merged = graft.streaming.StreamingOps.profileOf(s, side)
      val exact = Profile.profile(all, cols)
        .select(F.col("column"), F.col("n_distinct").as("exact_distinct"))
      merged.join(exact, "column")
        .select(
          F.col("column"), F.col("n_rows"), F.col("n_nulls"),
          (F.abs(F.col("n_distinct") - F.col("exact_distinct")) <=
            F.lit(0.05) * F.col("exact_distinct")).cast("int").as("dist_ok"),
          F.col("min_v"), F.col("max_v"), F.col("mean_v"), F.col("std_v"))
        .orderBy("column")
        .localCheckpoint()
    },
      // the streamed face merges per-batch sidecars into the SAME
      // profile the batch operator computes over the whole corpus —
      // identical replay to p_incr_profile (batching is invisible to
      // exact counts/moments; the HLL union rides the same ±5% flag)
      """SELECT * FROM (
        |  SELECT 'lang' AS "column", count(*) AS n_rows,
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |    CAST(1 AS INT) AS dist_ok,
        |    CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
        |    CAST(NULL AS DOUBLE) AS mean_v, CAST(NULL AS DOUBLE) AS std_v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*),
        |    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    CAST(1 AS INT),
        |    CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |    round(avg(n_chars), 4), round(stddev_samp(n_chars), 4)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    CAST(1 AS INT), NULL, NULL, NULL, NULL
        |  FROM documents)
        |ORDER BY "column"""".stripMargin),

    // streaming heavy hitters as a REAL stream: per-batch exact tops
    // + count-min sidecars, merged by heavyTokensOf. The SQL-checkable
    // laws: COMPLETENESS (pigeonhole — every globally φ-frequent token
    // is φ-frequent in ≥1 batch, so it must appear in the report; a
    // miss surfaces as the -1 coalesce), the EXACT lb replay (sum of
    // the token's per-batch counts where it cleared that batch's φ
    // bar — deterministic given the doc_id%2 batch split), `certain`
    // derived from that lb, and UB BRACKETING (count-min only ever
    // over-counts, so ub ≥ the true count — pinned as a flag; the ub
    // VALUE is sketch state, not SQL-expressible).
    QuerySpec("s_heavy_tokens_stream", (s, d) => {
      import s.implicits._
      val all = docs(s, d).select("doc_id", "text")
      val side = tmpDir("graft_shh") + "/hh"
      val ckpt = tmpDir("graft_shh_ck")
      val b1 = all.where(F.col("doc_id") % 2 === 0)
        .as[(Long, String)].collect().sortBy(_._1)
      val b2 = all.where(F.col("doc_id") % 2 === 1)
        .as[(Long, String)].collect().sortBy(_._1)
      streamBatches(s, Seq(b1.toSeq, b2.toSeq), Seq("doc_id", "text")) {
        src => graft.streaming.StreamingOps.heavyTokensStream(
          src, phi = 0.002, side, ckpt)
      }
      val report = graft.streaming.StreamingOps
        .heavyTokensOf(s, side, phi = 0.002)
      val exact = TextOps.heavyTokens(all, phi = 0.002)
        .select(F.col("token"), F.col("n"))
      exact.join(report, Seq("token"), "left")
        .select(
          F.col("token"), F.col("n"),
          F.coalesce(F.col("lb"), F.lit(-1L)).as("lb"),
          F.coalesce(F.col("certain"), F.lit(-1)).as("certain"),
          F.coalesce((F.col("ub") >= F.col("n")).cast("int"), F.lit(0))
            .as("ub_ok"))
        .orderBy("token")
        .localCheckpoint()
    },
      // the streamed heavy-hitter report against exact truth: the row
      // set is the exact φ-frequent tokens (completeness — a reported
      // miss shows as the engine's -1 coalesce), lb replays the
      // per-batch (doc_id%2) φ-bar sums exactly, certain derives from
      // lb, and ub bracketing is pinned as a flag (count-min only
      // over-counts)
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS t FROM tok),
        |exact AS (
        |  SELECT token, count(*) AS n
        |  FROM tok CROSS JOIN tot
        |  GROUP BY token
        |  HAVING count(*) >= ceil(0.002 * any_value(tot.t))),
        |b1 AS (SELECT token, count(*) AS n FROM tok
        |  WHERE doc_id % 2 = 0 GROUP BY token),
        |t1 AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b1),
        |c1 AS (SELECT token, n FROM b1 CROSS JOIN t1
        |  WHERE n >= ceil(0.002 * t1.t)),
        |b2 AS (SELECT token, count(*) AS n FROM tok
        |  WHERE doc_id % 2 = 1 GROUP BY token),
        |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b2),
        |c2 AS (SELECT token, n FROM b2 CROSS JOIN t2
        |  WHERE n >= ceil(0.002 * t2.t)),
        |lbs AS (
        |  SELECT token, CAST(sum(n) AS BIGINT) AS lb FROM (
        |    SELECT token, n FROM c1
        |    UNION ALL SELECT token, n FROM c2)
        |  GROUP BY token)
        |SELECT e.token, e.n,
        |  coalesce(l.lb, -1) AS lb,
        |  CASE WHEN coalesce(l.lb, -1) >=
        |    ceil(0.002 * (SELECT t FROM tot)) THEN 1 ELSE 0 END AS certain,
        |  1 AS ub_ok
        |FROM exact e LEFT JOIN lbs l USING (token)
        |ORDER BY e.token""".stripMargin),

    // the COMPACTED face of s_profile_stream: four micro-batches with
    // the fold cadence firing mid-stream (compactEverySegs = 2), then
    // an explicit full fold — the law is that compaction is INVISIBLE
    // to reads (counts/moments add exactly, HLL registers union), so
    // profileOf over the folded sidecars still equals the whole-corpus
    // profile and the SQL replay is s_profile_stream's verbatim
    QuerySpec("s_profile_compact", (s, d) => {
      import s.implicits._
      import graft.operators.Profile
      val all = docs(s, d)
      val cols = Seq("lang", "n_chars", "source")
      val side = tmpDir("graft_sprofc") + "/sidecars"
      val ckpt = tmpDir("graft_sprofc_ck")
      val feed = all.select(
          F.col("doc_id"), F.col("lang"),
          F.col("n_chars").cast("long").as("n_chars"), F.col("source"))
        .as[(Long, Option[String], Option[Long], Option[String])]
      val batches = (0 until 4).map(r =>
        feed.filter(_._1 % 4 == r).collect().sortBy(_._1))
      streamBatches(s, batches.map(_.toSeq),
          Seq("doc_id", "lang", "n_chars", "source")) {
        src => graft.streaming.StreamingOps.profileStream(
          src, cols, side, ckpt, compactEverySegs = 2)
      }
      graft.streaming.StreamingOps.profileCompact(s, side)
      val merged = graft.streaming.StreamingOps.profileOf(s, side)
      val exact = Profile.profile(all, cols)
        .select(F.col("column"), F.col("n_distinct").as("exact_distinct"))
      merged.join(exact, "column")
        .select(
          F.col("column"), F.col("n_rows"), F.col("n_nulls"),
          (F.abs(F.col("n_distinct") - F.col("exact_distinct")) <=
            F.lit(0.05) * F.col("exact_distinct")).cast("int").as("dist_ok"),
          F.col("min_v"), F.col("max_v"), F.col("mean_v"), F.col("std_v"))
        .orderBy("column")
        .localCheckpoint()
    },
      // compaction is invisible to reads (counts/moments add exactly,
      // HLL registers union) — the folded sidecars replay to the SAME
      // whole-corpus profile as s_profile_stream
      """SELECT * FROM (
        |  SELECT 'lang' AS "column", count(*) AS n_rows,
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |    CAST(1 AS INT) AS dist_ok,
        |    CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
        |    CAST(NULL AS DOUBLE) AS mean_v, CAST(NULL AS DOUBLE) AS std_v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*),
        |    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    CAST(1 AS INT),
        |    CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |    round(avg(n_chars), 4), round(stddev_samp(n_chars), 4)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    CAST(1 AS INT), NULL, NULL, NULL, NULL
        |  FROM documents)
        |ORDER BY "column"""".stripMargin),

    // the COMPACTED face of s_heavy_tokens_stream: four doc_id%4
    // batches with mid-stream folds plus a final full fold — tops rows
    // sum by token (lb is a plain sum over recorded rows, preserved
    // EXACTLY) and count-min cells add, so the post-fold report obeys
    // the same SQL-checkable laws: completeness, the exact per-batch
    // φ-bar lb replay, lb-derived certain, ub bracketing as a flag
    QuerySpec("s_heavy_compact", (s, d) => {
      import s.implicits._
      val all = docs(s, d).select("doc_id", "text")
      val side = tmpDir("graft_shhc") + "/hh"
      val ckpt = tmpDir("graft_shhc_ck")
      val batches = (0 until 4).map(r =>
        all.where(F.col("doc_id") % 4 === r)
          .as[(Long, String)].collect().sortBy(_._1))
      streamBatches(s, batches.map(_.toSeq), Seq("doc_id", "text")) {
        src => graft.streaming.StreamingOps.heavyTokensStream(
          src, phi = 0.002, side, ckpt, compactEverySegs = 2)
      }
      graft.streaming.StreamingOps.heavyTokensCompact(s, side)
      val report = graft.streaming.StreamingOps
        .heavyTokensOf(s, side, phi = 0.002)
      val exact = TextOps.heavyTokens(all, phi = 0.002)
        .select(F.col("token"), F.col("n"))
      exact.join(report, Seq("token"), "left")
        .select(
          F.col("token"), F.col("n"),
          F.coalesce(F.col("lb"), F.lit(-1L)).as("lb"),
          F.coalesce(F.col("certain"), F.lit(-1)).as("certain"),
          F.coalesce((F.col("ub") >= F.col("n")).cast("int"), F.lit(0))
            .as("ub_ok"))
        .orderBy("token")
        .localCheckpoint()
    },
      // the s_heavy_tokens_stream replay under the doc_id%4 split, with
      // the folds invisible: tops rows sum by token so lb is STILL the
      // sum of the per-batch counts that cleared each batch's φ bar, and
      // merged count-min cells only ever over-count (ub_ok flag)
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS t FROM tok),
        |exact AS (
        |  SELECT token, count(*) AS n
        |  FROM tok CROSS JOIN tot
        |  GROUP BY token
        |  HAVING count(*) >= ceil(0.002 * any_value(tot.t))),
        |perb AS (SELECT doc_id % 4 AS b, token, count(*) AS n
        |  FROM tok GROUP BY 1, 2),
        |bars AS (SELECT b, CAST(sum(n) AS BIGINT) AS t FROM perb GROUP BY b),
        |cleared AS (SELECT perb.token, perb.n
        |  FROM perb JOIN bars USING (b)
        |  WHERE perb.n >= ceil(0.002 * bars.t)),
        |lbs AS (SELECT token, CAST(sum(n) AS BIGINT) AS lb
        |  FROM cleared GROUP BY token)
        |SELECT e.token, e.n,
        |  coalesce(l.lb, -1) AS lb,
        |  CASE WHEN coalesce(l.lb, -1) >=
        |    ceil(0.002 * (SELECT t FROM tot)) THEN 1 ELSE 0 END AS certain,
        |  1 AS ub_ok
        |FROM exact e LEFT JOIN lbs l USING (token)
        |ORDER BY e.token""".stripMargin),

    // streamed QUANTILE sidecars (the histogram face of the profile):
    // three doc_id%3 micro-batches of documents.n_chars into fixed
    // [0, 600)/24 buckets with the fold cadence firing mid-stream plus
    // a final full fold — per-bucket counts are EXACTLY mergeable (a
    // sum, no sketch), so the merged histogram AND the deterministic
    // interpolated p50/p95 replay verbatim in SQL
    QuerySpec("s_hist_stream", (s, d) => {
      import s.implicits._
      import graft.operators.Profile
      val all = docs(s, d)
      val side = tmpDir("graft_shist") + "/hist"
      val ckpt = tmpDir("graft_shist_ck")
      val feed = all.select(
          F.col("doc_id"), F.col("n_chars").cast("double").as("n_chars"))
        .as[(Long, Option[Double])]
      val batches = (0 until 3).map(r =>
        feed.filter(_._1 % 3 == r).collect().sortBy(_._1).toSeq)
      streamBatches(s, batches, Seq("doc_id", "n_chars")) {
        src => graft.streaming.StreamingOps.histStream(
          src, "n_chars", lo = 0.0, hi = 600.0, nBuckets = 24, side, ckpt,
          compactEverySegs = 2)
      }
      graft.streaming.StreamingOps.histCompact(s, side)
      val counts = graft.streaming.StreamingOps.histOf(s, side)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val p50 = Profile.histQuantile(counts, 0.50, 0.0, 600.0, 24)
      val p95 = Profile.histQuantile(counts, 0.95, 0.0, 600.0, 24)
      graft.streaming.StreamingOps.histOf(s, side)
        .withColumn("p50", F.round(F.lit(p50), 4))
        .withColumn("p95", F.round(F.lit(p95), 4))
        .orderBy("bucket")
        .localCheckpoint()
    },
      // folds are a per-bucket sum, so the streamed histogram equals the
      // one-shot GROUP BY; p50/p95 replay the same interpolation: first
      // bucket whose cumulative count reaches q·N, linear within it
      """WITH hist AS (
        |  SELECT least(23, greatest(0,
        |      CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 25.0) AS INT)))
        |    AS bucket,
        |    count(*) AS n
        |  FROM documents WHERE n_chars IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM hist),
        |cum AS (SELECT bucket, n,
        |    sum(n) OVER (ORDER BY bucket) - n AS cb FROM hist),
        |q50 AS (SELECT round(0.0 + 25.0 * (bucket +
        |      least(1.0, greatest(0.0, (0.5 * t - cb) / n))), 4) AS p50
        |  FROM cum, tot WHERE cb + n >= 0.5 * t
        |  ORDER BY bucket LIMIT 1),
        |q95 AS (SELECT round(0.0 + 25.0 * (bucket +
        |      least(1.0, greatest(0.0, (0.95 * t - cb) / n))), 4) AS p95
        |  FROM cum, tot WHERE cb + n >= 0.95 * t
        |  ORDER BY bucket LIMIT 1)
        |SELECT h.bucket, h.n, q50.p50, q95.p95
        |FROM hist h, q50, q95
        |ORDER BY h.bucket""".stripMargin)
  )
}
