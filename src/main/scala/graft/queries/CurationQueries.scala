package graft.queries

import graft.operators.{Dedup, FuzzyJoin, Similarity, TextOps, TrainPrep}
import org.apache.spark.sql.{functions => F}
import graft.queries.QueryLib._

/** Data curation: deduplication, decontamination, sampling, splits
  * and source quotas. */
private[graft] object CurationQueries {

  // 60-bit SimHash per document (mirrors Dedup.simhash exactly):
  // explode whitespace tokens (duplicates kept — each occurrence
  // votes), 60-bit md5-derived hash per token, ±1 majority per bit.
  private val SimhashCte =
    """stok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |sthash AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
      |  FROM stok),
      |sbits AS (
      |  SELECT doc_id, r.range AS b,
      |    sum(CASE WHEN ((h >> r.range) & 1) = 1 THEN 1 ELSE -1 END) AS s
      |  FROM sthash CROSS JOIN range(60) r
      |  GROUP BY doc_id, r.range),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
      |      AS BIGINT) AS simhash
      |  FROM sbits GROUP BY doc_id)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // per-source token quota ("cap each domain at N tokens"): the
    // two-job distributed prefix sum + a map-side budget CASE — the
    // window replay below is the semantics, not the execution plan
    QuerySpec("d_source_quota", (s, d) => {
      val doc = docs(s, d)
      TrainPrep.stratumWeightQuota(
          doc, F.col("doc_id"), F.col("source"),
          // size(null) is -1, not NULL — null text must weigh 0 like
          // the oracle's coalesce(len(...), 0)
          F.when(F.col("text").isNull, 0)
            .otherwise(F.size(TextOps.tokens(F.col("text")))),
          budgets = Map("src0" -> 100L), defaultBudget = 300L)
        .select(F.col("key").as("doc_id"), F.col("stratum").as("source"),
          F.col("w").as("n_tokens"), F.col("before").as("tokens_before"))
        .orderBy("doc_id")
    },
      // quota replay: inclusive per-source cumsum window, truncate at
      // first overflow; src0 capped at 100 tokens, others at 300
      """WITH w AS (
        |  SELECT doc_id, source,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, w,
        |    coalesce(sum(w) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM w)
        |SELECT doc_id, source, w AS n_tokens,
        |  before::BIGINT AS tokens_before
        |FROM c
        |WHERE before + w <= CASE WHEN source = 'src0' THEN 100 ELSE 300 END
        |ORDER BY doc_id""".stripMargin),

    // deterministic train/val/test holdout: md5-bucket CASE, map-only
    // (a doc's split never flips as the corpus grows)
    QuerySpec("d_split_assign", (s, d) =>
      TrainPrep.splitAssign(
          docs(s, d), F.col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "source", "split").orderBy("doc_id"),
      // split replay: same first-8-hex md5 bucket convention as
      // hashBucket; cumulative cuts 8000/9000, last split is the ELSE
      """SELECT doc_id, source,
        |  CASE
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 10000 < 8000 THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 10000 < 9000 THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // asymmetric containment: quote/subset detection symmetric Jaccard
    // misses — >= 80% of a doc's distinct 6-grams inside another doc
    QuerySpec("d_containment", (s, d) =>
      Dedup.containmentPairs(docs(s, d), n = 6, minContainment = 0.8),
      // containment replay: distinct 6-grams (whole-text fallback under
      // 6 tokens), df <= 100 prune, gram self-join pair counts,
      // kept-gram denominator, threshold on the rounded ratio
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 6 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
        |        t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])
        |    END AS gs
        |  FROM toks),
        |g2 AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM grams),
        |dfok AS (SELECT g FROM (
        |  SELECT g, count(*) AS df FROM g2 GROUP BY g) WHERE df <= 100),
        |kept AS (SELECT g2.doc_id, g2.g FROM g2 JOIN dfok USING (g)),
        |sz AS (SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id),
        |sh AS (
        |  SELECT a.doc_id, b.doc_id AS container_id, count(*) AS shared
        |  FROM kept a JOIN kept b
        |  ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT s.doc_id, s.container_id, s.shared, z.n_grams,
        |  round(s.shared::DOUBLE / z.n_grams, 4) AS containment
        |FROM sh s JOIN sz z ON z.doc_id = s.doc_id
        |WHERE round(s.shared::DOUBLE / z.n_grams, 4) >= 0.8
        |ORDER BY containment DESC, s.doc_id, s.container_id""".stripMargin),

    // weighted k-per-stratum sample (A-ES, derandomized): selection
    // tilted toward longer docs, membership a pure function of the
    // data — the quality-weighted curation sampler
    QuerySpec("d_weighted_sample", (s, d) =>
      TrainPrep.weightedSamplePerStratum(
        docs(s, d), F.col("doc_id"), F.col("source"),
        F.col("n_chars").cast("double"), k = 20),
      // A-ES replay: the same md5-first-8-hex uniform (+1 so ln never
      // sees zero), ln(u)/w keys, per-stratum max-k on the RAW key with
      // the row-key tiebreak, round-6 output
      """WITH base AS (SELECT doc_id AS key, source AS stratum,
        |  CAST(n_chars AS DOUBLE) AS w FROM documents),
        |a AS (SELECT key, stratum, w,
        |  ln((('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT + 1)
        |    / 4294967296.0) / w AS akey
        |  FROM base),
        |r AS (SELECT key, stratum, w, akey, row_number() OVER (
        |  PARTITION BY stratum ORDER BY akey DESC, key ASC) AS rn FROM a)
        |SELECT key, stratum, w, round(akey, 6) AS akey FROM r
        |WHERE rn <= 20
        |ORDER BY stratum, akey DESC, key""".stripMargin),

    // leakage-free split: near-dup clusters share one split key, so a
    // pair can never straddle train/test; singletons split exactly as
    // d_split_assign does
    QuerySpec("d_split_leakfree", (s, d) => {
      val all = docs(s, d)
      val pairs = Dedup.minhashNearDupPairs(all, estFloor = 0.6)
        .where(F.col("jaccard") >= 0.8)
      TrainPrep.leakFreeSplit(
          all, pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    },
      // leak-free replay: exact >= 0.8 Jaccard pairs -> recursive
      // min-label closure -> coalesce(keeper, doc_id) as the split key
      // -> the same md5 CASE as d_split_assign on that key
      s"""WITH RECURSIVE $JaccardPairsCte,
        |dup AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.8),
        |symp AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM dup
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM dup),
        |pnodes AS (SELECT DISTINCT src AS id FROM symp),
        |r(id, lab) AS (
        |  SELECT id, id FROM pnodes
        |  UNION
        |  SELECT s.dst, r.lab FROM r JOIN symp s ON s.src = r.id
        |  WHERE r.lab < s.dst),
        |keep AS (SELECT id AS doc_id, min(lab) AS keeper FROM r GROUP BY id),
        |keyed AS (
        |  SELECT d.doc_id, coalesce(k.keeper, d.doc_id) AS split_key
        |  FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id)
        |SELECT doc_id, split_key,
        |  CASE
        |    WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))::BIGINT
        |      % 10000 < 8000 THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))::BIGINT
        |      % 10000 < 9000 THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM keyed
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_sample_k_stratum", (s, d) =>
      TrainPrep.sampleKPerStratum(
          docs(s, d), F.col("doc_id"), F.col("source"), k = 10)
        .orderBy("stratum", "hkey", "key"),
      """WITH h AS (
        |  SELECT doc_id AS key, source AS stratum,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |      % 1073741824 AS hkey
        |  FROM documents),
        |r AS (
        |  SELECT key, stratum, hkey,
        |    row_number() OVER (
        |      PARTITION BY stratum ORDER BY hkey, key) AS rn
        |  FROM h)
        |SELECT key, stratum, hkey FROM r WHERE rn <= 10
        |ORDER BY stratum, hkey, key""".stripMargin),

    QuerySpec("d_temperature_sample", (s, d) =>
      // count^alpha source rebalancing (mBERT/XLM-R mix rule): alpha
      // 0.5 up-weights small sources; md5 membership, zero corpus
      // shuffle (tiny rate table broadcast back onto the scan)
      TrainPrep.temperatureSample(
          docs(s, d), F.col("doc_id"), F.col("source"),
          alpha = 0.5, targetFraction = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      // same double algebra, same association order as the engine:
      // rate_s = min(1, n_s^a / sum_pow * (target * n_tot) / n_s), then
      // the shared md5-bucket membership rule
      """WITH c AS (
        |  SELECT source AS stratum, count(*)::DOUBLE AS n_s
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(n_s) AS n_tot, sum(pow(n_s, 0.5)) AS sum_pow
        |  FROM c),
        |r AS (SELECT stratum,
        |    least(1.0, pow(n_s, 0.5) / sum_pow * (0.5 * n_tot) / n_s)
        |      AS rate
        |  FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON r.stratum = d.source
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
        |  % 10000 < round(rate * 10000)
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("d_dedup_against", (s, d) => {
      // continual-pretraining dedup: new data (corpus) against the
      // existing training set (reference); the reference is untouched
      val all = docs(s, d)
      Dedup.dedupAgainst(
          all.where(F.col("doc_id") % 10 =!= 0),
          all.where(F.col("doc_id") % 10 === 0),
          jaccardThreshold = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    },
      // cross-corpus dedup replay: the complete >= 0.8 pair set (prefix-
      // filter candidates, exact jaccard) restricted to pairs crossing
      // the corpus/reference split; survivors = corpus docs in no such
      // pair (either orientation — jpairs orders doc_a < doc_b)
      s"""WITH $JaccardPairsCte
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (
        |  SELECT doc_a FROM jpairs WHERE jaccard >= 0.8 AND doc_b % 10 = 0
        |  UNION
        |  SELECT doc_b FROM jpairs WHERE jaccard >= 0.8 AND doc_a % 10 = 0)
        |ORDER BY doc_id""".stripMargin),

    // the incremental-ingestion shape of d_dedup_against: reference
    // band rows + shingles persisted once (save/load round trip
    // included), each new drop pays its own signature pass only; the
    // result contract is IDENTICAL to the two-frame operator, so the
    // oracle is shared
    QuerySpec("d_dedup_against_index", (s, d) => {
      val all = docs(s, d)
      val dir = tmpDir("graft-mhidx")
      val built = Dedup.minhashIndexBuild(all.where(F.col("doc_id") % 10 === 0))
      Dedup.minhashIndexSave(built, dir)
      Dedup.minhashIndexRelease(built)
      val index = Dedup.minhashIndexLoad(s, dir)
      Dedup.dedupAgainstIndex(
          all.where(F.col("doc_id") % 10 =!= 0), index,
          jaccardThreshold = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    },
      // identical contract to d_dedup_against — the index path stores
      // precomputed band rows/shingles but the candidate scheme and
      // verify are shared code, so the same replay applies
      s"""WITH $JaccardPairsCte
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (
        |  SELECT doc_a FROM jpairs WHERE jaccard >= 0.8 AND doc_b % 10 = 0
        |  UNION
        |  SELECT doc_b FROM jpairs WHERE jaccard >= 0.8 AND doc_a % 10 = 0)
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_semantic_neardup", (s, d) =>
      // SemDeDup: deterministic-k-means cells, exact cosine within a
      // cell only — the cluster-blocked scale path for embedding dedup
      // (equi-join on the cell id, never all-pairs)
      graft.operators.Dedup.semanticNearDupPairs(
          emb(s, d), threshold = 0.3, nClusters = 8, iters = 10)
        .orderBy(F.col("score").desc, F.col("id_a"), F.col("id_b")),
      // SemDeDup replay: the deterministic k-means cells (same
      // farthest-point seeding + Lloyd recurrence as the IVF oracle),
      // then exact cosine pairs within a cell only
      (s"""WITH sdsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("sdsrc", 8, 10, "sd")},
          |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings)
          |SELECT fa.id AS id_a, fb.id AS id_b,
          |  round(list_cosine_similarity(a.v, b.v), 4) AS score
          |FROM sdfin fa JOIN sdfin fb ON fa.c = fb.c AND fa.id < fb.id
          |JOIN e a ON a.vec_id = fa.id
          |JOIN e b ON b.vec_id = fb.id
          |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
          |ORDER BY score DESC, id_a, id_b""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // D4-style prototype pruning: same deterministic k-means cells,
    // rank-by-distance-to-centroid within each cell, drop the closest
    // 20% (the redundant cluster cores), keep the informative tail
    QuerySpec("d_proto_prune", (s, d) =>
      graft.operators.Dedup.prototypePrune(
          emb(s, d), dropFrac = 0.2, nClusters = 8, iters = 10)
        .withColumn("keep", F.col("keep").cast("int"))
        .orderBy("cluster", "rnk"),
      // prototype-pruning replay: same k-means recurrence, then squared
      // L2 to the final centroid, row_number within the cell (dist asc,
      // id asc), keep = rank beyond the ceil(0.2 n) prototypical head
      (s"""WITH ppsrc AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |${kmeansCtes("ppsrc", 8, 10, "pp")},
          |ppd2 AS (
          |  SELECT t.id, f2.c, sum((t.x - k.cx) * (t.x - k.cx)) AS d2
          |  FROM ppsrc t
          |  JOIN ppfin f2 ON f2.id = t.id
          |  JOIN ppkc10 k ON k.c = f2.c AND k.f = t.f
          |  GROUP BY t.id, f2.c),
          |ppr2 AS (
          |  SELECT id, c AS cluster, d2,
          |    row_number() OVER (PARTITION BY c ORDER BY d2 ASC, id ASC)
          |      AS rnk,
          |    count(*) OVER (PARTITION BY c) AS n_in_cluster
          |  FROM ppd2)
          |SELECT id, cluster::INT AS cluster, round(d2, 4) AS dist,
          |  rnk::BIGINT AS rnk, n_in_cluster::BIGINT AS n_in_cluster,
          |  (rnk > ceil(0.2 * n_in_cluster))::INT AS keep
          |FROM ppr2
          |ORDER BY cluster, rnk""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    QuerySpec("d_fuzzy_match", (s, d) =>
      FuzzyJoin.selfMatch(
          tbl(s, d, "customer").where(F.col("c_custkey") <= 500)
            .select(F.col("c_custkey").as("id"), F.col("c_name").as("s")),
          maxDist = 1)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b"),
      """WITH c AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  WHERE c_custkey <= 500)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.name, b.name)::BIGINT AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("d_decontaminate", (s, d) => {
      // eval-set decontamination: every 20th doc plays the benchmark;
      // corpus docs sharing any exact word 4-gram with it are dropped
      // (4, not the usual 13, because the synthetic word-bag text has
      // a ~40-word vocabulary — at 13 only the planted near-dup pairs
      // collide and the check degenerates)
      val all = docs(s, d)
      val eval = all.where(F.col("doc_id") % 20 === 0)
      val corpus = all.where(F.col("doc_id") % 20 =!= 0)
      Dedup.decontaminate(corpus, eval, n = 4)
        .select("doc_id").orderBy("doc_id")
    },
      // word 4-grams; docs with < 4 tokens collapse to one whole-text
      // gram, mirroring Dedup.shingles
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |    END AS gs
        |  FROM toks),
        |g2 AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        |ev AS (SELECT DISTINCT g FROM g2 WHERE doc_id % 20 = 0),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM g2
        |  WHERE doc_id % 20 != 0 AND g IN (SELECT g FROM ev))
        |SELECT doc_id FROM documents
        |WHERE doc_id % 20 != 0
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin),

    // which benchmark docs leak, and how broadly: distinct corpus-doc
    // hits per eval doc (same 4-gram rationale as d_decontaminate)
    QuerySpec("d_contamination_report", (s, d) => {
      val all = docs(s, d)
      Dedup.contaminationReport(
          all.where(F.col("doc_id") % 20 =!= 0),
          all.where(F.col("doc_id") % 20 === 0), n = 4)
        .orderBy("eval_doc_id")
    },
      // contamination-report replay: distinct grams per side, equi-join,
      // distinct-pair count per eval doc; zeros kept via LEFT JOIN
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |    END AS gs
        |  FROM toks),
        |g2 AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        |eg AS (SELECT DISTINCT doc_id AS eid, g FROM g2 WHERE doc_id % 20 = 0),
        |cg AS (SELECT DISTINCT doc_id AS cid, g FROM g2 WHERE doc_id % 20 <> 0),
        |hits AS (
        |  SELECT eid, count(DISTINCT cid) AS n
        |  FROM eg JOIN cg USING (g) GROUP BY eid)
        |SELECT d.doc_id AS eval_doc_id, coalesce(h.n, 0)::BIGINT AS n_corpus_hits
        |FROM documents d LEFT JOIN hits h ON h.eid = d.doc_id
        |WHERE d.doc_id % 20 = 0
        |ORDER BY eval_doc_id""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")),

    // repeated-span detection: 3-grams (not 8 — the ~40-word synthetic
    // vocabulary only collides at short widths, same rationale as
    // d_decontaminate's 4) occurring in >= 2 distinct docs; per-doc
    // duplicated-window and covered-position counts
    QuerySpec("d_dup_spans", (s, d) =>
      Dedup.dupSpans(docs(s, d), n = 3, minDocs = 2).orderBy("doc_id"),
      // repeated-span replay: full 3-token windows, grams in >= 2
      // distinct docs, coverage as the same running-max interval sweep
      // (pe = furthest end among earlier windows; each window adds
      // n - overlap new positions)
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |w0 AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
        |w2 AS (
        |  SELECT doc_id, i,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM w0),
        |dg AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS nd FROM w2 GROUP BY g)
        |  WHERE nd >= 2),
        |dw AS (SELECT doc_id, i FROM w2 WHERE g IN (SELECT g FROM dg)),
        |cov0 AS (
        |  SELECT doc_id, i,
        |    max(i + 2) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM dw),
        |per AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_dup_windows,
        |    sum(greatest(0, 3 - greatest(0, coalesce(pe, 0) - i + 1)))::BIGINT
        |      AS n_dup_tokens
        |  FROM cov0 GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS n_tokens
        |  FROM documents)
        |SELECT b.doc_id, b.n_tokens,
        |  greatest(b.n_tokens - 2, 0)::BIGINT AS n_windows,
        |  coalesce(p.n_dup_windows, 0)::BIGINT AS n_dup_windows,
        |  coalesce(p.n_dup_tokens, 0)::BIGINT AS n_dup_tokens
        |FROM base b LEFT JOIN per p USING (doc_id)
        |ORDER BY doc_id""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")),

    // one-call curation recipe with first-fail attribution: quality
    // (word count >= 20) -> exact-dedup keeper -> decontamination vs
    // the every-20th-doc eval split (same 4-gram rationale as
    // d_decontaminate)
    QuerySpec("d_curate_corpus", (s, d) => {
      val all = docs(s, d)
      val eval = all.where(F.col("doc_id") % 20 === 0)
      val corpus = all.where(F.col("doc_id") % 20 =!= 0)
      Dedup.curateCorpus(
          corpus, eval,
          F.size(graft.operators.TextOps.tokens(F.col("text"))) >= 20,
          n = 4)
        .orderBy("doc_id")
    },
      // curation recipe replay: sequential stage semantics — fingerprint
      // groups over quality survivors only, contamination over surviving
      // keepers only; gram construction copied from d_decontaminate
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
        |q AS (
        |  SELECT doc_id, text,
        |    coalesce(len(string_split_regex(trim(text), '\s+')) >= 20,
        |      false) AS q_ok
        |  FROM corpus),
        |fpt AS (
        |  SELECT doc_id, text,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM q WHERE q_ok),
        |keep AS (SELECT fp, min(doc_id) AS keeper FROM fpt GROUP BY fp),
        |wk AS (SELECT f.doc_id, f.text, k.keeper
        |  FROM fpt f JOIN keep k USING (fp)),
        |ktoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM wk WHERE doc_id = keeper AND text IS NOT NULL),
        |kgrams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |    END AS gs
        |  FROM ktoks),
        |kg AS (SELECT doc_id, unnest(gs) AS g FROM kgrams),
        |etoks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL),
        |egrams AS (
        |  SELECT CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |    END AS gs
        |  FROM etoks),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM egrams),
        |contam AS (
        |  SELECT DISTINCT kg.doc_id FROM kg
        |  WHERE kg.g IN (SELECT g FROM ev))
        |SELECT q.doc_id,
        |  CASE WHEN NOT q.q_ok THEN 'quality'
        |    WHEN q.doc_id <> w.keeper THEN 'exact_dup'
        |    WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |  END AS first_fail
        |FROM q LEFT JOIN wk w ON w.doc_id = q.doc_id
        |LEFT JOIN contam c ON c.doc_id = q.doc_id
        |ORDER BY q.doc_id""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")),

    QuerySpec("d_sample_stratified", (s, d) =>
      // deterministic md5-hash sampling, stratified by source: exact,
      // reproducible on any cluster layout, no count pass
      TrainPrep.stratifiedHashSample(
        docs(s, d), F.col("doc_id"), F.col("source"),
        Map("src0" -> 0.5), defaultRate = 0.2)
        .select("doc_id", "source").orderBy("doc_id"),
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  % 10000 < CASE WHEN source = 'src0' THEN 5000 ELSE 2000 END
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_exact_groups", (s, d) =>
      Dedup.exactGroups(docs(s, d)).orderBy("fp"),
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |  count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents
        |GROUP BY fp
        |ORDER BY fp""".stripMargin),

    QuerySpec("d_minhash_neardup", (s, d) =>
      // thresholded near-dup pairs. Oracle-able: the final filter is
      // EXACT Jaccard, and at 64 hashes / 16 bands x 4 rows the chance
      // the banding misses a j >= 0.8 pair is <= (1-0.8^4)^16 ~ 2e-4
      // (1e-7 at the testdata's observed j >= 0.89), so the banded
      // result deterministically equals the all-pairs answer here; the
      // est_jaccard column is minhash-internal and excluded.
      Dedup.minhashNearDupPairs(docs(s, d), estFloor = 0.2)
        .where(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
      // All-pairs exact-Jaccard >= 0.8 via prefix filtering (complete:
      // two sets with J >= t must share an element among the first
      // ⌊(1-t)·n⌋+1 of a canonical ordering), so DuckDB never joins the
      // full N² — the same candidates-then-verify shape as the engine.
      s"""WITH $JaccardPairsCte
        |SELECT doc_a, doc_b, jaccard FROM jpairs
        |WHERE jaccard >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),

    QuerySpec("d_dedup_corpus", (s, d) =>
      Dedup.dedupCorpus(docs(s, d), jaccardThreshold = 0.8)
        .select("doc_id").orderBy("doc_id"),
      s"""WITH keepers AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))),
        |documents_kept AS (
        |  SELECT d.* FROM documents d JOIN keepers k USING (doc_id)),
        |${JaccardPairsCte.replace("FROM documents", "FROM documents_kept")}
        |SELECT doc_id FROM keepers
        |WHERE doc_id NOT IN (
        |  SELECT doc_b FROM jpairs WHERE jaccard >= 0.8)
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_dup_clusters", (s, d) =>
      // transitive dedup: connected components over the exact-verified
      // near-dup pairs; keeper = smallest doc_id of the component
      Dedup.dupClusters(
        Dedup.minhashNearDupPairs(docs(s, d), estFloor = 0.6)
          .where(F.col("jaccard") >= 0.8))
        .orderBy("doc_id"),
      // transitive closure of the exact >= 0.8 Jaccard pair graph via
      // recursive min-label propagation (same pattern as g_components);
      // keeper = component minimum
      s"""WITH RECURSIVE $JaccardPairsCte,
        |dup AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.8),
        |sym AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM dup
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM dup),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |r(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.dst, r.lab FROM r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst)
        |SELECT id AS doc_id, min(lab) AS keeper FROM r
        |GROUP BY id ORDER BY doc_id""".stripMargin),

    // arbitrary-length exact substring dedup (Lee et al. 2022
    // ExactSubstr; VERDICT r8 #3): maximal removal spans covered by
    // ANY >= 5-token sequence repeated anywhere in the corpus
    // (within-doc repeats count). 5, not the paper's 50 — the ~40-word
    // synthetic vocabulary only produces repeats at short widths, the
    // same calibration rationale as d_dup_spans' 3.
    QuerySpec("d_substring_dedup", (s, d) =>
      Dedup.substringDedupSpans(docs(s, d), minLen = 5)
        .orderBy("doc_id", "span_start"),
      // arbitrary-length substring-dedup replay: full 5-token windows,
      // grams with >= 2 TOTAL occurrences (within-doc repeats count —
      // Lee et al. semantics), then gaps-and-islands over the covered
      // union (pe = furthest covered end among earlier windows; a window
      // starts a new span iff it begins past pe + 1)
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |w0 AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks),
        |w2 AS (
        |  SELECT doc_id, i,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] AS g
        |  FROM w0),
        |dg AS (
        |  SELECT g FROM (SELECT g, count(*) AS nocc FROM w2 GROUP BY g)
        |  WHERE nocc >= 2),
        |dw AS (SELECT doc_id, i FROM w2 WHERE g IN (SELECT g FROM dg)),
        |c0 AS (
        |  SELECT doc_id, i,
        |    max(i + 4) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM dw),
        |c1 AS (SELECT doc_id, i,
        |  CASE WHEN pe IS NULL OR i > pe + 1 THEN 1 ELSE 0 END AS ns
        |  FROM c0),
        |c2 AS (SELECT doc_id, i,
        |  sum(ns) OVER (PARTITION BY doc_id ORDER BY i) AS span_id
        |  FROM c1)
        |SELECT doc_id, min(i)::BIGINT AS span_start,
        |  (max(i) + 4)::BIGINT AS span_end,
        |  (max(i) + 4 - min(i) + 1)::BIGINT AS n_tokens
        |FROM c2 GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_start""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")),

    // bucket-occupancy diagnostic for the gram-blocked joins (VERDICT
    // r8 #6): hottest 6-grams by df and the candidate-pair mass they
    // imply — the measurement that sizes containmentPairs' maxDf
    QuerySpec("d_gram_occupancy", (s, d) =>
      Dedup.gramOccupancy(docs(s, d), n = 6, topN = 20),
      // gram-occupancy replay: distinct (doc, 6-gram) pairs (short docs
      // collapse to one whole-text gram, mirroring explodedGrams), df>1
      // buckets ranked by (df DESC, g ASC), pair mass n(n-1)/2 with
      // cumulative and total columns; keys are dropped from the output
      // so ties at the cut are value-identical
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 6 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |        || ' ' || t[i+4] || ' ' || t[i+5])
        |    END AS gs
        |  FROM toks),
        |g2 AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        |gd AS (SELECT DISTINCT doc_id, g FROM g2),
        |sz AS (
        |  SELECT g, count(*)::BIGINT AS n_docs,
        |    (count(*) * (count(*) - 1) // 2)::BIGINT AS cand_pairs
        |  FROM gd GROUP BY g HAVING count(*) > 1),
        |tot AS (
        |  SELECT coalesce(sum(cand_pairs), 0)::BIGINT AS total_pairs,
        |    count(*)::BIGINT AS n_hot_buckets FROM sz),
        |top AS (SELECT n_docs, cand_pairs, rnk FROM (
        |  SELECT n_docs, cand_pairs, row_number() OVER (
        |    ORDER BY n_docs DESC, g ASC) AS rnk FROM sz) WHERE rnk <= 20)
        |SELECT rnk::BIGINT AS rnk, n_docs, cand_pairs,
        |  sum(cand_pairs) OVER (ORDER BY rnk)::BIGINT AS cum_pairs,
        |  total_pairs, n_hot_buckets
        |FROM top, tot
        |ORDER BY rnk""".stripMargin
        .replace(" AS (", " AS MATERIALIZED (")),

    QuerySpec("d_simhash", (s, d) =>
      Dedup.simhash(docs(s, d)).orderBy("doc_id"),
      // 60-bit SimHash recomputed end-to-end: md5-derived token hashes
      // (('0x'||hex15)::BIGINT is the same value as Spark's
      // conv(substr(md5(t),1,15),16,10)), ±1 majority vote per bit lane,
      // bits reassembled below bit 63 so no sign/overflow divergence.
      s"""WITH $SimhashCte
        |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin),

    QuerySpec("d_simhash_neardup", (s, d) =>
      // Hamming distance 3 is the standard near-dup operating point for
      // SimHash (Manku et al., WWW'07): complete 4-chunk blocking with
      // 15-bit keys. Wider bounds shrink the chunk keys (maxDist+1
      // chunks) and explode candidates on correlated corpora —
      // measured 23s at maxDist=16 vs ~1s here at sf0.1.
      Dedup.simhashNearDupPairs(docs(s, d), maxDist = 3).limit(100),
      // Pair semantics, not blocking internals: the engine's pigeonhole
      // chunk join is candidate generation only — the contract is "all
      // pairs at Hamming <= 3", which DuckDB verifies all-pairs (fine at
      // oracle SF; the engine side never joins N²).
      s"""WITH $SimhashCte
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY hamming, doc_a, doc_b
        |LIMIT 100""".stripMargin),

    QuerySpec("d_embed_neardup", (s, d) =>
      // embedding-cosine near-dup: the fourth dedup mode (exact /
      // minhash / simhash / embedding). Broadcast + per-partition
      // primitive loop at oracle SF; at 100 TB candidates come from
      // the LSH band join or IVF blocking instead of all-pairs.
      Similarity.cosineNearDupPairs(emb(s, d), 0.3),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS score
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
        |ORDER BY score DESC, id_a, id_b""".stripMargin),

    // GDPR-style takedown from a PERSISTED gate layout, oracled
    // end-to-end (VERDICT r11 #3): the same gate feed as
    // s_dedup_gate_stream builds base + two streamed append segments,
    // then minhashLayoutRemove erases every %7==0 doc across base AND
    // segments. The law under oracle: the surviving state equals a
    // cold build over (base ∪ admitted survivors) minus the removed
    // ids — emitted as each surviving doc's distinct-shingle count so
    // the SQL replay pins the shingle frames too, not just band-row
    // membership.
    QuerySpec("d_takedown_gate", (s, d) => {
      import s.implicits._
      val all = docs(s, d).select("doc_id", "text")
      val dir = tmpDir("graft_dtake_idx")
      val out = tmpDir("graft_dtake_out")
      val ckpt = tmpDir("graft_dtake_ckpt")
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
      Dedup.minhashLayoutRemove(
        s, dir, all.where(F.col("doc_id") % 7 === 0).select("doc_id"))
      val st = Dedup.minhashIndexLoadWithAppends(s, dir)
      st.refShingles
        .select(F.col("doc_id"),
          F.size(F.array_distinct(F.col("sh"))).as("n_shingles"))
        .orderBy("doc_id")
        .localCheckpoint()
    },
      // takedown replay: the state after the gate run is base ∪ s1 ∪ s2
      // (the chain above), and minhashLayoutRemove is an EXACT per-doc
      // erasure — so the post-takedown layout is that set minus the
      // removed ids, each doc carrying its distinct-3-gram shingle count
      // (ssh.n), which pins the SHINGLE frames too, not just band-row
      // membership
      s"""WITH $JaccardPairsCte,
        |$GateReplayCtes,
        |st AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 10 = 0
        |  UNION SELECT doc_id FROM s1
        |  UNION SELECT doc_id FROM s2)
        |SELECT st.doc_id, ssh.n AS n_shingles
        |FROM st JOIN ssh ON ssh.doc_id = st.doc_id
        |WHERE st.doc_id % 7 <> 0
        |ORDER BY st.doc_id""".stripMargin),

    QuerySpec("d_ngram_jaccard", (s, d) => {
      // exact word-3-gram Jaccard over bounded pairs (adjacent doc ids
      // within a source) — the verification kernel of the MinHash
      // pipeline, exposed standalone and oracle-checked.
      val base = docs(s, d)
        .where(F.size(graft.operators.TextOps.tokens(F.col("text"))) >= 3)
        .select(
          F.col("doc_id"), F.col("source"),
          Dedup.shingles(F.col("text"), 3).as("sh"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      val ranked = base.withColumn("rn", F.row_number().over(w))
      val a = ranked.select(
        F.col("source"), F.col("rn"),
        F.col("doc_id").as("doc_a"), F.col("sh").as("sh_a"))
      val b = ranked.select(
        F.col("source"), (F.col("rn") - 1).as("rn"),
        F.col("doc_id").as("doc_b"), F.col("sh").as("sh_b"))
      a.join(b, Seq("source", "rn"))
        .select(
          F.col("doc_a"), F.col("doc_b"),
          F.round(
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double") /
              F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))), 4).as("jaccard"))
        .orderBy("doc_a")
    },
      """WITH base AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, len(string_split_regex(trim(text), '\s+')) - 1),
        |      i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
        |           string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
        |           string_split_regex(trim(text), '\s+')[i+2])) AS sh
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |    AS rn
        |  FROM base)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
        |    AS jaccard
        |FROM ranked a JOIN ranked b
        |  ON a.source = b.source AND b.rn = a.rn + 1
        |ORDER BY doc_a""".stripMargin),

    // corpus snapshot diff: deterministic "next drop" derived from the
    // corpus (drop %7, edit %5, add shifted ids), statuses by
    // normalized-content fingerprint over one full-outer join
    QuerySpec("d_corpus_diff", (s, d) => {
      val all = docs(s, d).select("doc_id", "text")
      val k = F.col("doc_id")
      val newDocs = all.where(k % 7 =!= 0)
        .withColumn("text",
          F.when(k % 5 === 0, F.concat(F.col("text"), F.lit(" revised")))
            .otherwise(F.col("text")))
        .unionByName(all.where(k % 11 === 3)
          .select((k + 1000000L).as("doc_id"), F.col("text")))
      graft.operators.Cdc.corpusDiff(all, newDocs)
    },
      // snapshot-diff replay: same derived "next drop", same normalized
      // fingerprint as d_exact_groups, statuses off one full-outer join
      """WITH oldd AS (SELECT doc_id, text FROM documents),
        |newd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' revised'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 11 = 3),
        |fo AS (SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM oldd),
        |fn AS (SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM newd)
        |SELECT coalesce(fo.doc_id, fn.doc_id) AS doc_id,
        |  CASE WHEN fo.doc_id IS NULL THEN 'added'
        |       WHEN fn.doc_id IS NULL THEN 'removed'
        |       WHEN fo.fp <> fn.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM fo FULL OUTER JOIN fn ON fo.doc_id = fn.doc_id
        |ORDER BY doc_id""".stripMargin)
  )
}
