package graft.queries

import graft.operators.{TextOps, TrainPrep}
import org.apache.spark.sql.{functions => F}
import graft.queries.QueryLib._

/** Text analysis and training-data preparation: quality rules,
  * language id, tokenizers, language models, packing and mixing. */
private[graft] object TextQueries {

  /** A word's BPE symbol state as a SEPARATOR STRING: every symbol
    * wrapped in double '|' boundaries ('ab' → '||a||b||</w>||'). With
    * doubled separators, ONE SQL `replace(state, '|l||r|', '|lr|')` is
    * bit-exactly the engine's single left-to-right merge pass: each
    * match consumes one '|' from each flanking boundary, so the
    * replacement's trailing '|' plus the leftover '|' restore the
    * double boundary and an immediately-adjacent occurrence still
    * matches as the scan resumes — the single-separator encoding
    * instead eats the next occurrence's left boundary and merges pairs
    * the engine's pass order would not (verified against an
    * independent replay on sf0.01: single-'|' diverges, double-'|'
    * matches every doc). '|' cannot collide: corpus text is tokenized
    * on whitespace and merged symbols concatenate token chars +
    * '</w>', none of which is '|'.
    */
  private def bpeSymState(col: String): String =
    s"'||' || array_to_string(string_split($col, ''), '||') || '||</w>||'"

  /** Unrolled BPE merge training for the DuckDB oracle (VERDICT r7 #4
    * closed: the two t_bpe_* rows were the only queries outside the
    * oracle harness). Each round is pair-counting over the
    * list-split states, argmax by (count DESC, left ASC, right ASC) —
    * the engine's deterministic tie order — and the doubled-separator
    * replace above as the merge pass. Every CTE is MATERIALIZED:
    * w`i` is referenced by both p`i+1` and w`i+1`, so inlining would
    * re-derive the chain exponentially. Ends in
    * mg(rank, l, r, merged, c).
    */
  private def bpeTrainCtes(numMerges: Int): String = {
    val parts = Seq.newBuilder[String]
    // string_split_regex(trim(text), '\s+') mirrors the engine's
    // split(trim(text), "\\s+") exactly (single-space split would
    // silently diverge on any tab/newline in document text)
    parts += ("words AS MATERIALIZED (SELECT t AS word, " +
      "CAST(count(*) AS BIGINT) AS n FROM (" +
      "SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), " +
      "x -> x <> '')) AS t FROM documents WHERE text IS NOT NULL) GROUP BY 1)")
    parts += s"w0 AS MATERIALIZED (SELECT n, ${bpeSymState("word")} AS state FROM words)"
    (0 until numMerges).foreach { i =>
      parts += (s"p$i AS MATERIALIZED (SELECT p.l AS l, p.r AS r, " +
        "CAST(sum(n) AS BIGINT) AS c FROM (" +
        "SELECT n, unnest([{'l': s[j], 'r': s[j+1]} for j in range(1, len(s))]) AS p FROM (" +
        s"SELECT n, list_filter(string_split(state, '|'), x -> x <> '') AS s FROM w$i)" +
        ") GROUP BY 1, 2)")
      parts += s"b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1)"
      parts += (s"w${i + 1} AS MATERIALIZED (SELECT n, replace(state, " +
        "'|' || b.l || '||' || b.r || '|', '|' || b.l || b.r || '|') AS state " +
        s"FROM w$i, b$i b)")
    }
    val mg = (0 until numMerges)
      .map(i => s"SELECT $i AS rank, l, r, l || r AS merged, c FROM b$i")
      .mkString(" UNION ALL ")
    parts += s"mg AS MATERIALIZED ($mg)"
    parts.result().mkString(",\n")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_text_stats", (s, d) =>
      TextOps.textStats(docs(s, d)).orderBy("doc_id"),
      """SELECT doc_id,
        |  length(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  length(text) AS n_chars,
        |  length(regexp_replace(text, '\s', '', 'g')) AS n_chars_nospace,
        |  round(length(regexp_replace(text, '\s', '', 'g'))::DOUBLE
        |    / length(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len,
        |  CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT) AS bpe_est
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_text_quality", (s, d) =>
      TextOps.textQuality(docs(s, d)).orderBy("doc_id"),
      """SELECT doc_id,
        |  round(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))::DOUBLE
        |    / length(text), 4) AS vowel_ratio,
        |  round((length(text) - length(regexp_replace(text, '\s', '', 'g')))::DOUBLE
        |    / length(text), 4) AS space_ratio,
        |  round(length(string_split_regex(trim(text), '\s+'))::DOUBLE * 100.0
        |    / length(text), 4) AS token_density,
        |  round(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))::DOUBLE
        |      / length(text) * 2.0
        |    + length(string_split_regex(trim(text), '\s+'))::DOUBLE * 10.0
        |      / length(text), 4) AS quality_score
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // Gopher/MassiveText rules: integer signals + one verdict column;
    // passes cast to INT so both engines hash 0/1 identically
    QuerySpec("t_gopher_rules", (s, d) =>
      TextOps.gopherFlags(docs(s, d))
        .withColumn("passes", F.col("passes").cast("int"))
        .orderBy("doc_id"),
      // Gopher rules replay: same integer counts, same cross-multiplied
      // thresholds — no float ratio anywhere, so the verdict is
      // bit-stable by construction
      """WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    coalesce(len(toks), 0)::BIGINT AS n_words,
        |    coalesce(length(regexp_replace(text, '\s', '', 'g')), 0)::BIGINT
        |      AS n_word_chars,
        |    coalesce(len(lines), 0)::BIGINT AS n_lines,
        |    coalesce(len(list_filter(lines,
        |      l -> regexp_matches(trim(l), '^[-*•]'))), 0)::BIGINT
        |      AS n_bullet_lines,
        |    coalesce(len(list_filter(lines,
        |      l -> regexp_matches(rtrim(l), '\.\.\.$'))), 0)::BIGINT
        |      AS n_ellipsis_lines,
        |    coalesce(len(list_filter(toks,
        |      t -> regexp_matches(t, '[A-Za-z]'))), 0)::BIGINT
        |      AS n_alpha_words,
        |    coalesce(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      w -> list_contains(list_transform(toks, t -> lower(t)), w))),
        |      0)::BIGINT AS n_stopwords,
        |    (coalesce(len(regexp_extract_all(text, '#')), 0)
        |      + coalesce(len(regexp_extract_all(text, '\.\.\.')), 0))::BIGINT
        |      AS n_symbols
        |  FROM base)
        |SELECT doc_id, n_words, n_word_chars, n_lines, n_bullet_lines,
        |  n_ellipsis_lines, n_alpha_words, n_stopwords, n_symbols,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10
        |    AND n_symbols * 10 <= n_words
        |    AND n_bullet_lines * 10 < n_lines * 9
        |    AND n_ellipsis_lines * 10 < n_lines * 3
        |    AND n_alpha_words * 5 >= n_words * 4
        |    AND n_stopwords >= 2)::INT AS passes
        |FROM c
        |ORDER BY doc_id""".stripMargin),

    // C4 line-level cleaning: the corpus is single-line word salad, so
    // the query first derives a structured page deterministically
    // (terminal punctuation + newline after every 8th word, plus
    // injected boilerplate/lorem/brace lines on fixed doc_id strata so
    // every rule actually fires), then runs the operator; the oracle
    // replays both the derivation and the rules
    QuerySpec("t_c4_rules", (s, d) => {
      val structured =
        F.regexp_replace(F.col("text"), "((?:\\S+ ){7}\\S+) ", "$1.\n")
      val withJs = F.when(F.col("doc_id") % 5 === 2,
          F.concat(
            F.lit("javascript cookies enable your browser please.\n"),
            structured))
        .otherwise(structured)
      val withLorem = F.when(F.col("doc_id") % 7 === 0,
          F.concat(withJs, F.lit("\nlorem ipsum dolor sit amet friend.")))
        .otherwise(withJs)
      val withBrace = F.when(F.col("doc_id") % 11 === 3,
          F.concat(withLorem, F.lit("\nif (x) { return y; }")))
        .otherwise(withLorem)
      TextOps.c4Clean(docs(s, d).select(F.col("doc_id"), withBrace.as("text")))
        .withColumn("has_lorem", F.col("has_lorem").cast("int"))
        .withColumn("has_brace", F.col("has_brace").cast("int"))
        .withColumn("passes", F.col("passes").cast("int"))
        .orderBy("doc_id")
    },
      // C4 replay: same page derivation (RE2 \1 backref + 'g' flag where
      // Spark replaces globally by default), same line keep-rules, same
      // doc flags
      """WITH prep AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1.' || chr(10), 'g')
        |      AS s
        |  FROM documents),
        |prep2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 2
        |    THEN 'javascript cookies enable your browser please.'
        |      || chr(10) || s
        |    ELSE s END AS s FROM prep),
        |prep3 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN s || chr(10) || 'lorem ipsum dolor sit amet friend.'
        |    ELSE s END AS s FROM prep2),
        |src AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 3
        |    THEN s || chr(10) || 'if (x) { return y; }'
        |    ELSE s END AS t FROM prep3),
        |k AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |    list_filter(string_split(t, chr(10)),
        |      x -> regexp_matches(rtrim(x), '[.!?"]$')
        |        AND len(string_split_regex(trim(x), '\s+')) >= 5
        |        AND NOT regexp_matches(lower(x), 'javascript')) AS kept
        |  FROM src),
        |o AS (
        |  SELECT doc_id,
        |    array_to_string(kept, chr(10)) AS text_clean,
        |    len(lines)::BIGINT AS n_lines,
        |    len(kept)::BIGINT AS n_lines_kept,
        |    coalesce(len(regexp_extract_all(
        |      array_to_string(kept, chr(10)), '[.!?]')), 0)::BIGINT
        |      AS n_sentences,
        |    regexp_matches(lower(t), 'lorem ipsum') AS has_lorem,
        |    regexp_matches(t, '\{') AS has_brace
        |  FROM k)
        |SELECT doc_id, text_clean, n_lines, n_lines_kept, n_sentences,
        |  has_lorem::INT AS has_lorem, has_brace::INT AS has_brace,
        |  (NOT has_lorem AND NOT has_brace AND n_sentences >= 3)::INT
        |    AS passes
        |FROM o
        |ORDER BY doc_id""".stripMargin),

    // BPE merge training — fully oracled in r8 (previously the one
    // rows-only query pair): the DuckDB side re-derives the 30 merges
    // from the corpus via unrolled pair-count/argmax/merge rounds
    // (bpeTrainCtes); the exact merge sequence is ALSO spec-pinned on
    // the Sennrich reference corpus
    QuerySpec("t_bpe_merges", (s, d) =>
      TextOps.bpeTrain(docs(s, d), numMerges = 30).orderBy("rank"),
      // full independent replay of BPE merge training (r8 — these two
      // were the only queries outside the oracle harness): DuckDB
      // re-derives the 30 merges from the parquet corpus itself via the
      // unrolled pair-count/argmax/merge rounds in bpeTrainCtes. NOTE:
      // no blanket AS MATERIALIZED rewrite here — the generated CTEs
      // carry their own MATERIALIZED, and the encode oracle's recursive
      // member must stay plain.
      (s"""WITH ${bpeTrainCtes(30)}
          |SELECT rank, l AS "left", r AS "right", merged,
          |  c AS pair_count
          |FROM mg ORDER BY rank""".stripMargin)),

    // the encode pass over the learned merges; the oracle replays the
    // greedy lowest-rank loop per distinct word with a recursive CTE
    // over the same re-derived merge table
    QuerySpec("t_bpe_encode", (s, d) => {
      val all = docs(s, d)
      TextOps.bpeApply(all, TextOps.bpeTrain(all, numMerges = 30))
        .orderBy("doc_id")
    },
      // greedy encode replay: per distinct word, a recursive CTE applies
      // the LOWEST-rank merge present in the state (one doubled-separator
      // replace = one engine merge pass — see bpeSymState) until none
      // applies; terminal states join back to the docs' word sequence
      (s"""WITH RECURSIVE ${bpeTrainCtes(30)},
          |init AS MATERIALIZED (SELECT word,
          |  ${bpeSymState("word")} AS state FROM words),
          |enc AS (
          |  SELECT word, state FROM init
          |  UNION ALL
          |  SELECT x.word, replace(x.state,
          |    '|' || mm.l || '||' || mm.r || '|',
          |    '|' || mm.l || mm.r || '|')
          |  FROM (
          |    SELECT e.word, e.state,
          |      (SELECT min(m.rank) FROM mg m
          |       WHERE position('|' || m.l || '||' || m.r || '|' IN e.state) > 0)
          |        AS br
          |    FROM enc e) x
          |  JOIN mg mm ON mm.rank = x.br
          |),
          |term AS MATERIALIZED (
          |  SELECT word,
          |    list_filter(string_split(state, '|'), x -> x <> '') AS syms
          |  FROM enc e
          |  WHERE NOT EXISTS (SELECT 1 FROM mg m
          |    WHERE position('|' || m.l || '||' || m.r || '|' IN e.state) > 0)),
          |wp AS MATERIALIZED (SELECT word, array_to_string(syms, ' ') AS piece,
          |  CAST(len(syms) AS BIGINT) AS np FROM term),
          |docw AS MATERIALIZED (
          |  SELECT doc_id, t.i AS pos, t.w AS word FROM (
          |    SELECT doc_id,
          |      unnest([{'i': j, 'w': s[j]} for j in range(1, len(s)+1)]) AS t
          |    FROM (SELECT doc_id, list_filter(
          |      string_split_regex(trim(text), '\\s+'), x -> x <> '') AS s
          |      FROM documents WHERE text IS NOT NULL))),
          |agg AS MATERIALIZED (
          |  SELECT d.doc_id, string_agg(w.piece, ' ' ORDER BY d.pos) AS pieces,
          |    CAST(sum(w.np) AS BIGINT) AS n_pieces,
          |    CAST(count(*) AS BIGINT) AS n_words
          |  FROM docw d JOIN wp w USING (word) GROUP BY d.doc_id)
          |SELECT doc.doc_id, coalesce(a.pieces, '') AS pieces,
          |  coalesce(a.n_pieces, 0) AS n_pieces,
          |  coalesce(a.n_words, 0) AS n_words
          |FROM documents doc LEFT JOIN agg a USING (doc_id)
          |ORDER BY doc.doc_id""".stripMargin)),

    QuerySpec("t_vocab", (s, d) =>
      TextOps.vocab(docs(s, d), 50),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM tok GROUP BY token
        |ORDER BY n_occurrences DESC, token ASC
        |LIMIT 50""".stripMargin),

    // φ-heavy hitters WITHOUT shuffling the token stream: per-partition
    // Misra-Gries candidates (complete for count >= φN by pigeonhole),
    // exact verify counts on the broadcast candidate set only
    QuerySpec("t_heavy_tokens", (s, d) =>
      TextOps.heavyTokens(docs(s, d), phi = 0.002),
      // heavy-hitter replay: the OUTPUT contract is partitioning-free
      // (exactly the tokens with count >= ceil(φN), exact counts), so
      // the oracle ignores the Misra-Gries candidate stage entirely
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS t FROM tok)
        |SELECT token, count(*) AS n,
        |  round(count(*) / any_value(tot.t), 4) AS share
        |FROM tok CROSS JOIN tot
        |GROUP BY token
        |HAVING count(*) >= ceil(0.002 * any_value(tot.t))
        |ORDER BY n DESC, token ASC""".stripMargin),

    // segment-level language mixture: per-line langId cascade, modal
    // language, distinct non-unk count, mixed flag — the doc-level
    // classifier's blind spot in multilingual curation
    QuerySpec("t_lang_mix", (s, d) =>
      TextOps.langMix(docs(s, d)),
      // line-level cascade replay: newline split, blank lines dropped,
      // the t_lang_id CASE per line, modal language via row_number
      """WITH lines AS (
        |  SELECT doc_id, l FROM (
        |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE trim(l) <> ''),
        |ll AS (SELECT doc_id,
        |  CASE
        |    WHEN list_contains(string_split_regex(trim(l), '\s+'), 'the')
        |      OR list_contains(string_split_regex(trim(l), '\s+'), 'and') THEN 'en'
        |    WHEN list_contains(string_split_regex(trim(l), '\s+'), 'der')
        |      OR list_contains(string_split_regex(trim(l), '\s+'), 'und') THEN 'de'
        |    WHEN list_contains(string_split_regex(trim(l), '\s+'), 'le')
        |      OR list_contains(string_split_regex(trim(l), '\s+'), 'et') THEN 'fr'
        |    WHEN list_contains(string_split_regex(trim(l), '\s+'), 'el')
        |      OR list_contains(string_split_regex(trim(l), '\s+'), 'y') THEN 'es'
        |    WHEN list_contains(string_split_regex(trim(l), '\s+'), '的') THEN 'zh'
        |    ELSE 'unk'
        |  END AS lang FROM lines),
        |counts AS (SELECT doc_id, lang, count(*) AS cnt
        |  FROM ll GROUP BY doc_id, lang),
        |prim AS (SELECT doc_id, lang AS primary_lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY cnt DESC, lang ASC) AS rn
        |  FROM counts) WHERE rn = 1),
        |agg AS (SELECT doc_id, count(*) AS n_lines,
        |  count(DISTINCT CASE WHEN lang <> 'unk' THEN lang END) AS n_langs
        |  FROM ll GROUP BY doc_id)
        |SELECT a.doc_id, a.n_lines, p.primary_lang, a.n_langs,
        |  (a.n_langs >= 2)::INT AS mixed
        |FROM agg a JOIN prim p USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin),

    // robust per-source outlier trim: modified z-score on exact
    // medians (Iglewicz-Hoaglin 0.6745·(v−med)/MAD, cut 3.5) — the
    // heavy-tail-immune length cut; swap approx_percentile at 100 TB
    QuerySpec("t_mad_outliers", (s, d) =>
      TextOps.madOutliers(docs(s, d)),
      // modified-z replay: exact interpolated medians (quantile_cont =
      // Spark's percentile), outlier flag computed on the ROUNDED mz —
      // the engine's convention, so boundary values can't hash-split
      """WITH base AS (SELECT doc_id, source AS stratum,
        |  CAST(n_chars AS DOUBLE) AS v FROM documents),
        |med AS (SELECT stratum, quantile_cont(v, 0.5) AS med
        |  FROM base GROUP BY stratum),
        |dev AS (SELECT b.doc_id, b.stratum, b.v, m.med,
        |  abs(b.v - m.med) AS ad FROM base b JOIN med m USING (stratum)),
        |mad AS (SELECT stratum, quantile_cont(ad, 0.5) AS mad
        |  FROM dev GROUP BY stratum),
        |mz AS (SELECT d.doc_id, d.stratum, d.v,
        |  round(CASE WHEN m.mad = 0 THEN 0.0
        |    ELSE 0.6745 * (d.v - d.med) / m.mad END, 4) AS mz
        |  FROM dev d JOIN mad m USING (stratum))
        |SELECT doc_id, stratum, v, mz,
        |  (abs(mz) > 3.5)::INT AS is_outlier
        |FROM mz ORDER BY doc_id""".stripMargin),

    QuerySpec("t_corpus_report", (s, d) =>
      // one-row corpus health report — the observability aggregate a
      // pipeline runs before/after every filter stage: volume, token
      // mass, exact length quantiles, source/lang diversity. One
      // partially-aggregated pass; exact percentile is fine HERE
      // because the report is one global row, not per-group state
      docs(s, d)
        .select(
          F.col("doc_id"), F.col("source"), F.col("lang"),
          F.coalesce(
            F.size(TextOps.tokens(F.col("text"))).cast("long"),
            F.lit(0L)).as("n_tokens"))
        .agg(
          F.count(F.lit(1)).as("n_docs"),
          F.sum("n_tokens").as("total_tokens"),
          F.round(F.avg("n_tokens"), 4).as("avg_tokens"),
          F.round(F.expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
          F.round(F.expr("percentile(n_tokens, 0.95)"), 4).as("p95_tokens"),
          F.countDistinct("source").as("n_sources"),
          F.countDistinct("lang").as("n_langs")),
      """WITH l AS (
        |  SELECT source, lang,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS n_tokens
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  round(avg(n_tokens), 4) AS avg_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
        |  round(quantile_cont(n_tokens, 0.95), 4) AS p95_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  count(DISTINCT lang) AS n_langs
        |FROM l""".stripMargin),

    QuerySpec("t_encode_tokens", (s, d) => {
      // corpus-derived top-100 vocab ranked (count desc, token asc) →
      // ids 0..99, then the broadcast map-only encode; unk = -1. The
      // rank window runs on the 100-row vocab frame, not the corpus.
      import org.apache.spark.sql.expressions.Window
      val v = TextOps.vocab(docs(s, d), 100).select(
        F.col("token"),
        (F.row_number().over(
          Window.orderBy(F.col("n_occurrences").desc, F.col("token").asc))
          - 1).cast("long").as("id"))
      TextOps.encodeTokens(docs(s, d), v, unkId = -1L).orderBy("doc_id")
    },
      // same vocab ranking as the engine (count desc, token asc → ids
      // 0..99), then per-token LEFT JOIN with coalesce(id, -1); the
      // documents LEFT JOIN keeps null-text docs as ('', 0, 0) to mirror
      // the engine's null-text row
      """WITH voc AS (
        |  SELECT token,
        |    row_number() OVER (ORDER BY n_occurrences DESC, token ASC)
        |      - 1 AS id
        |  FROM (
        |    SELECT token, count(*) AS n_occurrences
        |    FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |            AS token FROM documents)
        |    GROUP BY token
        |    ORDER BY n_occurrences DESC, token ASC LIMIT 100)),
        |tok AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS pos,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |enc AS (
        |  SELECT t.doc_id,
        |    string_agg(coalesce(v.id, -1)::VARCHAR, ' ' ORDER BY t.pos)
        |      AS ids,
        |    count(*)::BIGINT AS n_tokens,
        |    sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
        |  FROM tok t LEFT JOIN voc v ON v.token = t.token
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(e.ids, '') AS ids,
        |  coalesce(e.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(e.n_oov, 0)::BIGINT AS n_oov
        |FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("t_lang_dist", (s, d) =>
      docs(s, d).groupBy("lang")
        .agg(
          F.count(F.lit(1)).as("n_docs"),
          F.round(F.avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang"),
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),

    QuerySpec("t_fingerprint", (s, d) =>
      docs(s, d)
        .select(F.col("doc_id"), TextOps.fingerprint(F.col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // C4-style cross-corpus dedup at 2-token-segment granularity (the
    // testdata has no newlines, so segments stand in for lines)
    QuerySpec("t_line_dedup", (s, d) =>
      TextOps.dedupLines(docs(s, d), minCount = 2, segmentTokens = Some(2))
        .orderBy("doc_id"),
      // replay of dedupLines at 2-token-segment granularity: the oracle
      // may use the skew-prone row_number() form the operator avoids —
      // first occurrence by (doc_id, pos) is the same keeper either way
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(t[(i-1)*2+1 : (i-1)*2+2], ' ') AS line
        |  FROM (
        |    SELECT doc_id, t,
        |      unnest(generate_series(1, CAST(ceil(len(t) / 2.0) AS BIGINT))) AS i
        |    FROM toks)),
        |marked AS (
        |  SELECT doc_id, pos, line,
        |    count(*) OVER (PARTITION BY line) AS c,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM lines)
        |SELECT doc_id,
        |  sum(CASE WHEN c < 2 OR rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN c >= 2 AND rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
        |  md5(coalesce(
        |    string_agg(CASE WHEN c < 2 OR rn = 1 THEN line END, ' '
        |               ORDER BY pos), '')) AS clean_md5
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("t_bm25", (s, d) =>
      TextOps.bm25TopK(docs(s, d), Seq("spark", "vector", "stream"), 10),
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
        |        FROM tf GROUP BY token) d, corpus c)
        |SELECT tf.doc_id,
        |  round(sum(idf.idf * tf.tf * 2.2 /
        |    (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))), 6) AS score
        |FROM tf
        |JOIN idf USING (token)
        |JOIN dl USING (doc_id), corpus c
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 10""".stripMargin),

    QuerySpec("t_ngram_counts", (s, d) =>
      TextOps.ngramCounts(docs(s, d), n = 3, k = 30),
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(t[i : i+2], ' ') AS ngram
        |  FROM (
        |    SELECT doc_id, t,
        |      unnest(generate_series(1, len(t) - 2)) AS i
        |    FROM toks))
        |SELECT ngram, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY ngram
        |ORDER BY n_occurrences DESC, ngram ASC
        |LIMIT 30""".stripMargin),

    // CCNet-style LM quality scores: unigram LM trained on the corpus
    // itself here (self-scoring ranks fluency within the corpus); the
    // cross-corpus shape (train on trusted, score crawl) is the same
    // operator with a different lmCorpus. Rounded at presentation
    // time so the operator's raw double stays reusable.
    QuerySpec("t_unigram_lm", (s, d) =>
      TextOps.unigramLogProb(docs(s, d), docs(s, d))
        .select(F.col("doc_id"), F.col("n_tokens"),
          F.round(F.col("bits_per_token"), 6).as("bits_per_token"))
        .orderBy("doc_id"),
      // add-one-smoothed unigram LM replay: denom = N + V + 1 (one OOV
      // bucket); self-scoring means no OOV here, but the join form keeps
      // the oracle honest about the per-token probability
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*)::DOUBLE AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) + count(*) + 1 AS denom FROM cnt),
        |sc AS (
        |  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        |    avg(-log2((cnt.c + 1) / tot.denom)) AS bits
        |  FROM tok t JOIN cnt USING (token), tot
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
        |  round(coalesce(s.bits, 0), 6) AS bits_per_token
        |FROM documents d LEFT JOIN sc s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // interpolated bigram LM (Jelinek-Mercer λ=0.7): the next rung of
    // the cheap fluency ladder — ML bigram backed off into the add-one
    // unigram, first token unigram-only, self-scored like t_unigram_lm
    QuerySpec("t_bigram_lm", (s, d) =>
      TextOps.bigramLogProb(docs(s, d), docs(s, d), lambda = 0.7)
        .select(F.col("doc_id"), F.col("n_tokens"),
          F.round(F.col("bits_per_token"), 6).as("bits_per_token"))
        .orderBy("doc_id"),
      // bigram-LM replay: positions via generate_subscripts, pair
      // counts from a self-join on (doc, i+1), lag() for the left word,
      // the same λ·p2 + (1−λ)·p1 arithmetic with (1 - 0.7) computed in
      // SQL so both engines share the identical double
      """WITH tl AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(t, 1) AS i,
        |  unnest(t) AS token FROM tl),
        |cnt AS (SELECT token, count(*)::DOUBLE AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) + count(*) + 1 AS denom FROM cnt),
        |bg AS (SELECT a.token AS pw, b.token AS w, count(*)::DOUBLE AS c
        |  FROM tok a JOIN tok b
        |  ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  GROUP BY a.token, b.token),
        |sc AS (SELECT t.doc_id, t.i, t.token,
        |  lag(t.token) OVER (PARTITION BY t.doc_id ORDER BY t.i) AS pw
        |  FROM tok t),
        |p AS (SELECT s.doc_id,
        |  CASE WHEN s.pw IS NULL THEN (cu.c + 1) / tot.denom
        |    ELSE 0.7 * coalesce(bg.c, 0) / cp.c
        |      + (1 - 0.7) * (cu.c + 1) / tot.denom
        |  END AS prob
        |  FROM sc s
        |  JOIN cnt cu ON cu.token = s.token
        |  LEFT JOIN cnt cp ON cp.token = s.pw
        |  LEFT JOIN bg ON bg.pw = s.pw AND bg.w = s.token
        |  CROSS JOIN tot),
        |agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  avg(-log2(prob)) AS bits FROM p GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        |  round(coalesce(a.bits, 0), 6) AS bits_per_token
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // DSIR importance weights: every 20th doc plays the target domain,
    // the rest the raw pool; 512 hash buckets so the oracle replay
    // stays cheap. High logw_bits = looks like the target.
    QuerySpec("t_dsir_weights", (s, d) => {
      val all = docs(s, d)
      TextOps.dsirWeights(
          all,
          all.where(F.col("doc_id") % 20 === 0),
          all.where(F.col("doc_id") % 20 =!= 0),
          buckets = 512)
        .select(F.col("doc_id"), F.col("n_grams"),
          F.round(F.col("logw_bits"), 6).as("logw_bits"))
        .orderBy("doc_id")
    },
      // DSIR replay: hashed unigram+bigram buckets (same first-8-hex md5
      // convention), add-one smoothing over the bucket range on both the
      // target and raw multinomials, per-doc sum of the log-ratio
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_concat(t,
        |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
        |    AS g
        |  FROM toks),
        |gb AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS b
        |  FROM grams),
        |tc AS (SELECT b, count(*)::DOUBLE AS c FROM gb
        |       WHERE doc_id % 20 = 0 GROUP BY b),
        |rc AS (SELECT b, count(*)::DOUBLE AS c FROM gb
        |       WHERE doc_id % 20 <> 0 GROUP BY b),
        |tn AS (SELECT coalesce(sum(c), 0) + 512 AS denom FROM tc),
        |rn AS (SELECT coalesce(sum(c), 0) + 512 AS denom FROM rc),
        |delta AS (
        |  SELECT gb.doc_id,
        |    log2((coalesce(tc.c, 0) + 1) / tn.denom) -
        |    log2((coalesce(rc.c, 0) + 1) / rn.denom) AS dlt
        |  FROM gb LEFT JOIN tc USING (b) LEFT JOIN rc USING (b), tn, rn),
        |sc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_grams, sum(dlt) AS s
        |  FROM delta GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
        |  round(coalesce(sc.s, 0), 6) AS logw_bits
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // fastText-style router, honest split: NB trained on the even half
    // (lang labels), scores the odd half it never saw. margin_bits is
    // the routing confidence a pipeline thresholds on.
    QuerySpec("t_nb_classify", (s, d) => {
      val all = docs(s, d)
      val train = all.where(F.col("doc_id") % 2 === 0)
      val test = all.where(F.col("doc_id") % 2 =!= 0)
      TextOps.nbClassify(test, train, "lang")
        .select(F.col("doc_id"), F.col("pred_label"), F.col("n_tokens"),
          F.round(F.col("margin_bits"), 6).as("margin_bits"))
        .orderBy("doc_id")
    },
      // multinomial NB replay: per-label add-one smoothing over the
      // GLOBAL training vocab + one OOV bucket; argmax ties broken by
      // label asc; margin = top1 - top2 score in bits
      """WITH lab AS (
        |  SELECT doc_id, lang AS label, text FROM documents
        |  WHERE doc_id % 2 = 0),
        |ltok AS (
        |  SELECT label,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM lab),
        |cnt AS (
        |  SELECT label, token, count(*)::DOUBLE AS c
        |  FROM ltok GROUP BY 1, 2),
        |nl AS (SELECT label, sum(c) AS n FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM cnt),
        |prior AS (SELECT label, count(*)::DOUBLE AS d FROM lab GROUP BY 1),
        |tot AS (SELECT sum(d) AS dd FROM prior),
        |test AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0),
        |stok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM test WHERE text IS NOT NULL),
        |tokscore AS (
        |  SELECT s.doc_id, p.label,
        |    sum(log2((coalesce(cnt.c, 0) + 1)
        |      / (coalesce(nl.n, 0) + v.v + 1))) AS tokbits,
        |    count(*) AS n_tokens
        |  FROM stok s CROSS JOIN prior p CROSS JOIN v
        |  LEFT JOIN nl ON nl.label = p.label
        |  LEFT JOIN cnt ON cnt.label = p.label AND cnt.token = s.token
        |  GROUP BY s.doc_id, p.label, nl.n, v.v),
        |scored AS (
        |  SELECT t.doc_id, p.label,
        |    log2(p.d / tot.dd) + coalesce(ts.tokbits, 0) AS score,
        |    coalesce(ts.n_tokens, 0) AS n_tokens
        |  FROM test t CROSS JOIN prior p CROSS JOIN tot
        |  LEFT JOIN tokscore ts
        |    ON ts.doc_id = t.doc_id AND ts.label = p.label),
        |ranked AS (
        |  SELECT doc_id, label, score, n_tokens,
        |    row_number() OVER w AS rk,
        |    score - lead(score) OVER w AS margin
        |  FROM scored
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, label ASC))
        |SELECT doc_id, label AS pred_label, n_tokens::BIGINT AS n_tokens,
        |  round(coalesce(margin, 0), 6) AS margin_bits
        |FROM ranked WHERE rk = 1
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_length_batches", (s, d) =>
      TrainPrep.lengthBucketBatches(docs(s, d), width = 16, batchSize = 8)
        .orderBy("doc_id"),
      // coalesce mirrors the engine's null-text = 0 tokens (same parity
      // rule as t_pack_shards/t_pack_greedy): without it a null doc rows
      // out as NULL n_tokens/bucket while the engine emits 0
      """WITH l AS (
        |  SELECT doc_id,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens, (n_tokens // 16)::BIGINT AS bucket,
        |    row_number() OVER (
        |      PARTITION BY n_tokens // 16 ORDER BY doc_id) AS rn
        |  FROM l)
        |SELECT doc_id, n_tokens, bucket,
        |  ((rn - 1) // 8)::BIGINT AS batch_idx,
        |  ((rn - 1) % 8)::BIGINT AS pos_in_batch
        |FROM b ORDER BY doc_id""".stripMargin),

    // T5 span corruption: deterministic block-hash masking (a pure
    // function of (doc_id, position) — reproducible on any layout)
    QuerySpec("t_span_corrupt", (s, d) =>
      TrainPrep.spanCorrupt(docs(s, d)).orderBy("doc_id"),
      // span-corruption replay: same md5 block/length convention as
      // hashBucket (first-8-hex unsigned), 1-based list_slice windows,
      // sentinel rank = selected blocks before j, terminal sentinel
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |blk AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS j
        |  FROM base),
        |sel AS (
        |  SELECT doc_id, t, j,
        |    least(8, len(t) - j*8) AS bc,
        |    ('0x' || substr(md5(doc_id || ':' || j), 1, 8))::BIGINT % 4 = 0
        |      AS s,
        |    least(
        |      1 + ('0x' || substr(md5(doc_id || ':' || j || ':len'), 1, 8))
        |        ::BIGINT % 3,
        |      least(8, len(t) - j*8)) AS l
        |  FROM blk),
        |rk AS (
        |  SELECT *, coalesce(sum(CASE WHEN s THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY doc_id ORDER BY j
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k0
        |  FROM sel),
        |p AS (
        |  SELECT doc_id, j, s,
        |    CASE WHEN NOT s THEN
        |        array_to_string(list_slice(t, j*8+1, j*8+bc), ' ')
        |      WHEN l = bc THEN '<extra_id_' || k0 || '>'
        |      ELSE '<extra_id_' || k0 || '>' || ' ' ||
        |        array_to_string(list_slice(t, j*8+l+1, j*8+bc), ' ')
        |    END AS in_piece,
        |    CASE WHEN s THEN '<extra_id_' || k0 || '>' || ' ' ||
        |      array_to_string(list_slice(t, j*8+1, j*8+l), ' ')
        |    END AS tgt_piece
        |  FROM rk),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN in_piece <> '' THEN in_piece END,
        |      ' ' ORDER BY j) AS input,
        |    string_agg(tgt_piece, ' ' ORDER BY j) AS tgt0,
        |    sum(CASE WHEN s THEN 1 ELSE 0 END) AS nsp
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |    ELSE coalesce(a.input, '') END AS input,
        |  CASE WHEN d.text IS NULL THEN NULL
        |    ELSE (CASE WHEN a.tgt0 IS NULL THEN ''
        |      ELSE a.tgt0 || ' ' END) || '<extra_id_' || a.nsp || '>'
        |  END AS target,
        |  coalesce(a.nsp, 0)::BIGINT AS n_spans
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // CCNet head/middle/tail split by LM-perplexity terciles —
    // self-scored here; the cross-corpus LM shape is the same operator
    QuerySpec("t_ppl_buckets", (s, d) =>
      TextOps.perplexityBuckets(docs(s, d), docs(s, d))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.round(F.avg("bits_per_token"), 6).as("avg_bits"))
        .orderBy("bucket"),
      // perplexity-tercile replay: the t_unigram_lm model, round-6
      // scores, exact interpolated quantiles (quantile_cont ==
      // Spark's percentile), bucket CASE on the same rounded values
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*)::DOUBLE AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) + count(*) + 1 AS denom FROM cnt),
        |sc AS (
        |  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        |    avg(-log2((cnt.c + 1) / tot.denom)) AS bits
        |  FROM tok t JOIN cnt USING (token), tot
        |  GROUP BY t.doc_id),
        |scored AS (
        |  SELECT d.doc_id, round(coalesce(s.bits, 0), 6) AS b
        |  FROM documents d LEFT JOIN sc s USING (doc_id)),
        |cuts AS (
        |  SELECT quantile_cont(b, 1.0/3) AS t1, quantile_cont(b, 2.0/3) AS t2
        |  FROM scored),
        |lab AS (
        |  SELECT CASE WHEN b <= t1 THEN 'head'
        |    WHEN b <= t2 THEN 'middle' ELSE 'tail' END AS bucket, b
        |  FROM scored, cuts)
        |SELECT bucket, count(*) AS n_docs, round(avg(b), 6) AS avg_bits
        |FROM lab GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // FineWeb-style curation funnel: per-stage attrition attribution
    // over the canonical quality chain (first-failing-stage counting,
    // so the columns reconcile: n_in = n_dropped + n_out, chained)
    QuerySpec("t_filter_funnel", (s, d) => {
      val txt = F.col("text")
      val nt = F.size(TextOps.tokens(txt))
      val nsp = F.length(F.regexp_replace(txt, "\\s", "")).cast("double")
      val vow = F.length(
        F.regexp_replace(F.lower(txt), "[^aeiou]", "")).cast("double")
      val lines = F.split(txt, "\n")
      val dupLine = F.lit(1.0) -
        F.size(F.array_distinct(lines)).cast("double") / F.size(lines)
      TextOps.filterFunnel(docs(s, d), Seq(
        "min_tokens" -> (nt >= 10),
        "avg_token_len" -> (nsp / nt <= 12.0),
        "vowel_ratio" -> (vow / F.length(txt) >= 0.2),
        "dup_lines" -> (dupLine <= 0.3)))
    },
      // funnel replay: same predicates as t_quality_filter/t_repetition
      // oracles; first-failing-stage CASE, cumulative via count filters
      """WITH base AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS nt,
        |    length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS nsp,
        |    length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))::DOUBLE
        |      AS vow,
        |    length(text)::DOUBLE AS tlen,
        |    string_split(text, chr(10)) AS ln
        |  FROM documents),
        |fs AS (
        |  SELECT doc_id, CASE
        |    WHEN NOT coalesce(nt >= 10, FALSE) THEN 0
        |    WHEN NOT coalesce(nsp / nt <= 12.0, FALSE) THEN 1
        |    WHEN NOT coalesce(vow / tlen >= 0.2, FALSE) THEN 2
        |    WHEN NOT coalesce(
        |      1.0 - len(list_distinct(ln))::DOUBLE / len(ln) <= 0.3,
        |      FALSE) THEN 3
        |    ELSE 4 END AS f
        |  FROM base)
        |SELECT s.i AS stage_idx, s.name AS stage,
        |  (SELECT count(*) FROM fs WHERE f >= s.i) AS n_in,
        |  (SELECT count(*) FROM fs WHERE f = s.i) AS n_dropped,
        |  (SELECT count(*) FROM fs WHERE f > s.i) AS n_out
        |FROM (VALUES (0, 'min_tokens'), (1, 'avg_token_len'),
        |  (2, 'vowel_ratio'), (3, 'dup_lines')) s(i, name)
        |ORDER BY stage_idx""".stripMargin),

    QuerySpec("t_lang_id", (s, d) =>
      docs(s, d)
        .select(F.col("doc_id"), TextOps.langId(F.col("text")).as("lang_guess"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  CASE
        |    WHEN list_contains(string_split_regex(trim(text), '\s+'), 'the')
        |      OR list_contains(string_split_regex(trim(text), '\s+'), 'and') THEN 'en'
        |    WHEN list_contains(string_split_regex(trim(text), '\s+'), 'der')
        |      OR list_contains(string_split_regex(trim(text), '\s+'), 'und') THEN 'de'
        |    WHEN list_contains(string_split_regex(trim(text), '\s+'), 'le')
        |      OR list_contains(string_split_regex(trim(text), '\s+'), 'et') THEN 'fr'
        |    WHEN list_contains(string_split_regex(trim(text), '\s+'), 'el')
        |      OR list_contains(string_split_regex(trim(text), '\s+'), 'y') THEN 'es'
        |    WHEN list_contains(string_split_regex(trim(text), '\s+'), '的') THEN 'zh'
        |    ELSE 'unk'
        |  END AS lang_guess
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_bpe_tokens", (s, d) =>
      docs(s, d)
        .select(
          F.col("doc_id"),
          TextOps.bpeTokenCount(F.col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) AS INT) AS n_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_quality_filter", (s, d) =>
      TextOps.qualityFilter(docs(s, d))
        .select("doc_id").orderBy("doc_id"),
      """SELECT doc_id FROM documents
        |WHERE len(string_split_regex(trim(text), '\s+')) >= 10
        |  AND length(regexp_replace(text, '\s', '', 'g'))::DOUBLE
        |    / len(string_split_regex(trim(text), '\s+')) <= 12.0
        |  AND length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))::DOUBLE
        |    / length(text) >= 0.2
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_repetition", (s, d) =>
      // Gopher-style repetition filters: dup-line / dup-token
      // fractions + top-bigram occurrence share
      TextOps.repetitionSignals(docs(s, d)).orderBy("doc_id"),
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(text, chr(10)) AS ln,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    round(1.0 - len(list_distinct(ln))::DOUBLE / len(ln), 4)
        |      AS dup_line_frac,
        |    round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 4)
        |      AS dup_token_frac,
        |    t
        |  FROM base),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM sig),
        |top AS (
        |  SELECT doc_id, max(c) AS mx, sum(c) AS nb
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, s.dup_line_frac, s.dup_token_frac,
        |  round(coalesce(mx::DOUBLE / nb, 0.0), 4) AS top_bigram_frac
        |FROM sig s LEFT JOIN top USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin),

    QuerySpec("t_pii_redact", (s, d) => {
      // the synthetic corpus carries no PII, so the query grafts a
      // deterministic email/IP/phone per doc (the oracle builds the
      // SAME string) — the scrub's counts and redacted output are then
      // hash-verified end to end instead of trivially zero
      val pii = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@example.com ip 192.168."), F.col("doc_id") % 256,
        F.lit("."), (F.col("doc_id") * 7) % 256,
        F.lit(" tel +1 (555) 010-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"))
      TextOps.piiScrub(docs(s, d).select(F.col("doc_id"), pii.as("text")))
        .select(
          F.col("doc_id"), F.col("n_emails"), F.col("n_ips"),
          F.col("n_phones"), F.md5(F.col("redacted")).as("red_fp"))
        .orderBy("doc_id")
    },
      // same grafted-PII construction and RE2-safe patterns as the query
      """WITH pii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id ||
        |    '@example.com ip 192.168.' || (doc_id % 256) || '.' ||
        |    ((doc_id * 7) % 256) || ' tel +1 (555) 010-' ||
        |    lpad(doc_id::VARCHAR, 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][-() 0-9]{6,}[0-9]')) AS INT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][-() 0-9]{6,}[0-9]', '<PHONE>', 'g')) AS red_fp
        |FROM pii
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_chunk_windows", (s, d) =>
      // context-window chunking for LLM training: 32-token windows
      // every 24 tokens (8-token overlap); map-only explode, no shuffle
      TrainPrep.chunkTokenWindows(docs(s, d), window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id"),
      // sliding 32-token windows every 24 tokens; DuckDB list slicing is
      // 1-based inclusive and clamps at the list end, mirroring Spark's
      // slice(t, s+1, window)
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, len(t) - 1, 24)) AS s
        |  FROM toks)
        |SELECT doc_id, s // 24 AS chunk_id,
        |  array_to_string(t[s + 1 : least(s + 32, len(t))], ' ') AS chunk_text,
        |  (least(s + 32, len(t)) - s)::BIGINT AS n_tokens
        |FROM starts
        |ORDER BY doc_id, chunk_id""".stripMargin),

    QuerySpec("t_pack_shards", (s, d) =>
      // token-budget shard packing via a two-phase distributed prefix
      // sum (never a global single-partition window)
      TrainPrep.packTokenShards(docs(s, d), budget = 4096)
        .orderBy("doc_id"),
      // global token offset in doc_id order; the engine computes the
      // same prefix sum distributed (two-phase), the oracle as a window
      // coalesce mirrors the engine's null-text = 0 tokens on the ROW
      // (the window sum already skips nulls, but the row's own n_tokens
      // must also agree)
      """WITH counts AS (
        |  SELECT doc_id,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM counts)
        |SELECT doc_id, n_tokens, (before // 4096)::BIGINT AS shard,
        |  (before % 4096)::BIGINT AS "offset"
        |FROM cum
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_pack_greedy", (s, d) =>
      // greedy doc-boundary packing (docs never straddle shards):
      // sequential by definition, distributed via coalescing per-
      // partition transfer summaries; oracle = recursive CTE replay
      // of the same rule
      TrainPrep.packTokenShardsGreedy(docs(s, d), budget = 4096)
        .orderBy("doc_id"),
      // greedy doc-boundary packing: one-doc-per-step recursive replay of
      // the engine's exact break rule (n>0 AND fill>0 AND fill+n>budget)
      """WITH RECURSIVE counts AS (
        |  SELECT doc_id,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS n,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT rn, doc_id, n, 0::BIGINT AS shard, 0::BIGINT AS off,
        |    n AS fill
        |  FROM counts WHERE rn = 1
        |  UNION ALL
        |  SELECT c.rn, c.doc_id, c.n,
        |    CASE WHEN c.n > 0 AND p.fill > 0 AND p.fill + c.n > 4096
        |         THEN p.shard + 1 ELSE p.shard END,
        |    CASE WHEN c.n > 0 AND p.fill > 0 AND p.fill + c.n > 4096
        |         THEN 0 ELSE p.fill END,
        |    CASE WHEN c.n > 0 AND p.fill > 0 AND p.fill + c.n > 4096
        |         THEN c.n ELSE p.fill + c.n END
        |  FROM counts c JOIN packed p ON c.rn = p.rn + 1)
        |SELECT doc_id, n AS n_tokens, shard, off AS "offset"
        |FROM packed ORDER BY doc_id""".stripMargin),

    QuerySpec("t_pack_manifest", (s, d) =>
      // per-shard training manifest over the greedy layout: doc count,
      // token total, layout-ordered doc id list (string-joined)
      TrainPrep.shardManifest(
        TrainPrep.packTokenShardsGreedy(docs(s, d), budget = 4096))
        .orderBy("shard"),
      // manifest over the same recursive replay; string_agg with ORDER BY
      // mirrors the engine's array_sort(collect_list) layout order
      """WITH RECURSIVE counts AS (
        |  SELECT doc_id,
        |    coalesce(len(string_split_regex(trim(text), '\s+')), 0)::BIGINT
        |      AS n,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT rn, doc_id, n, 0::BIGINT AS shard, n AS fill
        |  FROM counts WHERE rn = 1
        |  UNION ALL
        |  SELECT c.rn, c.doc_id, c.n,
        |    CASE WHEN c.n > 0 AND p.fill > 0 AND p.fill + c.n > 4096
        |         THEN p.shard + 1 ELSE p.shard END,
        |    CASE WHEN c.n > 0 AND p.fill > 0 AND p.fill + c.n > 4096
        |         THEN c.n ELSE p.fill + c.n END
        |  FROM counts c JOIN packed p ON c.rn = p.rn + 1)
        |SELECT shard, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens,
        |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
        |FROM packed GROUP BY shard ORDER BY shard""".stripMargin),

    QuerySpec("t_mix_interleave", (s, d) =>
      // weighted corpus mixing: src0 every 2nd position, the rest
      // every 4th; per-stratum ranks via the distributed prefix count
      // (no per-stratum single-task window)
      TrainPrep.interleaveByStratum(
        docs(s, d), F.col("doc_id"), F.col("source"),
        Map("src0" -> 2.0), defaultStride = 4.0)
        .withColumnRenamed("key", "doc_id")
        .orderBy("mix_key", "stratum", "doc_id"),
      // per-source rank stretched by the source's stride (exact binary
      // doubles, so engine and oracle agree bit-for-bit)
      """SELECT doc_id, source AS stratum,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |    * CASE WHEN source = 'src0' THEN 2.0 ELSE 4.0 END AS mix_key
        |FROM documents
        |ORDER BY mix_key, stratum, doc_id""".stripMargin)
  )
}
