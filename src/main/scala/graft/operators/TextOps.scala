package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, and document
  * fingerprinting. All pure column algebra (whole-stage codegen, no
  * UDFs) so they scan-scale linearly — the operators the reference's
  * Python harness performs ad hoc (e.g. reference
  * tests/test_2_CVE_db.py:81-128 JSON field prep) promoted to library
  * kernels, plus the LLM-pipeline surface from SURVEY.md §7.2 step 11.
  */
object TextOps {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = F.split(F.trim(text), "\\s+")

  /** Executor/driver-side replica of [[tokens]]'s EXACT semantics, for
    * compiled loops that must agree with the Column path: Spark's
    * trim() strips 0x20 only (not Java's <= 0x20) and its split() keeps
    * trailing empty tokens (limit -1). Any compiled tokenizer in the
    * engine must go through here so the two paths cannot drift.
    */
  private[graft] def tokensOf(text: String): Array[String] = {
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    text.substring(b, e).split("\\s+", -1)
  }

  /** Spark's `lower` under the default (UTF8_BINARY) collation, without
    * its first-use cost: Spark's own `lower` initializes
    * `CollationAwareUTF8String`, whose static initializer title-cases
    * all 1,114,112 code points (2–3 s inside a fresh JVM's first
    * query). Same result: full-ASCII text lowercases byte-wise, other
    * text through ICU when `spark.sql.icu.caseMappings.enabled` is set
    * and through the JVM's mapping when it is not — Spark's two
    * branches. */
  def lower(text: Column): Column =
    Shim.column(LowerText(Shim.expression(text.cast("string"))))

  private[graft] def lowerOf(s: UTF8String, icu: Boolean): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else if (icu)
      UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))
    else s.toLowerCase

  /** Per-document token/char statistics.
    * Output: (doc_id, n_tokens, n_chars, n_chars_nospace,
    * avg_token_len, bpe_est) where bpe_est is the standard ~4
    * chars/token BPE heuristic.
    */
  def textStats(docs: DataFrame): DataFrame = {
    val t = tokens(F.col("text"))
    val noSpace = F.length(F.regexp_replace(F.col("text"), "\\s", ""))
    docs.select(
      F.col("doc_id"),
      F.size(t).as("n_tokens"),
      F.length(F.col("text")).as("n_chars"),
      noSpace.as("n_chars_nospace"),
      F.round(noSpace.cast("double") / F.size(t), 4).as("avg_token_len"),
      F.ceil(F.length(F.col("text")).cast("double") / 4.0).as("bpe_est")
    )
  }

  /** Per-document quality signals: vowel ratio, whitespace ratio,
    * tokens-per-100-chars density, and a blended quality score.
    */
  def textQuality(docs: DataFrame): DataFrame = {
    val len = F.length(F.col("text")).cast("double")
    val vowels = F.length(F.regexp_replace(lower(F.col("text")), "[^aeiou]", ""))
    val spaces = F.length(F.col("text")) -
      F.length(F.regexp_replace(F.col("text"), "\\s", ""))
    val nTok = F.size(tokens(F.col("text"))).cast("double")
    docs.select(
      F.col("doc_id"),
      F.round(vowels / len, 4).as("vowel_ratio"),
      F.round(spaces / len, 4).as("space_ratio"),
      F.round(nTok * 100.0 / len, 4).as("token_density"),
      F.round((vowels / len) * 2.0 + nTok * 10.0 / len, 4).as("quality_score")
    )
  }

  /** Normalized-text fingerprint: md5 of lowercase,
    * whitespace-collapsed text — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    F.md5(lower(F.regexp_replace(F.trim(text), "\\s+", " ")))

  /** BPE-style pre-tokenization count: runs of letters, runs of
    * digits, or single non-alphanumeric glyphs — the GPT-2 pretoken
    * shape reduced to POSIX classes so it evaluates identically on
    * Java regex (Spark) and RE2 (DuckDB oracle).
    */
  def bpeTokenCount(text: Column): Column =
    F.regexp_count(text, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"))

  /** Keep documents above a quality floor: enough tokens, sane token
    * lengths, and non-degenerate vowel ratio — the standard cheap
    * pre-training filter. Returns the surviving rows of `docs`.
    */
  def qualityFilter(
      docs: DataFrame,
      minTokens: Int = 10,
      maxAvgTokenLen: Double = 12.0,
      minVowelRatio: Double = 0.2): DataFrame = {
    val t = tokens(F.col("text"))
    val noSpace = F.length(F.regexp_replace(F.col("text"), "\\s", ""))
    val vowels = F.length(F.regexp_replace(lower(F.col("text")), "[^aeiou]", ""))
    docs
      .where(F.size(t) >= minTokens)
      .where(noSpace.cast("double") / F.size(t) <= maxAvgTokenLen)
      .where(vowels.cast("double") / F.length(F.col("text")) >= minVowelRatio)
  }

  /** End-of-word marker for [[bpeTrain]] (the Sennrich et al. 2016
    * convention: each word ends in a distinct symbol so merges can't
    * cross word boundaries and detokenization stays invertible). */
  val BpeEndOfWord = "</w>"

  /** A word's initial BPE symbols: one symbol per Unicode CODE POINT
    * plus [[BpeEndOfWord]] — shared by training and encode so the two
    * paths cannot drift. Per-code-point (not per UTF-16 char, which
    * would split a supplementary-plane character into two unpaired
    * surrogate half-symbols) because that is also what the DuckDB
    * oracle's `string_split(w, '')` produces; identical for BMP text.
    */
  private[operators] def bpeSyms(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length + 1)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += BpeEndOfWord
    out.toArray
  }

  /** Code-point lexicographic comparison == binary UTF-8 order — the
    * collation the DuckDB oracle's ORDER BY applies to the merge
    * tie-break. Java's UTF-16 `compareTo` diverges exactly when a
    * supplementary-plane symbol (surrogates 0xD800–0xDFFF) ties
    * against an upper-BMP symbol ≥ U+E000; identical for BMP-only
    * text (every corpus the specs and oracles pin).
    */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private[graft] val CodePointOrdering: Ordering[String] =
    (a: String, b: String) => codePointCompare(a, b)

  /** Classic BPE merge training (Sennrich et al. 2016) — the
    * tokenizer-training step between [[vocab]] (word counts) and
    * [[encodeTokens]] (id encoding). The DISTRIBUTED work is exactly
    * one shuffle: tokens explode → groupBy(word) count, whose output
    * is the distinct-word table — bounded by vocabulary, not corpus
    * size (the fastBPE/HF convention: merges are learned from word
    * FREQUENCIES, so a 100 TB corpus contributes one count pass and
    * the merge loop never sees it). The loop itself runs driver-side
    * over that table, gated at `maxWords` with an actionable error
    * (pre-filter the corpus or sample — merge ranks converge fast in
    * word-count samples).
    *
    * Deterministic by construction: the winning pair each round is
    * max by (count, then LEFT asc, then RIGHT asc) — no hash-order
    * dependence — so the merge sequence is reproducible on any
    * layout, engine, or run. Words are char sequences ending in
    * [[BpeEndOfWord]]. Stops early when no pair remains.
    *
    * Output: (rank, left, right, merged, pair_count), rank ascending
    * from 0 — the merge table a tokenizer consumes, driver-sized
    * (`numMerges` rows). Oracled end to end since r8: the DuckDB side
    * re-derives the merge sequence with unrolled pair-count/argmax
    * rounds (`TextQueries.bpeTrainCtes` — merge application is a
    * doubled-separator string replace that replays the left-to-right
    * pass exactly), alongside the exact-sequence spec on the Sennrich
    * reference corpus.
    */
  def bpeTrain(
      docs: DataFrame, numMerges: Int,
      maxWords: Int = 200000): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive; got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(F.explode(tokens(F.col("text"))).as("word"))
      .where(F.col("word") =!= "")
      .groupBy("word").agg(F.count(F.lit(1)).as("n"))
    val rows = words.limit(maxWords + 1).collect()
    require(rows.length <= maxWords,
      s"bpeTrain: more than maxWords=$maxWords distinct words — the merge " +
        "loop is driver-side over the word-frequency table. Pre-filter " +
        "(qualityFilter / vocab top-k) or train on a hash sample " +
        "(TrainPrep.stratifiedHashSample); merge ranks are stable under " +
        "sampling.")
    var syms: Array[(Array[String], Long)] = rows.map { r =>
      (bpeSyms(r.getString(0)), r.getLong(1))
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (s, n) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // tie-break in CODE-POINT order (== the oracle's binary UTF-8
        // ORDER BY), not Java's UTF-16 compareTo — see CodePointOrdering
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }(
          Ordering.Tuple3(Ordering.Long, CodePointOrdering, CodePointOrdering))
        val merged = l + r
        merges += ((rank, l, r, merged, c))
        syms = syms.map { case (s, n) =>
          if (s.length < 2) (s, n)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += merged; i += 2
              } else { out += s(i); i += 1 }
            }
            (out.toArray, n)
          }
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Apply a learned BPE merge table — the encode pass that pairs with
    * [[bpeTrain]]: each word (chars + [[BpeEndOfWord]], the SAME
    * symbolization as training, via the same [[tokensOf]] tokenizer —
    * shared code, the paths cannot drift) is reduced by repeatedly
    * merging its LOWEST-RANK adjacent pair (the standard greedy BPE
    * encode), yielding subword pieces. The merge table broadcasts
    * (gated at `maxMerges` — it is rank-table-sized by construction)
    * and the pass is MAP-ONLY over the corpus scan: no explode, no
    * token shuffle. A per-partition memo caches encodings by word —
    * zipf corpora re-encode the head words constantly, so the loop
    * runs once per DISTINCT word per partition, not once per
    * occurrence. Output: (doc_id, pieces, n_pieces, n_words) with
    * pieces space-joined; null text encodes to the empty string.
    */
  def bpeApply(
      docs: DataFrame, merges: DataFrame,
      maxMerges: Long = 1000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probeN = (math.min(maxMerges, Int.MaxValue - 1L) + 1L).toInt
    val collected = merges
      .select(F.col("rank").cast("int"), F.col("left").cast("string"),
        F.col("right").cast("string"))
      .as[(Int, String, String)]
      .take(probeN)
    require(collected.length <= maxMerges,
      s"bpeApply merge table exceeds maxMerges=$maxMerges rows — a merge " +
        "table is vocabulary-sized by construction; this looks like the " +
        "corpus. Pass bpeTrain's output, or raise maxMerges explicitly.")
    val rankMap: Map[(String, String), Int] =
      collected.map { case (r, l, rt) => (l, rt) -> r }.toMap
    val bc = spark.sparkContext.broadcast(rankMap)
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val memo = new java.util.HashMap[String, Array[String]](1 << 12)
        def encodeWord(w: String): Array[String] = {
          val hit = memo.get(w)
          if (hit != null) hit
          else {
            var syms = bpeSyms(w)
            var done = false
            while (!done && syms.length > 1) {
              var best = Int.MaxValue
              var at = -1
              var i = 0
              while (i < syms.length - 1) {
                val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
                if (r < best) { best = r; at = i }
                i += 1
              }
              if (at < 0) done = true
              else {
                // merge EVERY occurrence of the winning pair, left to
                // right — the same application order training used
                val l = syms(at); val rr = syms(at + 1); val m = l + rr
                val out = scala.collection.mutable.ArrayBuffer.empty[String]
                var j = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == rr) {
                    out += m; j += 2
                  } else { out += syms(j); j += 1 }
                }
                syms = out.toArray
              }
            }
            // bound the memo: zipf heads hit constantly, the long tail
            // would otherwise grow the map without limit
            if (memo.size < 200000) memo.put(w, syms)
            syms
          }
        }
        it.map { case (docId, text) =>
          if (text == null) (docId, "", 0L, 0L)
          else {
            // empty words carry no pieces (training's word table
            // excluded them the same way)
            val ws = tokensOf(text).filter(_.nonEmpty)
            val sb = new java.lang.StringBuilder(text.length * 2)
            var pieces = 0L
            var i = 0
            while (i < ws.length) {
              val ps = encodeWord(ws(i))
              var j = 0
              while (j < ps.length) {
                if (pieces > 0L) sb.append(' ')
                sb.append(ps(j))
                pieces += 1L
                j += 1
              }
              i += 1
            }
            (docId, sb.toString, pieces, ws.length.toLong)
          }
        }
      }
      .toDF("doc_id", "pieces", "n_pieces", "n_words")
  }

  /** The eight Gopher stop words (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", MassiveText rule 7). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText document-quality rules (Rae et al. 2021,
    * Appendix A1.1) as per-document flags — the standard published
    * pre-training filter set, kept as SIGNALS plus one `passes`
    * verdict so a pipeline can report per-rule attrition (compose with
    * [[filterFunnel]]) instead of a black-box keep/drop:
    *
    *   1. 50 ≤ word count ≤ 100,000
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio (# or …) ≤ 0.1
    *   4. < 90% of lines start with a bullet (-, *, •)
    *   5. < 30% of lines end with an ellipsis
    *   6. ≥ 80% of words contain an alphabetic character
    *   7. ≥ 2 distinct Gopher stop words present
    *
    * Every signal is an INTEGER count and each threshold is evaluated
    * as cross-multiplied integer arithmetic (`3·n_words ≤ n_word_chars`,
    * never `n_word_chars/n_words ≥ 3.0`) — no float ratio ever hits
    * the row, so the verdict is bit-stable across engines and the
    * DuckDB oracle replays it exactly. One map-only scan: column
    * algebra over split/filter/regexp_count, codegen end to end, no
    * UDF, no shuffle.
    *
    * Output: (doc_id, n_words, n_word_chars, n_lines, n_bullet_lines,
    * n_ellipsis_lines, n_alpha_words, n_stopwords, n_symbols, passes);
    * null text yields zero counts and passes = false.
    */
  def gopherFlags(docs: DataFrame): DataFrame = {
    val toks = tokens(F.col("text"))
    val lines = F.split(F.col("text"), "\n")
    def cnt(c: Column): Column = F.coalesce(c.cast("long"), F.lit(0L))
    val nWords = cnt(F.size(toks))
    val nWordChars =
      cnt(F.length(F.regexp_replace(F.col("text"), "\\s", "")))
    val nLines = cnt(F.size(lines))
    val nBullet = cnt(F.size(
      F.filter(lines, l => F.trim(l).rlike("^[-*•]"))))
    val nEllipsisEnd = cnt(F.size(
      F.filter(lines, l => F.rtrim(l).rlike("\\.\\.\\.$"))))
    val nAlpha = cnt(F.size(F.filter(toks, t => t.rlike("[A-Za-z]"))))
    val toksLower = F.transform(toks, t => lower(t))
    val nStop = cnt(F.size(F.filter(
      F.typedLit(GopherStopwords), w => F.array_contains(toksLower, w))))
    val nSymbols = cnt(F.regexp_count(F.col("text"), F.lit("#"))) +
      cnt(F.regexp_count(F.col("text"), F.lit("\\.\\.\\.")))
    docs.select(
      F.col("doc_id"), nWords.as("n_words"), nWordChars.as("n_word_chars"),
      nLines.as("n_lines"), nBullet.as("n_bullet_lines"),
      nEllipsisEnd.as("n_ellipsis_lines"), nAlpha.as("n_alpha_words"),
      nStop.as("n_stopwords"), nSymbols.as("n_symbols"))
      .withColumn("passes",
        F.col("n_words") >= 50 && F.col("n_words") <= 100000 &&
          F.col("n_word_chars") >= F.col("n_words") * 3 &&
          F.col("n_word_chars") <= F.col("n_words") * 10 &&
          F.col("n_symbols") * 10 <= F.col("n_words") &&
          F.col("n_bullet_lines") * 10 < F.col("n_lines") * 9 &&
          F.col("n_ellipsis_lines") * 10 < F.col("n_lines") * 3 &&
          F.col("n_alpha_words") * 5 >= F.col("n_words") * 4 &&
          F.col("n_stopwords") >= 2)
  }

  /** C4 line-level cleaning (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning", §2.2) — the line-granularity complement of
    * [[gopherFlags]]'s document-granularity rules. A line is KEPT iff:
    *   1. it ends (after right-trim) in a terminal punctuation mark
    *      (`.`, `!`, `?`, or `"`),
    *   2. it has at least `minLineWords` whitespace-separated words,
    *   3. it does not contain the word "javascript" (case-insensitive)
    *      — the paper's boilerplate/cookie-notice proxy.
    * Document-level flags on the ORIGINAL text, per the paper: any
    * occurrence of the phrase "lorem ipsum" (case-insensitive) or of a
    * curly brace `{` (code) disqualifies the page outright; the page
    * must also retain at least `minSentences` sentences (terminal
    * punctuation marks counted over the KEPT lines).
    *
    * Pure column algebra (split / filter-lambda / regexp), one map-only
    * codegen scan, no shuffle — at 100 TB this is a linear pass whose
    * cost is the parquet read. Null text behaves as the empty page:
    * one raw line, zero kept lines, `passes = false`.
    *
    * Output: (doc_id, text_clean, n_lines, n_lines_kept, n_sentences,
    * has_lorem, has_brace, passes).
    */
  def c4Clean(
      docs: DataFrame,
      minLineWords: Int = 5,
      minSentences: Int = 3): DataFrame = {
    val raw = F.coalesce(F.col("text"), F.lit(""))
    val lines = F.split(raw, "\n")
    val kept = F.filter(lines, l =>
      F.rtrim(l).rlike("[.!?\"]$") &&
        F.size(F.split(F.trim(l), "\\s+")) >= minLineWords &&
        !lower(l).rlike("javascript"))
    val textClean = F.array_join(kept, "\n")
    val nSentences =
      F.coalesce(F.regexp_count(textClean, F.lit("[.!?]")), F.lit(0L))
        .cast("long")
    docs.select(
      F.col("doc_id"),
      textClean.as("text_clean"),
      F.size(lines).cast("long").as("n_lines"),
      F.size(kept).cast("long").as("n_lines_kept"),
      nSentences.as("n_sentences"),
      lower(raw).rlike("lorem ipsum").as("has_lorem"),
      raw.rlike("\\{").as("has_brace"))
      .withColumn("passes",
        !F.col("has_lorem") && !F.col("has_brace") &&
          F.col("n_sentences") >= minSentences)
  }

  /** Corpus vocabulary: the `k` most frequent tokens with counts and
    * document frequency — the tokenizer-training primitive. Shape:
    * explode + groupBy(token) with partial aggregation (map-side
    * combine bounds the shuffle by distinct-tokens-per-partition, not
    * token occurrences), then an exact global top-k.
    * Output: (token, n_occurrences, n_docs), count-desc / token-asc.
    */
  def vocab(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(F.col("doc_id"), F.explode(tokens(F.col("text"))).as("token"))
      .groupBy("token")
      .agg(
        F.count(F.lit(1)).as("n_occurrences"),
        F.countDistinct("doc_id").as("n_docs"))
      .orderBy(F.col("n_occurrences").desc, F.col("token").asc)
      .limit(k)

  /** Vocab-id encoding — the tokenize-to-ids pass a training pipeline
    * runs over the whole corpus: every token is mapped to its id
    * through a BROADCAST dictionary, out-of-vocabulary tokens to
    * `unkId`. The 100 TB shape: the vocab (even millions of entries)
    * broadcasts once to every executor and the encode is a MAP-ONLY
    * pass over the corpus scan — no token explode, no token-stream
    * shuffle, no re-aggregation back to documents, which is what the
    * join-based formulation would cost. Tokenization goes through
    * [[tokensOf]], the executor-side replica of [[tokens]], so the
    * compiled loop cannot drift from the Column path. Ids are emitted
    * space-joined (portable across engines and safe under the driver's
    * value-hash compare, like the shard manifest's doc list); a null
    * text encodes to the empty string with 0 tokens.
    * `vocabIds` needs columns (token, id); the collect is gated at
    * `maxVocab` with a bounded probe (a vocabulary is driver-sized by
    * construction — the gate catches passing the corpus by mistake).
    * Output: (doc_id, ids, n_tokens, n_oov).
    */
  def encodeTokens(
      docs: DataFrame, vocabIds: DataFrame, unkId: Long,
      maxVocab: Long = 50000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val typedVocab = vocabIds
      .select(F.col("token").cast("string"), F.col("id").cast("long"))
      .as[(String, Long)]
    // ONE bounded fetch serves as both the gate probe and the collect
    // (a separate limit+count would re-execute the vocab lineage — for
    // a corpus-derived vocab that is the whole corpus aggregation,
    // twice). Clamped before toInt: a maxVocab past Int.MaxValue must
    // not wrap into a negative limit or a vacuously small probe.
    val probeN = (math.min(maxVocab, Int.MaxValue - 1L) + 1L).toInt
    val collected = typedVocab.take(probeN)
    require(collected.length <= maxVocab,
      s"encodeTokens vocab exceeds maxVocab=$maxVocab rows — a vocabulary " +
        "is driver-sized by construction; this looks like the corpus. " +
        "Pass the (token, id) dictionary, or raise maxVocab explicitly.")
    val vocabMap = collected.toMap
    require(vocabMap.size == collected.length,
      "encodeTokens vocab has duplicate token entries — toMap would keep " +
        "an arbitrary id per token (partition-order-dependent encoding). " +
        "Deduplicate the dictionary first.")
    val bc = spark.sparkContext.broadcast(vocabMap)
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        if (text == null) (docId, "", 0L, 0L)
        else {
          val ts = tokensOf(text)
          val sb = new java.lang.StringBuilder(ts.length * 3)
          var oov = 0L
          var i = 0
          while (i < ts.length) {
            if (i > 0) sb.append(' ')
            bc.value.get(ts(i)) match {
              case Some(id) => sb.append(id)
              case None => sb.append(unkId); oov += 1L
            }
            i += 1
          }
          (docId, sb.toString, ts.length.toLong, oov)
        }
      }
      .toDF("doc_id", "ids", "n_tokens", "n_oov")
  }

  /** Corpus n-gram statistics: the `k` most frequent token n-grams
    * with occurrence and document counts — the LM-smoothing /
    * contamination-screening primitive ([[vocab]] is the n = 1 case).
    * The n-gram materialization is a per-row transform + explode
    * (map-only); the count shuffle is partially aggregated, bounded
    * by distinct n-grams per partition. Docs shorter than n tokens
    * contribute nothing.
    * Output: (ngram, n_occurrences, n_docs), count-desc / ngram-asc.
    */
  def ngramCounts(docs: DataFrame, n: Int, k: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(k > 0, s"k must be positive, got $k")
    val t = tokens(F.col("text"))
    val grams = F.when(F.size(t) >= n,
        F.transform(F.sequence(F.lit(0), F.size(t) - n), i =>
          F.array_join(F.slice(t, i + 1, F.lit(n)), " ")))
      .otherwise(F.array().cast("array<string>"))
    docs
      .select(F.col("doc_id"), F.explode(grams).as("ngram"))
      .groupBy("ngram")
      .agg(
        F.count(F.lit(1)).as("n_occurrences"),
        F.countDistinct("doc_id").as("n_docs"))
      .orderBy(F.col("n_occurrences").desc, F.col("ngram").asc)
      .limit(k)
  }

  /** CCNet-style unigram-LM quality scoring (Wenzek et al. 2020 §4.3
    * reconstructed from the published description: score each document
    * by its per-token negative log-likelihood under a language model
    * trained on a trusted corpus; low bits-per-token ≈ fluent text,
    * high ≈ gibberish/boilerplate — the filter sits between the
    * reference harness's ad-hoc quality heuristics and a real LM).
    * The model here is the add-one-smoothed unigram LM over
    * `lmCorpus`: p(t) = (count(t)+1) / (N+V+1) with one reserved
    * out-of-vocabulary bucket, so scoring a corpus DIFFERENT from the
    * training one (the CCNet shape: score crawl text against a
    * Wikipedia LM) is well-defined — unseen tokens cost
    * -log2(1/(N+V+1)) bits.
    *
    * 100 TB shape, same split as [[encodeTokens]]: the LM training
    * pass is ONE partially-aggregated groupBy(token) shuffle over
    * `lmCorpus` (bounded by distinct tokens per partition), the model
    * is a driver-sized (token → count) dictionary broadcast once, and
    * scoring is a MAP-ONLY compiled pass over the `docs` scan — no
    * token explode, no scoring-side shuffle, no re-aggregation back to
    * documents. The collect is gated at `maxVocab` with the same
    * bounded single-fetch probe (catches passing an unaggregated
    * corpus as the LM by mistake). Tokenization goes through
    * [[tokensOf]] so the compiled loop cannot drift from the Column
    * path that trained the counts.
    *
    * Output: (doc_id, n_tokens, bits_per_token) — bits_per_token is
    * the UNROUNDED mean of -log2 p(token); null-text docs emit
    * (0, 0.0). Callers wanting stable cross-engine hashes should
    * round at presentation time.
    */
  def unigramLogProb(
      docs: DataFrame, lmCorpus: DataFrame,
      maxVocab: Long = 50000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = lmCorpus
      .select(F.explode(tokens(F.col("text"))).as("token"))
      .groupBy("token")
      .agg(F.count(F.lit(1)).as("c"))
      .select(F.col("token").cast("string"), F.col("c").cast("long"))
      .as[(String, Long)]
    val probeN = (math.min(maxVocab, Int.MaxValue - 1L) + 1L).toInt
    val collected = counts.take(probeN)
    require(collected.length <= maxVocab,
      s"unigramLogProb LM vocabulary exceeds maxVocab=$maxVocab tokens — " +
        "a unigram LM is driver-sized by construction; this looks like an " +
        "unaggregated corpus. Raise maxVocab explicitly if intended.")
    val vocabMap = collected.toMap
    val n = collected.iterator.map(_._2).sum.toDouble
    val v = vocabMap.size.toDouble
    val denom = n + v + 1.0
    val ln2 = math.log(2.0)
    val bc = spark.sparkContext.broadcast(vocabMap)
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        if (text == null) (docId, 0L, 0.0)
        else {
          val ts = tokensOf(text)
          var bits = 0.0
          var i = 0
          while (i < ts.length) {
            val c = bc.value.getOrElse(ts(i), 0L)
            bits -= math.log((c + 1.0) / denom) / ln2
            i += 1
          }
          (docId, ts.length.toLong, bits / ts.length)
        }
      }
      .toDF("doc_id", "n_tokens", "bits_per_token")
  }

  /** Jelinek–Mercer interpolated bigram LM scoring — one order up
    * from [[unigramLogProb]] (the classic cheap fluency ladder:
    * unigram → interpolated bigram → KenLM): per token,
    *
    *   p(wᵢ) = λ·c(wᵢ₋₁,wᵢ)/c(wᵢ₋₁) + (1−λ)·(c(wᵢ)+1)/(N+V+1)
    *
    * — the ML bigram backed off into the add-one unigram, so unseen
    * bigrams degrade to unigram fluency instead of zeroing the doc. A
    * doc's FIRST token scores on the unigram alone (no synthetic BOS
    * markers); the bigram denominator is the unigram count of the
    * left word (the standard shortcut — off by one for doc-final
    * tokens, consistently on both engines). Unseen left words
    * contribute a zero bigram term (guarded division).
    *
    * Distributed shape: two count shuffles over the LM corpus (one
    * per order; the BIGRAM table is bounded by observed pairs, not
    * V²), one driver-sized collect gated at `maxModelRows` with an
    * actionable message, then a map-only compiled scoring pass over
    * the broadcast tables sharing [[tokensOf]] with every other
    * compiled tokenizer. Output: (doc_id, n_tokens, bits_per_token
    * UNROUNDED — round at presentation like [[unigramLogProb]]).
    */
  def bigramLogProb(
      docs: DataFrame, lmCorpus: DataFrame, lambda: Double = 0.7,
      maxModelRows: Long = 50000000L): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1]; got $lambda")
    val spark = docs.sparkSession
    import spark.implicits._
    val uni = lmCorpus
      .select(F.explode(tokens(F.col("text"))).as("token"))
      .groupBy("token").agg(F.count(F.lit(1)).as("c"))
      .as[(String, Long)]
    val toksCol = tokens(F.col("text"))
    val bi = lmCorpus
      .select(F.col("text"))
      .where(F.col("text").isNotNull)
      .select(toksCol.as("t"))
      // guard: Spark's sequence(2, 1) runs DESCENDING — a 1-token doc
      // would fabricate a junk pair instead of none
      .where(F.size(F.col("t")) >= 2)
      .select(F.explode(F.expr(
        "transform(sequence(2, size(t)), i -> struct(t[i-2] AS pw, t[i-1] AS w))"))
        .as("p"))
      .select(F.concat(F.col("p.pw"), F.lit("\u0000"), F.col("p.w")).as("pair"))
      .groupBy("pair").agg(F.count(F.lit(1)).as("c"))
      .as[(String, Long)]
    val probeN = (math.min(maxModelRows, Int.MaxValue - 1L) + 1L).toInt
    val uc = uni.take(probeN)
    val bc = bi.take(probeN)
    require(uc.length + bc.length <= maxModelRows,
      s"bigramLogProb model exceeds maxModelRows=$maxModelRows rows — an " +
        "n-gram LM is driver-sized by construction; this looks like an " +
        "unaggregated corpus. Raise maxModelRows explicitly if intended.")
    val uMap = uc.toMap
    val bMap = bc.toMap
    val n = uc.iterator.map(_._2).sum.toDouble
    val v = uMap.size.toDouble
    val denom = n + v + 1.0
    val ln2 = math.log(2.0)
    val bcU = spark.sparkContext.broadcast(uMap)
    val bcB = spark.sparkContext.broadcast(bMap)
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        if (text == null) (docId, 0L, 0.0)
        else {
          val ts = tokensOf(text)
          var bits = 0.0
          var i = 0
          while (i < ts.length) {
            val p1 = (bcU.value.getOrElse(ts(i), 0L) + 1.0) / denom
            val p =
              if (i == 0) p1
              else {
                val cPrev = bcU.value.getOrElse(ts(i - 1), 0L)
                val p2 =
                  if (cPrev == 0L) 0.0
                  else bcB.value.getOrElse(
                    ts(i - 1) + "\u0000" + ts(i), 0L).toDouble / cPrev
                lambda * p2 + (1.0 - lambda) * p1
              }
            bits -= math.log(p) / ln2
            i += 1
          }
          (docId, ts.length.toLong, bits / ts.length)
        }
      }
      .toDF("doc_id", "n_tokens", "bits_per_token")
  }

  /** Hashed unigram+bigram features of one document, in token order —
    * the DSIR feature map. Shared by training and scoring so the two
    * compiled paths cannot drift; bigrams join with a single space,
    * buckets follow [[graft.operators.TrainPrep.hashBucketOf]]'s md5
    * convention (first 8 hex chars unsigned, mod buckets) so a SQL
    * replay is exact.
    */
  private[graft] def hashedGramsOf(text: String, buckets: Int): Array[Int] = {
    val ts = tokensOf(text)
    val out = new Array[Int](math.max(2 * ts.length - 1, 0))
    var i = 0
    while (i < ts.length) {
      out(i) = TrainPrep.hashBucketOf(ts(i), buckets).toInt
      i += 1
    }
    var j = 0
    while (j < ts.length - 1) {
      out(ts.length + j) =
        TrainPrep.hashBucketOf(ts(j) + " " + ts(j + 1), buckets).toInt
      j += 1
    }
    out
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", NeurIPS —
    * reconstructed from the published method, §3: hashed-n-gram bag
    * features, a multinomial model of the target and of the raw pool,
    * and per-example log importance ratios): every doc in `docs` gets
    * log2 w(x) = Σ_b c_b(x)·(log2 p̂_b − log2 q̂_b), where c_b counts
    * the doc's hashed unigram+bigram features in bucket b, p̂ is the
    * add-one-smoothed bucket distribution of the `target` corpus
    * (the domain you want more of) and q̂ of the `raw` pool. Docs with
    * high logw_bits look like the target; a selection pass keeps the
    * top slice (deterministic top-k rather than the paper's Gumbel
    * resampling, which an oracle could not replay).
    *
    * 100 TB shape: each model fit is ONE partially-aggregated
    * explode→groupBy(bucket) shuffle whose output is ≤ `buckets` rows
    * BY CONSTRUCTION (the hash range, not the corpus, bounds the
    * model — no vocabulary gate needed, unlike [[unigramLogProb]]);
    * the two log-ratio arrays collapse to a single broadcast
    * Array[Double](buckets), and scoring is a MAP-ONLY compiled pass
    * over the `docs` scan. Feature hashing and tokenization go
    * through [[hashedGramsOf]] on BOTH train and score paths, so the
    * model and the scorer cannot drift.
    *
    * Output: (doc_id, n_grams, logw_bits); null text → (id, 0, 0.0).
    * logw_bits is UNROUNDED — round at presentation time for
    * cross-engine hashes.
    */
  def dsirWeights(
      docs: DataFrame, target: DataFrame, raw: DataFrame,
      buckets: Int = 65536): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in (0, 2^24] (driver holds one double per bucket); got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    def bucketCounts(corpus: DataFrame): (Array[Long], Long) = {
      val rows = corpus
        .select(F.col("text").cast("string")).as[String]
        .flatMap(t => if (t == null) Iterator.empty else hashedGramsOf(t, buckets).iterator)
        .groupBy(F.col("value").as("b"))
        .agg(F.count(F.lit(1)).as("c"))
        .as[(Int, Long)]
        .collect()
      val arr = new Array[Long](buckets)
      var n = 0L
      rows.foreach { case (b, c) => arr(b) = c; n += c }
      (arr, n)
    }
    val (tc, tn) = bucketCounts(target)
    val (rc, rn) = bucketCounts(raw)
    val ln2 = math.log(2.0)
    val delta = new Array[Double](buckets)
    var b = 0
    while (b < buckets) {
      delta(b) = (math.log((tc(b) + 1.0) / (tn + buckets.toDouble)) -
        math.log((rc(b) + 1.0) / (rn + buckets.toDouble))) / ln2
      b += 1
    }
    val bc = spark.sparkContext.broadcast(delta)
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        if (text == null) (docId, 0L, 0.0)
        else {
          val gs = hashedGramsOf(text, buckets)
          var s = 0.0
          var i = 0
          while (i < gs.length) { s += bc.value(gs(i)); i += 1 }
          (docId, gs.length.toLong, s)
        }
      }
      .toDF("doc_id", "n_grams", "logw_bits")
  }

  /** fastText/CCNet-style supervised document classifier, here the
    * closed-form multinomial Naive Bayes (Wenzek et al. 2020 use a
    * trained fastText model to route crawl docs by language/quality;
    * NB is the deterministic, oracle-replayable stand-in with the same
    * pipeline seam: train on a labeled split, score the corpus). Per
    * label L: p(t|L) = (c(t,L)+1)/(N_L+V+1) with add-one smoothing
    * over the GLOBAL training vocabulary V plus one OOV bucket, prior
    * p(L) = docs_L/docs. score(d,L) = log2 p(L) + Σ_t log2 p(t|L);
    * the prediction is the argmax (ties broken by label ascending so
    * the result is total-order deterministic) and `margin_bits` is
    * the log-odds gap to the runner-up label — a routing-confidence
    * signal a pipeline can threshold on.
    *
    * 100 TB shape, same split as [[unigramLogProb]]: training is ONE
    * partially-aggregated groupBy(label, token) shuffle over the
    * labeled frame (labeled data is the small side by construction —
    * it is human- or model-annotated), the model is a driver-sized
    * (token → per-label bits) dictionary broadcast once, and scoring
    * is a MAP-ONLY compiled pass over the `docs` scan — no explode,
    * no scoring-side shuffle. The model collect is gated at
    * `maxModelRows` (label, token) pairs with a bounded single-fetch
    * probe. Tokenization goes through [[tokensOf]] so the compiled
    * scorer cannot drift from the Column path that trained the counts.
    *
    * Output: (doc_id, pred_label, n_tokens, margin_bits); null-text
    * docs score on priors alone (n_tokens = 0). margin_bits is
    * UNROUNDED — round at presentation time for cross-engine hashes.
    */
  def nbClassify(
      docs: DataFrame, labeled: DataFrame, labelCol: String = "lang",
      maxModelRows: Long = 50000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = labeled
      .select(F.col(labelCol).cast("string").as("label"),
        F.explode(tokens(F.col("text"))).as("token"))
      .groupBy("label", "token")
      .agg(F.count(F.lit(1)).as("c"))
      .select(F.col("label"), F.col("token"), F.col("c").cast("long"))
      .as[(String, String, Long)]
    val probeN = (math.min(maxModelRows, Int.MaxValue - 1L) + 1L).toInt
    val collected = pairs.take(probeN)
    require(collected.length <= maxModelRows,
      s"nbClassify model exceeds maxModelRows=$maxModelRows (label, token) " +
        "rows — an NB model is driver-sized by construction; this looks " +
        "like an unaggregated corpus. Raise maxModelRows if intended.")
    // priors from doc counts; tiny (one row per label)
    val priorRows = labeled
      .groupBy(F.col(labelCol).cast("string").as("label"))
      .agg(F.count(F.lit(1)).as("d"))
      .as[(String, Long)].collect()
    require(priorRows.nonEmpty, "nbClassify needs a non-empty labeled frame")
    val labels = priorRows.map(_._1).sorted
    val k = labels.length
    val labelIdx = labels.zipWithIndex.toMap
    val totalDocs = priorRows.iterator.map(_._2).sum.toDouble
    val ln2 = math.log(2.0)
    val priorBits = new Array[Double](k)
    priorRows.foreach { case (l, d) =>
      priorBits(labelIdx(l)) = math.log(d / totalDocs) / ln2 }
    val nPerLabel = new Array[Double](k)
    collected.foreach { case (l, _, c) => nPerLabel(labelIdx(l)) += c }
    val vocab = collected.iterator.map(_._2).toSet
    val denom = nPerLabel.map(_ + vocab.size + 1.0)
    // per-token bits array over labels; absent (label, token) = c 0
    val oovBits = denom.map(d => -math.log(d) / ln2)
    val tokenBits = new java.util.HashMap[String, Array[Double]](
      vocab.size * 2)
    collected.foreach { case (l, t, c) =>
      val arr = tokenBits.computeIfAbsent(t, _ => oovBits.clone())
      val i = labelIdx(l)
      arr(i) = math.log((c + 1.0) / denom(i)) / ln2
    }
    val bc = spark.sparkContext.broadcast((labels, priorBits, oovBits, tokenBits))
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        val (ls, prior, oov, model) = bc.value
        val scores = prior.clone()
        var n = 0L
        if (text != null) {
          val ts = tokensOf(text)
          n = ts.length.toLong
          var i = 0
          while (i < ts.length) {
            val arr = model.getOrDefault(ts(i), oov)
            var j = 0
            while (j < scores.length) { scores(j) += arr(j); j += 1 }
            i += 1
          }
        }
        // argmax with label-asc tie-break (labels are sorted, strict >)
        var best = 0
        var second = -1
        var j = 1
        while (j < scores.length) {
          if (scores(j) > scores(best)) { second = best; best = j }
          else if (second < 0 || scores(j) > scores(second)) second = j
          j += 1
        }
        val margin =
          if (second < 0) 0.0 else scores(best) - scores(second)
        (docId, ls(best), n, margin)
      }
      .toDF("doc_id", "pred_label", "n_tokens", "margin_bits")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3 split
    * the crawl into head/middle/tail by LM-perplexity terciles and
    * train preferentially on the head): score every doc with
    * [[unigramLogProb]] against `lmCorpus`, compute the exact
    * interpolated quantile thresholds of the (round-6) bits-per-token
    * distribution, and label each doc with its bucket.
    *
    * 100 TB shape: scoring is the map-only broadcast-LM pass; the
    * thresholds are ONE `percentile` aggregate collapsing to a single
    * driver row (|probs| doubles — never a global sort/ntile window,
    * which would serialize the corpus into one task); bucketing is a
    * map-only CASE against literal thresholds. Scores are rounded to
    * 6 decimals BEFORE the quantile so both the thresholds and the
    * boundary comparisons see the same values a replaying engine
    * computes. NOTE the scoring pass runs TWICE (threshold aggregate
    * now, bucket materialization later) — when the `docs` lineage is
    * expensive, persist it first; the LM itself trains once either
    * way (the broadcast happens at call time).
    *
    * Output: (doc_id, n_tokens, bits_per_token, bucket); buckets
    * named by `names` (|names| = |probs|+1), ordered low→high bits
    * (head = most fluent under the LM).
    */
  def perplexityBuckets(
      docs: DataFrame, lmCorpus: DataFrame,
      probs: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
      names: Seq[String] = Seq("head", "middle", "tail"),
      maxVocab: Long = 50000000L): DataFrame = {
    require(names.length == probs.length + 1,
      s"need ${probs.length + 1} bucket names for ${probs.length} cut points")
    require(probs == probs.sorted && probs.forall(p => p > 0 && p < 1),
      "probs must be ascending in (0, 1)")
    val scored = unigramLogProb(docs, lmCorpus, maxVocab)
      .withColumn("bits_per_token", F.round(F.col("bits_per_token"), 6))
    val probsSql = probs.mkString("array(", ", ", ")")
    val cutRow = scored.agg(
      F.expr(s"percentile(bits_per_token, $probsSql)").as("cuts")).head
    // an empty corpus has no quantiles — everything lands in names.last
    val cuts: Seq[Double] =
      if (cutRow.isNullAt(0)) Seq.empty
      else cutRow.getSeq[Double](0)
    val bucket = cuts.zip(names).foldLeft(F.when(F.lit(false), F.lit(""))) {
      case (acc, (cut, name)) =>
        acc.when(F.col("bits_per_token") <= cut, F.lit(name))
    }.otherwise(F.lit(names.last))
    scored.withColumn("bucket", bucket)
  }

  /** Filter-funnel attrition report: run the documents through an
    * ORDERED chain of keep-predicates and report, per stage, how many
    * docs entered, were dropped there, and survived — the standard
    * pipeline-debugging artifact for corpus curation (the
    * FineWeb/RefinedWeb reports publish exactly this table): a
    * mis-tuned threshold shows up as one stage eating the corpus.
    *
    * Attribution is FIRST-FAILING-STAGE: a doc failing stages 2 and 4
    * counts against stage 2 only, so column sums reconcile
    * (n_in = n_dropped + n_out, chained). A NULL predicate (e.g. null
    * text) counts as a failure — matching what `where(pred)` would
    * drop — via coalesce(pred, false).
    *
    * 100 TB shape: ONE scan computes every predicate plus the
    * first-fail index as column algebra (lazy CaseWhen, so a
    * stage-3-only expression never evaluates on a doc that failed
    * stage 0), ONE partially-aggregated groupBy over at most
    * |stages|+1 keys, and the cumulative funnel is assembled on the
    * driver from that tiny frame. No per-stage passes, no re-scan per
    * threshold probed.
    *
    * Output: (stage_idx, stage, n_in, n_dropped, n_out) ordered by
    * stage_idx.
    */
  def filterFunnel(
      docs: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val failStage = stages.zipWithIndex
      .foldLeft(F.when(F.lit(false), F.lit(-1))) {
        case (acc, ((_, pred), i)) =>
          acc.when(!F.coalesce(pred, F.lit(false)), F.lit(i))
      }
      .otherwise(F.lit(stages.length))
    val counts = docs
      .select(failStage.as("f"))
      .groupBy("f").agg(F.count(F.lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    val total = counts.valuesIterator.sum
    var in = total
    val rows = stages.zipWithIndex.map { case ((name, _), i) =>
      val dropped = counts.getOrElse(i, 0L)
      val out = in - dropped
      val r = (i, name, in, dropped, out)
      in = out
      r
    }
    spark.createDataFrame(rows)
      .toDF("stage_idx", "stage", "n_in", "n_dropped", "n_out")
  }

  /** C4-style cross-corpus line deduplication (Raffel et al. 2020
    * §2.2 reconstructed from the published description: any line
    * occurring ≥ `minCount` times in the corpus is kept ONCE, at its
    * first occurrence in (doc_id, position) order, and dropped
    * everywhere else). `segmentTokens = Some(k)` dedups fixed k-token
    * segments instead of newline-split lines — the fixed-granularity
    * variant of exact substring dedup (Lee et al. 2021) for corpora
    * without line structure.
    *
    * 100 TB shape: two bounded shuffles, no window. The corpus-wide
    * occurrence stats are a groupBy(line) with partial aggregation
    * (shuffle bounded by DISTINCT lines, not occurrences) keeping the
    * first occurrence via a lexicographic min(struct(doc_id, pos)) —
    * deliberately NOT row_number() over a line partition, which
    * serializes each line's occurrences into one task and hits a skew
    * wall on boilerplate lines that appear in half the corpus. The
    * stats join back is 1:N per line (AQE skew-join splits heavy
    * hitters), and reassembly is a groupBy(doc_id) with in-agg
    * array_sort, not a global order.
    *
    * Output: (doc_id, n_kept, n_dropped, clean_md5) where clean_md5
    * fingerprints the surviving text (lines re-joined in original
    * order) — the md5, not the text, so multi-MB documents don't
    * round-trip through the result. Null-text docs have no lines and
    * are absent from the output.
    */
  def dedupLines(
      docs: DataFrame, minCount: Int = 2,
      segmentTokens: Option[Int] = None): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    segmentTokens.foreach(k => require(k > 0, s"segmentTokens must be positive, got $k"))
    val (lineized, delim) = segmentTokens match {
      case None => (F.split(F.col("text"), "\n"), "\n")
      case Some(k) =>
        val t = tokens(F.col("text"))
        val nSeg = F.ceil(F.size(t).cast("double") / k).cast("int")
        (F.transform(F.sequence(F.lit(0), nSeg - 1), i =>
          F.array_join(F.slice(t, i * k + 1, F.lit(k)), " ")), " ")
    }
    val exploded = docs.select(
      F.col("doc_id"), F.posexplode(lineized).as(Seq("pos", "line")))
    val stats = exploded
      .groupBy("line")
      .agg(
        F.count(F.lit(1)).as("c"),
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).as("keeper"))
    val keep = F.col("c") < minCount ||
      F.struct(F.col("doc_id"), F.col("pos")) === F.col("keeper")
    exploded
      .join(stats, "line")
      .withColumn("keep", keep)
      .groupBy("doc_id")
      .agg(
        F.sum(F.col("keep").cast("long")).as("n_kept"),
        F.sum((!F.col("keep")).cast("long")).as("n_dropped"),
        F.md5(F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.when(F.col("keep"),
              F.struct(F.col("pos"), F.col("line"))))),
            _.getField("line")),
          delim)).as("clean_md5"))
  }

  /** BM25 keyword scoring (Robertson-Spärck Jones idf, the standard
    * k1/b saturation): top-`k` documents for a bag of query `terms`.
    * The keyword-retrieval primitive for corpus triage and eval-set
    * mining, scored entirely as column algebra.
    *
    * 100 TB shape: a constant number of corpus scans (tf, doc-length,
    * and the 1-row corpus aggregate — Catalyst reuses identical
    * exchanges between the tf and df branches); the term filter lands
    * BEFORE the explode's groupBy so the tf shuffle is bounded by
    * docs × |terms| matched rows, not corpus tokens; df/idf collapses to ≤ |terms|
    * rows and broadcast-joins back; doc length and the corpus
    * (N, avgdl) scalars come from a 1-row aggregate cross-joined in
    * (a broadcast, not a driver round-trip); the final top-k is
    * TakeOrderedAndProject, never a global sort.
    *
    * Output: (doc_id, score) — score rounded to 6 decimals, ordered
    * score-desc then doc_id-asc.
    */
  def bm25TopK(
      docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k > 0, s"k must be positive, got $k")
    val dl = docs.select(
      F.col("doc_id"), F.size(tokens(F.col("text"))).cast("long").as("dl"))
    val corpus = dl.agg(
      F.count(F.lit(1)).cast("double").as("n"), F.avg("dl").as("avgdl"))
    val tf = docs
      .select(F.col("doc_id"), F.explode(tokens(F.col("text"))).as("token"))
      .where(F.col("token").isin(terms: _*))
      .groupBy("doc_id", "token")
      .agg(F.count(F.lit(1)).cast("double").as("tf"))
    val idf = tf
      .groupBy("token")
      .agg(F.countDistinct("doc_id").cast("double").as("df"))
      .crossJoin(corpus)
      .select(F.col("token"),
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
          .as("idf"))
    tf
      .join(F.broadcast(idf), "token")
      .join(dl, "doc_id")
      .crossJoin(corpus)
      .select(F.col("doc_id"),
        (F.col("idf") * F.col("tf") * (k1 + 1) /
          (F.col("tf") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))))
          .as("contrib"))
      .groupBy("doc_id")
      .agg(F.round(F.sum("contrib"), 6).as("score"))
      .orderBy(F.col("score").desc, F.col("doc_id").asc)
      .limit(k)
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner (Elasticsearch/OpenSearch ship
    * it verbatim): fused(d) = Σ_r 1/(kConst + rank_r(d)) over every
    * ranking that retrieved d. Rank-based, so a lexical BM25 list and
    * a cosine ANN list fuse WITHOUT score calibration — the property
    * that makes RRF the default when the rankers' score scales are
    * incomparable (log-ish BM25 vs bounded cosine).
    *
    * Inputs are (doc_id, rank) frames — each bounded by its
    * retriever's top-k, so the union+groupBy here shuffles
    * Σ k_r rows TOTAL regardless of corpus size; the heavy lifting
    * stays inside the retrievers (which have their own scale paths).
    * Output: (doc_id, rrf round-6, n_lists), (rrf DESC, doc_id ASC).
    */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kConst >= 1, s"kConst must be >= 1; got $kConst")
    rankings
      .map(_.select(
        F.col("doc_id").cast("long"), F.col("rank").cast("long")))
      .reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(kConst) + F.col("rank"))), 6)
          .as("rrf"),
        F.count(F.lit(1)).as("n_lists"))
      .orderBy(F.col("rrf").desc, F.col("doc_id").asc)
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    * filters, reconstructed from the published heuristics): duplicate
    * line fraction, duplicate token fraction, and the occurrence share
    * of the most frequent word bigram. Line/token dedup is pure column
    * algebra; the bigram mode needs a per-document frequency table, so
    * bigrams are exploded through two partially-aggregated groupBys
    * (map-side combine bounds both shuffles by distinct bigrams, not
    * occurrences) and left-joined back — docs with < 2 tokens get 0.
    * Output: (doc_id, dup_line_frac, dup_token_frac, top_bigram_frac).
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val lines = F.split(F.col("text"), "\n")
    val t = tokens(F.col("text"))
    val base = docs.select(
      F.col("doc_id"),
      F.round(F.lit(1.0) -
        F.size(F.array_distinct(lines)).cast("double") / F.size(lines), 4)
        .as("dup_line_frac"),
      F.round(F.lit(1.0) -
        F.size(F.array_distinct(t)).cast("double") / F.size(t), 4)
        .as("dup_token_frac"),
      t.as("toks"))
    val bigrams = base.select(
      F.col("doc_id"),
      F.explode(
        // sequence(0, size-2) would COUNT DOWN for a 1-token doc
        // (sequence(0,-1) = [0,-1]) — guard it to an empty array
        F.when(F.size(F.col("toks")) < 2, F.array())
          .otherwise(F.transform(
            F.sequence(F.lit(0), F.size(F.col("toks")) - 2),
            i => F.concat_ws(" ",
              F.element_at(F.col("toks"), i + 1),
              F.element_at(F.col("toks"), i + 2))))).as("bg"))
    val top = bigrams
      .groupBy("doc_id", "bg").agg(F.count(F.lit(1)).as("c"))
      .groupBy("doc_id").agg(F.max("c").as("mx"), F.sum("c").as("nb"))
    base
      .join(top, Seq("doc_id"), "left")
      .select(
        F.col("doc_id"), F.col("dup_line_frac"), F.col("dup_token_frac"),
        F.round(
          F.coalesce(F.col("mx").cast("double") / F.col("nb"), F.lit(0.0)), 4)
          .as("top_bigram_frac"))
  }

  /** PII patterns, written to evaluate identically on Java regex
    * (Spark) and RE2 (DuckDB oracle): no \b word boundaries (RE2 lacks
    * them), no backreferences, POSIX-safe classes.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "\\+?[0-9][-() 0-9]{6,}[0-9]"

  /** Redact emails, IPv4 addresses, and phone-shaped digit runs with
    * typed placeholders — the standard pre-training PII scrub. Email
    * first, then IP (so IPs are gone before the digit-run pattern
    * scans), then phone; pure regexp_replace, codegen'd, scan-scales.
    */
  def redactPii(text: Column): Column =
    F.regexp_replace(
      F.regexp_replace(
        F.regexp_replace(text, F.lit(EmailRe), F.lit("<EMAIL>")),
        F.lit(Ipv4Re), F.lit("<IP>")),
      F.lit(PhoneRe), F.lit("<PHONE>"))

  /** Per-document PII counts + redacted text.
    * Output: (doc_id, n_emails, n_ips, n_phones, redacted).
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      F.col("doc_id"),
      F.regexp_count(F.col("text"), F.lit(EmailRe)).as("n_emails"),
      F.regexp_count(F.col("text"), F.lit(Ipv4Re)).as("n_ips"),
      F.regexp_count(
        F.regexp_replace(
          F.regexp_replace(F.col("text"), F.lit(EmailRe), F.lit("<EMAIL>")),
          F.lit(Ipv4Re), F.lit("<IP>")),
        F.lit(PhoneRe)).as("n_phones"),
      redactPii(F.col("text")).as("redacted"))

  /** φ-heavy hitters over the token stream with EXACT output counts —
    * the "hot tokens" diagnostic (tokenizer-vocab sanity, boilerplate
    * detection, stopword drift) computed WITHOUT shuffling every
    * token: a full `groupBy(token)` moves the whole exploded token
    * stream (≈ corpus size again); at 100 TB that shuffle dwarfs the
    * answer, which is a few hundred rows.
    *
    * Shape: per-partition Misra-Gries summaries (capacity
    * ⌈safety/φ⌉, amortized O(1) per token, bounded memory) emit a
    * candidate set of ≤ partitions·capacity tokens; the MG guarantee
    * makes the union COMPLETE for every token with global count ≥
    * φ·N (if a token reaches φN overall, some partition holds ≥ φ·n_p
    * of it, which survives a capacity-⌈safety/φ⌉ summary for
    * safety > 1 — pigeonhole), so the exact verify pass — tokens
    * semi-joined to the broadcast candidates, then counted — loses
    * nothing. False candidates are filtered by the exact threshold.
    * The OUTPUT is therefore deterministic and partitioning-free:
    * exactly the tokens with count ≥ ⌈φ·N⌉, their exact counts —
    * which is what makes the operator oracle-replayable even though
    * the candidate stage is approximate.
    *
    * Output: (token, n, share round-4), count-desc then token asc.
    */
  def heavyTokens(
      docs: DataFrame, phi: Double = 0.002, safety: Int = 2): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1]; got $phi")
    require(safety >= 2, s"safety must be >= 2 for completeness; got $safety")
    val spark = docs.sparkSession
    import spark.implicits._
    val cap = math.max(8, math.ceil(safety / phi).toInt)
    // N: map-only partial agg over per-doc token counts — no explode
    // crosses the network for the denominator
    val total = docs
      .select(F.coalesce(F.size(tokens(F.col("text"))), F.lit(0))
        .cast("long").as("n"))
      .agg(F.sum("n")).head.getLong(0)
    val minCount = math.max(1L, math.ceil(phi * total).toLong)
    val toks = docs.select(F.col("text")).as[String]
    val candidates = toks
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, java.lang.Long](cap * 2)
        it.foreach { text =>
          if (text != null) tokensOf(text).foreach { t =>
            val c = m.get(t)
            if (c != null) m.put(t, c + 1L)
            else if (m.size < cap) m.put(t, 1L)
            else {
              // Misra-Gries decrement-all: amortized O(1) — each sweep
              // removes >= as much mass as insertions added since the
              // last sweep
              val itr = m.entrySet().iterator()
              while (itr.hasNext) {
                val e = itr.next()
                if (e.getValue <= 1L) itr.remove()
                else e.setValue(e.getValue - 1L)
              }
            }
          }
        }
        scala.jdk.CollectionConverters
          .SetHasAsScala(m.keySet()).asScala.toVector.iterator
      }
      .toDF("token").distinct()
    val exploded = docs.select(
      F.explode(tokens(F.col("text"))).as("token"))
    exploded
      .join(F.broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token")
      .agg(F.count(F.lit(1)).as("n"))
      .where(F.col("n") >= minCount)
      .withColumn("share", F.round(F.col("n") / F.lit(total.toDouble), 4))
      .orderBy(F.col("n").desc, F.col("token").asc)
  }

  /** Robust per-stratum outlier flags by modified z-score (Iglewicz &
    * Hoaglin 1993: 0.6745·(v − median)/MAD, cut at 3.5) — the
    * length/quality trim a curation pipeline runs per source, immune
    * to the heavy tails that wreck mean/σ cuts on web corpora (one
    * 100 MB document shifts a source's mean past half its rows; it
    * moves the median not at all).
    *
    * Two exact-percentile aggregations (median of v, then median of
    * |v − median|), each ONE partial-aggregated shuffle of (stratum,
    * value) pairs, medians joined back via broadcast (stratum
    * cardinality is small by construction). At 100 TB swap
    * `percentile` for `approx_percentile(…, 0.5, 10000)` — same plan
    * shape, bounded state; exact here so the operator is
    * oracle-replayable.
    *
    * A stratum with MAD = 0 (over half its values identical) defines
    * mz = 0 for every row — no outliers — rather than dividing by
    * zero; cut strata that degenerate this way on the raw value
    * deserve a rule, not a NaN.
    *
    * Output: (doc_id, stratum, v, mz round-4, is_outlier 0/1).
    */
  def madOutliers(
      docs: DataFrame, valueCol: String = "n_chars",
      stratumCol: String = "source", cut: Double = 3.5): DataFrame = {
    require(cut > 0.0, s"cut must be positive; got $cut")
    val base = docs.select(
      F.col("doc_id"), F.col(stratumCol).as("stratum"),
      F.col(valueCol).cast("double").as("v"))
    // exact interpolated percentile (matches DuckDB quantile_cont)
    val medExact = base.groupBy("stratum")
      .agg(F.expr("percentile(v, 0.5)").as("med"))
    val dev = base.join(F.broadcast(medExact), "stratum")
      .withColumn("ad", F.abs(F.col("v") - F.col("med")))
    val mad = dev.groupBy("stratum")
      .agg(F.expr("percentile(ad, 0.5)").as("mad"))
    dev.join(F.broadcast(mad), "stratum")
      .select(
        F.col("doc_id"), F.col("stratum"), F.col("v"),
        F.round(
          F.when(F.col("mad") === 0.0, 0.0)
            .otherwise(F.lit(0.6745) * (F.col("v") - F.col("med")) / F.col("mad")),
          4).as("mz"))
      .withColumn("is_outlier",
        (F.abs(F.col("mz")) > cut).cast("int"))
      .orderBy("doc_id")
  }

  /** Per-document language-mixture report — the segment-level
    * complement of [[langId]]: a document whose LINES disagree about
    * language (boilerplate chrome around translated content, code
    * docs with prose islands, scraped parallel pages) is exactly what
    * a doc-level classifier mislabels, and mixed docs are the
    * standard exclusion (or split-then-keep) case in multilingual
    * corpus curation (CCNet processes at paragraph granularity for
    * this reason).
    *
    * Per non-blank line: the [[langId]] marker cascade; per doc:
    * line count, the modal language (ties → lexicographic), distinct
    * NON-unk language count, and a mixed flag at ≥ 2. One explode +
    * two partial-agg shuffles keyed by doc_id — no corpus-wide state.
    *
    * Output: (doc_id, n_lines, primary_lang, n_langs, mixed 0/1),
    * ordered by doc_id.
    */
  def langMix(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs
      .where(F.col("text").isNotNull)
      .select(F.col("doc_id"),
        F.explode(F.split(F.col("text"), "\n")).as("line"))
      .where(F.trim(F.col("line")) =!= "")
    val ll = lines.select(
      F.col("doc_id"), langId(F.col("line")).as("lang"))
    val counts = ll.groupBy("doc_id", "lang")
      .agg(F.count(F.lit(1)).as("cnt"))
    val prim = counts
      .withColumn("rn", F.row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(F.col("cnt").desc, F.col("lang").asc)))
      .where(F.col("rn") === 1)
      .select(F.col("doc_id"), F.col("lang").as("primary_lang"))
    val agg = ll.groupBy("doc_id").agg(
      F.count(F.lit(1)).as("n_lines"),
      F.count_distinct(
        F.when(F.col("lang") =!= "unk", F.col("lang"))).as("n_langs"))
    agg.join(prim, "doc_id")
      .withColumn("mixed", (F.col("n_langs") >= 2).cast("int"))
      .select("doc_id", "n_lines", "primary_lang", "n_langs", "mixed")
      .orderBy("doc_id")
  }

  /** Marker-token language ID (deterministic cascade, n-gram-free
    * heuristic): first matching stopword wins, else "unk".
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    F.when(F.array_contains(t, "the").or(F.array_contains(t, "and")), "en")
      .when(F.array_contains(t, "der").or(F.array_contains(t, "und")), "de")
      .when(F.array_contains(t, "le").or(F.array_contains(t, "et")), "fr")
      .when(F.array_contains(t, "el").or(F.array_contains(t, "y")), "es")
      .when(F.array_contains(t, "的"), "zh")
      .otherwise("unk")
  }
}

/** [[TextOps.lower]] as a Catalyst expression, compiled into the
  * generated code as a static call. The ICU flag is read when the
  * expression is first evaluated or compiled, as Spark's `Lower`
  * reads it. */
private[graft] final case class LowerText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lower"

  private lazy val icu = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(text: Any): Any =
    TextOps.lowerOf(text.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.operators.TextOps$$.MODULE$$.lowerOf($t, $icu)")

  override protected def withNewChildInternal(c: Expression): LowerText =
    copy(child = c)
}
