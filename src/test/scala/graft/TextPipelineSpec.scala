package graft

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{functions => F}

/** The round-4 training-pipeline additions: repetition signals,
  * PII scrubbing, and eval-set decontamination.
  */
class TextPipelineSpec extends SparkSpec {

  test("TextOps.lower gives Spark's lower, ICU case mappings on and off") {
    val s = spark
    import s.implicits._
    val texts = Seq("Plain ASCII Text", "İstanbul İİ", "ΟΔΟΣ ΣΟΦΟΣ Σ", "Straße STRASSE",
      "MiXeD Ünïcödé ΣΑΣ 123 ǅ ǈ", "", null).toDF("text")
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = s.conf.getOption(key)
    try for (icu <- Seq("true", "false")) {
      s.conf.set(key, icu)
      // once folded on the driver (a local frame), once compiled
      for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
          identity, _.repartition(2))) {
        val got = f(texts).select(F.col("text"), F.lower(F.col("text")),
            TextOps.lower(F.col("text"))).collect()
        assert(got.length == 7)
        got.foreach(r => assert(r.getString(1) == r.getString(2),
          s"icu=$icu: ${r.getString(0)} -> ${r.getString(1)} vs ${r.getString(2)}"))
      }
    } finally before.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  test("repetitionSignals: dup lines, dup tokens, top bigram share") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // 2 distinct lines of 4, 'a b' bigram dominates
      (1L, "a b a b\na b a b\nc d e f\nc d e f"),
      // all tokens distinct, every bigram unique
      (2L, "one two three four"),
      // single token: no bigrams at all
      (3L, "solo")
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs).orderBy("doc_id").collect()
    assert(out(0).getDouble(1) == 0.5) // dup_line_frac: 2 dup lines of 4
    // 16 tokens, 6 distinct -> 1 - 6/16 = 0.625
    assert(out(0).getDouble(2) == 0.625)
    // the \s+ split crosses line breaks, so the token stream is
    // [a b a b a b a b c d e f c d e f]: 15 bigrams, 'a b' tops at 4
    // -> round(4/15, 4) = 0.2667
    assert(out(0).getDouble(3) == 0.2667)
    assert(out(1).getDouble(1) == 0.0)
    assert(out(1).getDouble(2) == 0.0)
    // 3 bigrams, all unique -> 1/3
    assert(out(1).getDouble(3) == 0.3333)
    assert(out(2).getDouble(3) == 0.0) // no bigrams -> 0, not NaN
  }

  test("piiScrub: counts and redacts emails, IPs, phone runs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@test-host.org and root@10.0.0.1 ip 192.168.1.255 tel +44 (0) 7700-900123 end"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs).orderBy("doc_id").collect()
    val r1 = out(0)
    // root@10.0.0.1 is email-shaped up to the TLD check: '10.0.0.1'
    // has no alpha TLD, so only a.b+c@test-host.org counts as email;
    // 10.0.0.1 and 192.168.1.255 count as IPs
    assert(r1.getInt(1) == 1, s"emails: ${r1.getInt(1)}")
    assert(r1.getInt(2) == 2, s"ips: ${r1.getInt(2)}")
    assert(r1.getInt(3) == 1, s"phones: ${r1.getInt(3)}")
    val red = r1.getString(4)
    assert(red.contains("<EMAIL>") && red.contains("<IP>") && red.contains("<PHONE>"))
    // 'root@<IP>' legitimately keeps its '@' (not email-shaped), so
    // assert on the concrete PII strings instead
    assert(!red.contains("test-host.org") && !red.contains("192.168"), red)
    assert(out(1).getInt(1) == 0 && out(1).getInt(2) == 0 && out(1).getInt(3) == 0)
    assert(out(1).getString(4) == "no pii here at all")
  }

  test("dupClusters groups transitively and keeps the min id per component") {
    val s = spark
    import s.implicits._
    // A~B, B~C (A and C never compared) + an unrelated pair
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), out)
  }

  test("decontaminate drops exactly the corpus docs sharing an n-gram with eval") {
    val s = spark
    import s.implicits._
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a quick brown fox jumps into view"), // shares 'quick brown fox jumps'
      (2L, "the slow brown fox sleeps all day"), // no shared 4-gram
      (3L, "totally unrelated text about spark engines")
    ).toDF("doc_id", "text")
    val survivors = Dedup.decontaminate(corpus, eval, n = 4)
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(2L, 3L), survivors.mkString(","))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dedupLines keeps the first (doc_id, pos) occurrence corpus-wide") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "boilerplate header\nunique one\nboilerplate header"),
      (2L, "boilerplate header\nunique two"),
      (3L, "all original\nlines here")
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLines(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1 keeps pos 0 + 'unique one', drops its own repeat at pos 2
    assert(out(0) == ((1L, 2L, 1L, md5Hex("boilerplate header\nunique one"))))
    // doc 2 loses the header (doc 1 pos 0 is the keeper)
    assert(out(1) == ((2L, 1L, 1L, md5Hex("unique two"))))
    // doc 3 untouched
    assert(out(2) == ((3L, 2L, 0L, md5Hex("all original\nlines here"))))
  }

  test("dedupLines segment mode dedups fixed k-token windows") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e"),   // segments: 'a b', 'c d', 'e'
      (2L, "a b x y")      // 'a b' duplicates doc 1 pos 0; 'x y' unique
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLines(docs, minCount = 2, segmentTokens = Some(2))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 3L, 0L, md5Hex("a b c d e"))))
    assert(out(1) == ((2L, 1L, 1L, md5Hex("x y"))))
  }

  test("dedupLines drops every copy past the keeper; empty doc -> md5('')") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "same line"),
      (2L, "same line"),
      (3L, "same line")
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLines(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 1L, 0L, md5Hex("same line"))))
    assert(out(1) == ((2L, 0L, 1L, md5Hex(""))))
    assert(out(2) == ((3L, 0L, 1L, md5Hex(""))))
  }

  test("encodeTokens: broadcast map-only encode, OOV to unk, null text empty") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the the dog"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val vocab = Seq(("the", 0L), ("cat", 1L), ("sat", 2L)).toDF("token", "id")
    val got = graft.operators.TextOps.encodeTokens(docs, vocab, unkId = -1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "0 1 2", 3L, 0L),
      (2L, "0 0 -1", 3L, 1L), // repeated in-vocab + one OOV
      (3L, "", 0L, 0L)))
    // map-only: the corpus never shuffles — no exchange above the scan
    // (the vocab collect is its own tiny job, not part of this plan)
    val plan = graft.operators.TextOps.encodeTokens(docs, vocab, unkId = -1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the vocab gate catches a corpus-sized dictionary
    val e = intercept[IllegalArgumentException](
      graft.operators.TextOps.encodeTokens(docs, vocab, unkId = -1L, maxVocab = 2L))
    assert(e.getMessage.contains("maxVocab"))
    // a maxVocab past Int.MaxValue must not wrap the probe
    assert(graft.operators.TextOps.encodeTokens(
      docs, vocab, unkId = -1L, maxVocab = Long.MaxValue).count() == 3L)
    // duplicate dictionary entries fail loudly instead of encoding
    // with an arbitrary partition-order-dependent id
    val dup = vocab.union(Seq(("the", 7L)).toDF("token", "id"))
    val d = intercept[IllegalArgumentException](
      graft.operators.TextOps.encodeTokens(docs, dup, unkId = -1L))
    assert(d.getMessage.contains("duplicate"))
  }

  test("bm25 ranks term-dense docs first and honors k") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark spark spark filler filler filler filler filler"),
      (2L, "spark filler filler filler filler filler filler filler"),
      (3L, "filler filler filler filler filler filler filler filler"),
      (4L, "spark vector filler filler filler filler filler filler"),
      (5L, "spark vector")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("spark", "vector"), k = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length == 3)
    // doc 5: both terms AND the shortest doc (length normalization)
    assert(out(0)._1 == 5L, out.mkString(","))
    // both-term docs beat the single-term tf=3 doc? doc 4 (2 terms, dl 8)
    // vs doc 1 (tf 3 of one term, dl 8): 'vector' is rarer (df 2 vs 4)
    // so its idf outweighs the saturated tf
    assert(out.map(_._1).contains(4L))
    assert(!out.map(_._1).contains(3L)) // no terms, no row
    // scores strictly ordered desc
    assert(out.sliding(2).forall(p => p(0)._2 >= p(1)._2))
  }

  test("unigramLogProb: add-one bits/token, OOV bucket, map-only score") {
    val s = spark
    import s.implicits._
    val lm = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // counts a:3 b:1 c:1 -> N=5, V=3, denom=9
    // p(a)=4/9, p(b)=p(c)=2/9, OOV=1/9
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val docs = Seq(
      (1L, "a a b"), // in-LM: (2*log2(9/4) + log2(9/2)) / 3
      (2L, "a z"),   // cross-corpus shape: z is OOV -> log2(9)
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(docs, lm).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out(0)._2 == 3L)
    assert(math.abs(out(0)._3 - (2 * log2(9.0 / 4) + log2(9.0 / 2)) / 3) < 1e-12)
    assert(math.abs(out(1)._3 - (log2(9.0 / 4) + log2(9.0)) / 2) < 1e-12)
    assert(out(2) == ((3L, 0L, 0.0))) // null text
    // scoring is map-only over the docs scan: no exchange in its plan
    // (the LM training agg is a separate job behind the collect)
    val plan = TextOps.unigramLogProb(docs, lm)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the gate catches an unaggregated-corpus-sized LM
    val e = intercept[IllegalArgumentException](
      TextOps.unigramLogProb(docs, lm, maxVocab = 2L))
    assert(e.getMessage.contains("maxVocab"))
  }

  test("dsirWeights: hashed-gram log-ratio, target affinity, map-only") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, "good clean prose")).toDF("doc_id", "text")
    val raw = Seq((2L, "spam spam junk")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "good clean prose"),
      (2L, "spam spam junk"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val B = 64
    val out = TextOps.dsirWeights(docs, target, raw, buckets = B)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // n_grams = unigrams + bigrams = 3 + 2
    assert(out(0)._2 == 5L && out(1)._2 == 5L)
    // a target-looking doc scores above a raw-looking one
    assert(out(0)._3 > 0.0 && out(1)._3 < 0.0)
    assert(out(0)._3 > out(1)._3)
    assert(out(2) == ((3L, 0L, 0.0))) // null text
    // closed-form check for the target doc: its 5 grams are unique,
    // each lands in a target bucket with c=1 (barring collisions the
    // assertion below would catch): delta = log2(2/(5+B)) - log2(1/(5+B))
    // = 1 bit per gram when buckets don't collide across corpora
    val tGrams = TextOps.hashedGramsOf("good clean prose", B)
    val rGrams = TextOps.hashedGramsOf("spam spam junk", B)
    if (tGrams.distinct.length == 5 && tGrams.intersect(rGrams).isEmpty)
      assert(math.abs(out(0)._3 - 5.0) < 1e-12, out(0).toString)
    // scoring is map-only over the docs scan
    val plan = TextOps.dsirWeights(docs, target, raw, buckets = B)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException](
      TextOps.dsirWeights(docs, target, raw, buckets = 0))
  }

  test("nbClassify: add-one NB argmax, OOV, prior tie-break, map-only") {
    val s = spark
    import s.implicits._
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val labeled = Seq((1L, "x x y", "A"), (2L, "x z", "B"))
      .toDF("doc_id", "text", "lab")
    // cnt: (A,x)=2 (A,y)=1 (B,x)=1 (B,z)=1; V=3; denomA=3+3+1=7 denomB=2+3+1=6
    // priors: both log2(1/2)
    val docs = Seq(
      (1L, "x y"), // A: log2(3/7)+log2(2/7) vs B: log2(2/6)+log2(1/6) -> A
      (2L, "q"),   // OOV: A log2(1/7) vs B log2(1/6) -> B, margin log2(7/6)
      (3L, null.asInstanceOf[String]) // prior tie -> label asc "A", margin 0
    ).toDF("doc_id", "text")
    val out = TextOps.nbClassify(docs, labeled, "lab").orderBy("doc_id")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out(0)._2 == "A" && out(0)._3 == 2L)
    val mA = log2(3.0 / 7) + log2(2.0 / 7) - (log2(2.0 / 6) + log2(1.0 / 6))
    assert(math.abs(out(0)._4 - mA) < 1e-12)
    assert(out(1)._2 == "B" && math.abs(out(1)._4 - log2(7.0 / 6)) < 1e-12)
    assert(out(2) == ((3L, "A", 0L, 0.0)))
    // scoring is map-only over the docs scan
    val plan = TextOps.nbClassify(docs, labeled, "lab")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    val e = intercept[IllegalArgumentException](
      TextOps.nbClassify(docs, labeled, "lab", maxModelRows = 2L))
    assert(e.getMessage.contains("maxModelRows"))
  }

  test("perplexityBuckets: tercile split covers all docs, head <= tail") {
    val s = spark
    import s.implicits._
    // 9 docs with spread token mixes -> distinct bits values
    val docs = (1L to 9L).map(i =>
      (i, (Seq.fill(i.toInt)("common") ++ Seq.fill(10 - i.toInt)(s"rare$i"))
        .mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.perplexityBuckets(docs, docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    assert(out.length == 9)
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // exact terciles over 9 distinct values: 3 docs per bucket
    assert(byBucket.values.forall(_.length == 3))
    // ordering law: every head score <= every middle <= every tail
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // custom cut points and names
    val halves = TextOps.perplexityBuckets(
      docs, docs, probs = Seq(0.5), names = Seq("keep", "drop"))
      .groupBy("bucket").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(halves("keep") + halves("drop") == 9)
    val e = intercept[IllegalArgumentException](
      TextOps.perplexityBuckets(docs, docs, probs = Seq(0.5),
        names = Seq("only")))
    assert(e.getMessage.contains("bucket names"))
    // edge: empty corpus -> empty frame, no NPE from the null quantile row
    assert(TextOps.perplexityBuckets(
      docs.where(F.col("doc_id") < 0), docs).count() == 0)
  }

  test("filterFunnel: first-fail attribution, null drops, reconciliation") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "ok doc"),                    // fails stage 0 (short)
      (2L, "a a a a a a a a a a"),       // passes both
      (3L, null.asInstanceOf[String]),   // null -> stage 0
      (4L, "zzzz zzzz zzzz zzzz zzzz zzzz zzzz zzzz zzzz zzzz") // no vowels -> stage 1
    ).toDF("doc_id", "text")
    val vow = F.length(
      F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", "")).cast("double")
    val out = TextOps.filterFunnel(docs, Seq(
      "min_tokens" -> (F.size(TextOps.tokens(F.col("text"))) >= 10),
      "vowel_ratio" -> (vow / F.length(F.col("text")) >= 0.2)))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out(0) == ((0, "min_tokens", 4L, 2L, 2L)))
    assert(out(1) == ((1, "vowel_ratio", 2L, 1L, 1L)))
    // reconciliation law: n_in(i+1) == n_out(i), n_in == dropped + out
    assert(out.forall(r => r._3 == r._4 + r._5))
    val e = intercept[IllegalArgumentException](
      TextOps.filterFunnel(docs, Seq.empty))
    assert(e.getMessage.contains("at least one stage"))
  }

  test("bpeTrain: exact merge sequence on the Sennrich reference corpus") {
    val s = spark
    import s.implicits._
    // the BPE paper's canonical word-frequency table: low x5, lower x2,
    // newest x6, widest x3 — merge sequence hand-computed with the
    // (count desc, left asc, right asc) tie-break:
    //   (e,s):9  (es,t):9  (est,</w>):9  (l,o):7  (lo,w):7
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, numMerges = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(merges == Seq(
      (0, "e", "s", "es", 9L),
      (1, "es", "t", "est", 9L),
      (2, "est", "</w>", "est</w>", 9L),
      (3, "l", "o", "lo", 7L),
      (4, "lo", "w", "low", 7L)), merges.toString)
    // layout invariance: the distributed word count feeds a
    // deterministic loop, so partitioning cannot change the sequence
    val repart = TextOps.bpeTrain(docs.repartition(7), numMerges = 5)
      .collect().map(r => r.getString(3)).toSeq
    assert(repart == merges.map(_._4))
    // early stop: asking for more merges than pairs exist terminates
    val tiny = Seq((0L, "ab")).toDF("doc_id", "text")
    // "ab</w>": (a,b) -> (ab,</w>) -> single symbol, no pairs left
    assert(TextOps.bpeTrain(tiny, numMerges = 99).count() == 2L)
    // the word-table gate trips with the sampling alternative named
    val e = intercept[IllegalArgumentException](
      TextOps.bpeTrain(docs, numMerges = 2, maxWords = 2))
    assert(e.getMessage.contains("stratifiedHashSample"))
    // degenerate corpora: empty and all-null text yield ZERO merges
    // (schema intact), not an exception
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.bpeTrain(empty, numMerges = 3).count() == 0L)
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(nulls, numMerges = 3).count() == 0L)
  }

  test("bpeTrain: non-BMP symbols are whole code points; ties break in UTF-8 order") {
    val s = spark
    import s.implicits._
    // "😀a" ×2 and "\uE000a" ×2: after (a,</w>) wins round 0 with
    // count 4, round 1 ties at count 2 between (😀, a</w>) and
    // (U+E000, a</w>). Code-point order (== the DuckDB oracle's binary
    // UTF-8 ORDER BY) puts U+E000 < U+1F600, so the U+E000 pair must win —
    // Java's UTF-16 compareTo would pick 😀 (its high surrogate
    // 0xD83D < 0xE000), the exact divergence this pins. And 😀 must
    // symbolize as ONE code point, never two half-surrogates.
    val docs = Seq.fill(2)("😀a").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
      .++(Seq.fill(2)("\uE000a").zipWithIndex
        .map { case (w, i) => (i + 10L, w) })
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, numMerges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq((0, "a", "</w>"), (1, "\uE000", "a</w>")),
      merges.toString)
    // no unpaired surrogate ever appears as a symbol
    val all = TextOps.bpeTrain(docs, numMerges = 4).collect()
      .flatMap(r => Seq(r.getString(1), r.getString(2), r.getString(3)))
    all.foreach { sym =>
      val hasLone = sym.exists(c => Character.isSurrogate(c)) &&
        sym.codePoints().toArray.exists(cp =>
          cp >= 0xD800 && cp <= 0xDFFF)
      assert(!hasLone, s"unpaired surrogate in symbol '$sym'")
    }
    // encode agrees: 😀a encodes over whole code points
    val enc = TextOps.bpeApply(
        Seq((0L, "😀a")).toDF("doc_id", "text"),
        TextOps.bpeTrain(docs, numMerges = 2))
      .select("pieces").head.getString(0)
    assert(enc == "😀 a</w>", s"pieces '$enc'")
  }

  test("codePointCompare: sign agrees with code-point-array order on random unicode") {
    // property check against an independent formulation: compare the
    // decoded code-point sequences lexicographically. Seeded random
    // strings mix ASCII, upper-BMP (>= U+E000), and supplementary
    // plane chars — the exact ranges where UTF-16 order diverges.
    val rng = new scala.util.Random(97)
    def randStr(): String = {
      val sb = new StringBuilder
      (0 until rng.nextInt(6)).foreach { _ =>
        rng.nextInt(4) match {
          case 0 => sb.append(('a' + rng.nextInt(26)).toChar)
          case 1 => sb.append((0xE000 + rng.nextInt(100)).toChar)
          case 2 => sb.appendAll(Character.toChars(0x1F600 + rng.nextInt(80)))
          case _ => sb.append(('0' + rng.nextInt(10)).toChar)
        }
      }
      sb.toString
    }
    def refCompare(a: String, b: String): Int = {
      val ca = a.codePoints().toArray
      val cb = b.codePoints().toArray
      val n = math.min(ca.length, cb.length)
      var i = 0
      while (i < n) {
        if (ca(i) != cb(i)) return Integer.compare(ca(i), cb(i))
        i += 1
      }
      Integer.compare(ca.length, cb.length)
    }
    (0 until 2000).foreach { _ =>
      val a = randStr(); val b = randStr()
      assert(Integer.signum(TextOps.codePointCompare(a, b)) ==
        Integer.signum(refCompare(a, b)),
        s"codePointCompare('$a', '$b') disagrees with the code-point array order")
    }
  }

  test("bpeApply: greedy encode with the learned merges, hand-checked pieces") {
    val s = spark
    import s.implicits._
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, numMerges = 5)
    // merges: es, est, est</w>, lo, low — so:
    //   low    -> l o w </w> -(lo)-> lo w </w> -(low)-> low </w>
    //   newest -> (e,s)->es, (es,t)->est, (est,</w>)->est</w>;
    //             n e w stay single (no such merges)
    //   lower  -> (lo) -> (low) -> low e r </w>
    val out = TextOps.bpeApply(
        Seq((0L, "low newest lower"), (1L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"),
        merges)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == (("low </w> n e w est</w> low e r </w>", 10L, 3L)),
      out(0L).toString)
    assert(out(1L) == (("", 0L, 0L)))
    // no merge table: every word splits to chars + the end marker
    val bare = TextOps.bpeApply(
        Seq((0L, "ab")).toDF("doc_id", "text"),
        merges.where(F.lit(false)))
      .head
    assert(bare.getString(1) == "a b </w>" && bare.getLong(2) == 3L)
    // the merge-table gate names the expected input
    val e = intercept[IllegalArgumentException](
      TextOps.bpeApply(Seq((0L, "x")).toDF("doc_id", "text"),
        merges, maxMerges = 2))
    assert(e.getMessage.contains("bpeTrain"))
  }

  test("gopherFlags: each published rule trips on its crafted document") {
    val s = spark
    import s.implicits._
    // a clean passing doc: 60 normal words incl. several stop words
    val good = (Seq("the", "be", "to", "of", "and") ++
      Seq.fill(55)("word")).mkString(" ")
    val docs = Seq(
      (0L, good),                                        // passes all
      (1L, "too few words the be"),                      // rule 1 (n < 50)
      (2L, (Seq("the", "be") ++ Seq.fill(58)("ab")).mkString(" ")), // rule 2 (mean len < 3)
      (3L, (Seq("the", "be") ++ Seq.fill(58)("#tag")).mkString(" ")), // rule 3 (symbols > 10%)
      (4L, (0 until 60).map(i => s"- the be bullet line $i").mkString("\n")), // rule 4 (90% bullets)
      (5L, (0 until 60).map(i => s"the be trailing line $i ...").mkString("\n")), // rule 5 (30% ellipsis ends)
      (6L, (Seq("the", "be") ++ Seq.fill(58)("12345")).mkString(" ")), // rule 6 (alpha < 80%)
      (7L, Seq.fill(60)("word").mkString(" ")),          // rule 7 (< 2 stop words)
      (8L, null.asInstanceOf[String])                    // null: zero counts, fails
    ).toDF("doc_id", "text")
    val out = TextOps.gopherFlags(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(9)).toMap
    assert(out(0L), "the clean doc must pass every rule")
    (1L to 8L).foreach(id => assert(!out(id), s"doc $id must fail"))
    // signals are integers a funnel can attribute: the bullet doc's
    // line counts are exact
    val bulletRow = TextOps.gopherFlags(docs)
      .where(F.col("doc_id") === 4L).head
    assert(bulletRow.getLong(3) == 60L && bulletRow.getLong(4) == 60L)
    // composes with filterFunnel via the passes column
    assert(TextOps.gopherFlags(docs).where(F.col("passes")).count() == 1L)
  }

  test("c4Clean: each line rule and doc flag trips on its crafted page") {
    val s = spark
    import s.implicits._
    val goodLine = "this line has at least five words."
    val docs = Seq(
      (0L, s"$goodLine\n$goodLine\nAnd a third full sentence here!"),
      (1L, s"$goodLine\nno terminal punctuation on this line\nshort one."),
      (2L, s"$goodLine\nenable javascript cookies in your browser please."),
      (3L, s"$goodLine\n$goodLine\nLorem IPSUM dolor sit amet indeed."),
      (4L, s"$goodLine\n$goodLine\nif (x) { return y; }"),
      (5L, s"$goodLine\n$goodLine"), // only 2 sentences
      (6L, "Quoted lines also count as terminal \"\ntrailing spaces kept too five words.   "),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val rows = TextOps.c4Clean(docs).orderBy("doc_id").collect()
    def r(i: Int) = rows(i)
    // doc 0: all three lines kept, 3 sentences, passes
    assert(r(0).getLong(3) == 3L && r(0).getLong(4) == 3L)
    assert(r(0).getBoolean(7))
    // doc 1: the unpunctuated line and the 2-word line are dropped
    assert(r(1).getLong(3) == 1L && r(1).getString(1) == goodLine)
    // doc 2: the javascript line is dropped despite valid punct/words
    assert(r(2).getLong(3) == 1L)
    // doc 3/4: lines may be kept but the doc-level flag fails the page
    assert(r(3).getBoolean(5) && !r(3).getBoolean(7))
    assert(r(4).getBoolean(6) && !r(4).getBoolean(7))
    // doc 5: clean but below the 3-sentence floor
    assert(r(5).getLong(4) == 2L && !r(5).getBoolean(7))
    // doc 6: a trailing quote is terminal; rtrim ignores line-end spaces
    assert(r(6).getLong(3) == 2L)
    // doc 7: null text = empty page semantics
    assert(r(7).getLong(3) == 0L && r(7).getString(1) == "" &&
      !r(7).getBoolean(7))
    // the whole operator is one map-only scan: no exchange in the plan
    val plan = TextOps.c4Clean(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
  }

  test("bigramLogProb: lambda=0 degenerates to unigram; word order carries signal") {
    val s = spark
    import s.implicits._
    val lm = (0 until 60).map(i =>
      (i.toLong, "the cat sat on the mat and the dog ran to the cat"))
      .toDF("doc_id", "text")
    // in-order vs scrambled: same unigrams, so the unigram model can't
    // tell them apart — the bigram model must
    val probe = Seq(
      (1000L, "the cat sat on the mat"),
      (1001L, "mat the on sat cat the"),
      (1002L, "x"), (1003L, "")
    ).toDF("doc_id", "text")
    def bits(df: org.apache.spark.sql.DataFrame, lam: Double) =
      graft.operators.TextOps.bigramLogProb(df, lm, lambda = lam)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = bits(probe, 0.7)
    assert(b(1000L) < b(1001L) - 0.5,
      s"in-order text must score fewer bits: ${b(1000L)} vs ${b(1001L)}")
    // unigram model: identical scores for the anagram pair
    val uni = graft.operators.TextOps.unigramLogProb(probe, lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(uni(1000L) - uni(1001L)) < 1e-9)
    // lambda = 0 kills the bigram term entirely -> exactly unigram
    val b0 = bits(probe, 0.0)
    for (id <- Seq(1000L, 1001L))
      assert(math.abs(b0(id) - uni(id)) < 1e-9, s"λ=0 must equal unigram at $id")
    // degenerate docs survive: single token scores unigram-only, empty
    // text tokenizes to one "" token (house convention) — finite both
    assert(!b(1002L).isNaN && !b(1003L).isNaN)
    intercept[IllegalArgumentException](
      graft.operators.TextOps.bigramLogProb(probe, lm, lambda = 1.5))
  }

  test("langMix: mixed doc flagged, modal tie broken, blanks and unk handled") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // 2 en lines + 1 de line: mixed, primary en
      (1L, "the cat and dog\nthe other line and more\nder hund und katze"),
      // pure en with blank lines: not mixed
      (2L, "the a b\n\n  \nand c d"),
      // one en + one de line: modal TIE -> lexicographic 'de' wins
      (3L, "the cat and dog\nder hund und katze"),
      // marker-free: unk primary, zero recognized langs, not mixed
      (4L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.langMix(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4))).toMap
    assert(out(1L) == ((3L, "en", 2L, 1)))
    assert(out(2L) == ((2L, "en", 1L, 0)))
    assert(out(3L) == ((2L, "de", 2L, 1)), s"tie must break to 'de': ${out(3L)}")
    assert(out(4L) == ((1L, "unk", 0L, 0)))
  }

  test("rrfFuse: overlap wins, rank decay, no score calibration needed") {
    val s = spark
    import s.implicits._
    // lexical list ranks 1,2,3; semantic list ranks 3,4 — doc 3 is
    // the only doc BOTH retrievers found and must fuse to the top even
    // though it is rank 3 and rank 1 respectively
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val sem = Seq((3L, 1L), (4L, 2L)).toDF("doc_id", "rank")
    val out = TextOps.rrfFuse(Seq(lex, sem), kConst = 60).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.head._1 == 3L && out.head._3 == 2L,
      s"the doubly-retrieved doc must rank first: ${out.toSeq}")
    val expect3 = BigDecimal(1.0 / 63 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out.head._2 - expect3) < 1e-9)
    // single-list docs order by their rank (1/(60+r) decays in r);
    // docs 2 and 4 tie at rank 2 in their lists — doc_id breaks it
    val singles = out.filter(_._3 == 1L).map(_._1).toSeq
    assert(singles == Seq(1L, 2L, 4L),
      s"rank-1 beats the rank-2 tie (id order): $singles")
    intercept[IllegalArgumentException](TextOps.rrfFuse(Nil))
    intercept[IllegalArgumentException](TextOps.rrfFuse(Seq(lex), kConst = 0))
  }
}
