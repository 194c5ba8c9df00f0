package graft

import graft.api.ArrowSpaceBuilder
import graft.core.GraphParams
import graft.operators.Dedup
import org.apache.spark.sql.{functions => F}

class DedupSpec extends SparkSpec {

  /** 60 base docs + planted near-dups (one word changed) + exact dups. */
  lazy val docs = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(21)
    val vocab = Vector("data", "spark", "query", "join", "scan", "table",
      "row", "batch", "agg", "filter", "merge", "sort", "hash", "key", "value")
    def doc(): String = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 60).map(i => (i.toLong, doc()))
    val nearDups = base.take(5).map { case (i, t) =>
      (100L + i, "zzz " + t.split(" ").drop(1).mkString(" "))
    }
    val exactDups = base.slice(5, 8).map { case (i, t) => (200L + i, t) }
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exact groups collapse planted exact duplicates") {
    val groups = Dedup.exactGroups(docs).where(F.col("n_docs") > 1).collect()
    assert(groups.length == 3, s"expected 3 dup groups, got ${groups.length}")
    assert(groups.forall(_.getLong(1) == 2L))
    // keeper is the original (smaller id)
    assert(groups.forall(_.getLong(2) < 200L))
  }

  /** The interpreted Column form of [[Dedup.shingles]] that the
    * compiled kernel replaced: split once here, then once more per
    * shingle inside the `transform` lambda. */
  private def transformShingles(text: org.apache.spark.sql.Column, n: Int) = {
    val t = graft.operators.TextOps.tokens(text)
    F.array_distinct(
      F.when(F.size(t) < n, F.array(F.concat_ws(" ", t)))
        .otherwise(F.transform(
          F.sequence(F.lit(0), F.size(t) - n),
          idx => F.concat_ws(" ", F.slice(t, idx + 1, F.lit(n))))))
  }

  test("the compiled shingle kernel equals the array_distinct/transform expression") {
    val s = spark
    import s.implicits._
    val edge = Seq[(Long, String)](
      (1001L, ""), (1002L, "two words"), (1003L, "a b c a b c a b c a b"),
      (1004L, "   spaces around  both ends   "),
      (1005L, "\ttab lead\tand\nnew lines\n end\n"), (1006L, "one"),
      (1007L, null), (1008L, "x x x x x x"), (1009L, " \t "))
      .toDF("doc_id", "text").unionByName(docs)
    for (n <- Seq(1, 3, 5)) {
      val kernel = edge.select(F.col("doc_id"), Dedup.shingles(F.col("text"), n))
      val column = edge.select(F.col("doc_id"), transformShingles(F.col("text"), n))
      // once folded on the driver (a local frame), once compiled in a
      // whole-stage plan (the frame behind a shuffle)
      for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
          identity, _.repartition(3))) {
        def rows(df: org.apache.spark.sql.DataFrame) = f(df).collect()
          .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
        assert(rows(kernel) == rows(column), s"shingles diverge at n = $n")
      }
    }
    val nulls = edge.where(F.col("doc_id") === 1007L)
      .select(Dedup.shingles(F.col("text"), 3)).collect()
    assert(nulls.map(_.isNullAt(0)).toSeq == Seq(true), "null text gives null shingles")
  }

  test("an old-format layout loads for the batch faces; its writers refuse it") {
    val s = spark
    import s.implicits._
    val reference = docs.where(F.col("doc_id") < 100)
      .unionByName(Seq[(Long, String)]((999L, null)).toDF("doc_id", "text"))
    val corpus = docs.where(F.col("doc_id") >= 100).unionByName(Seq(
        (300L, "totally novel content about nothing seen before"),
        (301L, "another unseen document with fresh words entirely"))
      .toDF("doc_id", "text"))
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // format 1, as its writer left it: the whole signature in every
    // band row, (doc_id, sh) shingles, no "format" in meta.json
    val old = tmp("graft-mh-v1")
    Dedup.bandKeys(Dedup.minhashSignatures(reference, 3, 64), 64, 16)
      .select("band", "bh", "doc_id", "sig")
      .write.partitionBy("band").parquet(s"$old/bands")
    reference.select(F.col("doc_id"), transformShingles(F.col("text"), 3).as("sh"))
      .write.parquet(s"$old/shingles")
    graft.api.ArrowSpaceModel.writeSidecar(s, s"$old/meta.json",
      """{"numHashes":64,"bands":16,"shingleLen":3}""")
    // one streamed format-1 segment, as the format-1 gate wrote it: a
    // copy of a corpus document under a new id
    val seg = Seq((500L, "totally novel content about nothing seen before"))
      .toDF("doc_id", "text")
    Dedup.bandKeys(Dedup.minhashSignatures(seg, 3, 64), 64, 16)
      .select("band", "bh", "doc_id", "sig").withColumn("seg", F.lit(7L))
      .write.partitionBy("seg", "band").parquet(s"$old/bands_appends")
    seg.select(F.col("doc_id"), transformShingles(F.col("text"), 3).as("sh"))
      .withColumn("seg", F.lit(7L))
      .write.partitionBy("seg").parquet(s"$old/shingles_appends")
    val cur = tmp("graft-mh-v2")
    val built = Dedup.minhashIndexBuild(reference)
    Dedup.minhashIndexSave(built, cur)
    Dedup.minhashIndexRelease(built)
    Dedup.minhashAppendSegment(seg, cur, 7L, 3, 64, 16)
    assert(!s.read.parquet(s"$cur/bands").columns.contains("sig"))

    def survivors(idx: Dedup.MinhashIndex) =
      Dedup.dedupAgainstIndex(corpus, idx).collect().map(_.toString).sorted.toSeq
    val want = survivors(Dedup.minhashIndexLoad(s, cur))
    assert(want.length == 2, want)
    assert(survivors(Dedup.minhashIndexLoad(s, old)) == want,
      "the old layout dedups differently")
    val wantAll = survivors(Dedup.minhashIndexLoadWithAppends(s, cur))
    assert(wantAll.length == 1, wantAll)
    assert(survivors(Dedup.minhashIndexLoadWithAppends(s, old)) == wantAll,
      "the old layout's segment dedups differently")
    def state(idx: Dedup.MinhashIndex) =
      (idx.bandRows.select("band", "bh", "doc_id").collect().map(_.toString)
        .sorted.toSeq,
        idx.refShingles.select("doc_id", "sig", "sh").collect().map(r =>
          (r.getLong(0), Option(r.getSeq[Long](1)), Option(r.getSeq[String](2))))
          .sortBy(_._1).toSeq)
    val oldState = state(Dedup.minhashIndexLoadWithAppends(s, old))
    assert(oldState == state(Dedup.minhashIndexLoadWithAppends(s, cur)),
      "the old layout loads another state")

    // every writer refuses it, naming the migration, and writes nothing
    val out = tmp("graft-mh-v1-out")
    def refused(body: => Any) = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("minhashIndexSave(minhashIndexLoadWithAppends("),
        e.getMessage)
    }
    refused(graft.streaming.StreamingOps.minhashGateBatch(
      corpus, 8L, old, out, 0.8))
    refused(Dedup.minhashCompactAppends(s, old))
    refused(Dedup.minhashLayoutRemove(s, old, Seq(3L).toDF("doc_id")))
    assert(new java.io.File(old).list().filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("bands", "bands_appends", "meta.json", "shingles", "shingles_appends"),
      "a refused writer touched the layout")
    assert(new java.io.File(out).list().isEmpty)
    // the named migration gives the current layout, the segment's
    // document included
    val migrated = tmp("graft-mh-mig")
    Dedup.minhashIndexSave(Dedup.minhashIndexLoadWithAppends(s, old), migrated)
    assert(state(Dedup.minhashIndexLoadWithAppends(s, migrated)) == oldState)
    graft.streaming.StreamingOps.minhashGateBatch(corpus, 8L, migrated, out, 0.8)
    assert(s.read.parquet(out).count() == wantAll.length)
  }

  test("compiled minhash signatures are bit-identical to the Column formulation") {
    // texts with the trim/split edge cases the Scala replica must
    // honor: leading/trailing non-space whitespace (Spark trim strips
    // 0x20 only), repeated separators, short (< shingleLen) docs
    val s = spark
    import s.implicits._
    val edge = Seq(
      (900L, "\tleading tab and  double  space kept intact\n"),
      (901L, "two words"),
      (902L, ""),
      (903L, "   spaces around a normal sentence with enough tokens   ")
    ).toDF("doc_id", "text")
    val all = docs.unionByName(edge)
    val fast = Dedup.minhashSignatures(all, 3, 64)
    val column = all
      .select(F.col("doc_id").cast("long"), transformShingles(F.col("text"), 3).as("sh"))
      .withColumn("shh", F.transform(F.col("sh"), sh => F.xxhash64(sh)))
      .select(F.col("doc_id"), Dedup.minhashFromHashes(F.col("shh"), 64).as("sig"))
    val joined = fast.alias("f")
      .join(column.alias("c"), "doc_id")
      .where(F.expr("f.sig != c.sig"))
    assert(joined.count() == 0, "compiled signature diverged from Column path")
  }

  test("minhash LSH finds the planted near-duplicates with high jaccard") {
    val pairs = Dedup.minhashNearDupPairs(docs)
      .where(F.col("jaccard") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 100L + i)),
        s"planted near-dup ($i, ${100 + i}) not found in $pairs")
    }
  }

  test("dedupCorpus removes exact and near duplicates, keeps originals") {
    val surviving = Dedup.dedupCorpus(docs, jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // all 60 base docs survive
    (0 until 60).foreach(i => assert(surviving.contains(i.toLong), s"base $i dropped"))
    // exact dups (200+) and planted near-dups (100+) are gone
    (5 until 8).foreach(i => assert(!surviving.contains(200L + i)))
    (0 until 5).foreach(i => assert(!surviving.contains(100L + i), s"near-dup ${100 + i} kept"))
  }

  test("dedupAgainst drops exactly the corpus docs near a reference doc") {
    // reference = the 60 originals; corpus = planted near-dups (ids
    // 100-104, one word changed) + exact dups (200-202) + fresh docs.
    // The near-dups and exact dups must be dropped; fresh docs survive;
    // the reference is never modified by construction.
    val reference = docs.where(F.col("doc_id") < 100)
    val s = spark
    import s.implicits._
    val fresh = Seq(
      (300L, "totally novel content about nothing seen before"),
      (301L, "another unseen document with fresh words entirely"))
      .toDF("doc_id", "text")
    val corpus = docs.where(F.col("doc_id") >= 100).unionByName(fresh)
    val survivors = Dedup.dedupAgainst(corpus, reference, jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(300L, 301L),
      s"only the fresh docs should survive: $survivors")
    // cross pairs at >= 0.8 match the brute-force cross jaccard
    val got = Dedup.minhashNearDupAgainst(corpus, reference)
      .where(F.col("jaccard") >= 0.8)
      .select("doc_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = (df: org.apache.spark.sql.DataFrame) =>
      df.select(F.col("doc_id"), Dedup.shingles(F.col("text"), 3).as("sh"))
    val brute = sh(corpus).crossJoin(
        sh(reference).select(F.col("doc_id").as("ref_id"), F.col("sh").as("sh_r")))
      .select(F.col("doc_id"), F.col("ref_id"),
        (F.size(F.array_intersect(F.col("sh"), F.col("sh_r"))).cast("double") /
          F.size(F.array_union(F.col("sh"), F.col("sh_r")))).as("j"))
      .where(F.col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"banded cross pairs != brute force: $got vs $brute")
  }

  test("minhash index: parity with two-frame operator, exact append law, round trip") {
    val s = spark
    import s.implicits._
    val reference = docs.where(F.col("doc_id") < 100)
    val fresh = Seq(
      (300L, "totally novel content about nothing seen before"),
      (301L, "another unseen document with fresh words entirely"))
      .toDF("doc_id", "text")
    val corpus = docs.where(F.col("doc_id") >= 100).unionByName(fresh)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    // 1. index path == two-frame path, row for row (shared candidate
    // scheme by construction — the index stores bandKeys rows)
    val twoFrame = pairsOf(Dedup.minhashNearDupAgainst(corpus, reference))
    val index = Dedup.minhashIndexBuild(reference)
    try {
      assert(pairsOf(Dedup.minhashNearDupAgainstIndex(corpus, index)) == twoFrame)
      // 2. survivors contract matches dedupAgainst
      val survivors = Dedup.dedupAgainstIndex(corpus, index)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(300L, 301L), s"index survivors: $survivors")
    } finally Dedup.minhashIndexRelease(index)
    // 3. append is EXACT (per-doc state, unlike IVF's frozen
    // centroids): build(A ∪ B) == append(build(A), B)
    val refA = reference.where(F.col("doc_id") < 30)
    val refB = reference.where(F.col("doc_id") >= 30)
    val appended = Dedup.minhashIndexAppend(Dedup.minhashIndexBuild(refA), refB)
    try {
      assert(pairsOf(Dedup.minhashNearDupAgainstIndex(corpus, appended)) == twoFrame)
    } finally Dedup.minhashIndexRelease(appended)
    // 4. save/load round trip; saved band layout is band-partitioned
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    val built = Dedup.minhashIndexBuild(reference)
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)
    val loaded = Dedup.minhashIndexLoad(spark, dir)
    assert(loaded.numHashes == 64 && loaded.bands == 16 && loaded.shingleLen == 3)
    assert(pairsOf(Dedup.minhashNearDupAgainstIndex(corpus, loaded)) == twoFrame)
    assert(new java.io.File(s"$dir/bands").listFiles()
      .exists(_.getName.startsWith("band=")),
      "saved band rows must be partitioned by band")
  }

  test("containmentPairs: quotes invisible to Jaccard; df prune; denominator") {
    val s = spark
    import s.implicits._
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")   // 12 tokens
    val filler = (1 to 80).map(i => s"f$i").mkString(" ")  // 80 tokens
    val boiler = (1 to 10).map(_ => "same old boilerplate line here now").mkString(" ")
    val docs = Seq(
      (1L, quote),                       // the short doc
      (2L, s"$filler $quote"),           // the long doc quoting it
      (3L, (1 to 70).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .containmentPairs(docs, n = 6, minContainment = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // doc 1 is fully contained in doc 2 (every 6-gram of the quote
    // appears verbatim) …
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"containment missed the quote: ${pairs.toSeq}")
    // … but NOT vice versa, and the unrelated doc matches nothing
    assert(!pairs.exists(p => p._1 == 2L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the symmetric measure on the same pair is tiny — the class of
    // duplication this operator exists for
    val jac = {
      val sh = (t: String) => t.split(" ").sliding(6).map(_.mkString(" ")).toSet
      val a = sh(quote); val b = sh(s"$filler $quote")
      (a & b).size.toDouble / (a | b).size
    }
    assert(jac < 0.2, s"fixture broken: Jaccard $jac should be small")
    // df prune: a corpus of identical boilerplate docs exceeds maxDf —
    // every gram is pruned, docs drop out instead of fabricating
    // containment from stop-phrases
    val boilers = (10L to 20L).map(i => (i, boiler)).toDF("doc_id", "text")
    val pruned = graft.operators.Dedup
      .containmentPairs(boilers, n = 6, minContainment = 0.5, maxDf = 5)
      .count()
    assert(pruned == 0L, "boilerplate grams past maxDf must not match")
    intercept[IllegalArgumentException](
      graft.operators.Dedup.containmentPairs(docs, minContainment = 0.0))
  }

  test("minhash index maintenance law: remove+append tracks any snapshot diff") {
    val s = spark
    import s.implicits._
    val old = docs.where(F.col("doc_id") < 60)
    // snapshot transition: drop %7, edit %5 (token appended), add 3 new
    val k = F.col("doc_id")
    val neu = old.where(k % 7 =!= 0)
      .withColumn("text",
        F.when(k % 5 === 0, F.concat(F.col("text"), F.lit(" edited")))
          .otherwise(F.col("text")))
      .unionByName(Seq(
        (900L, "fresh addition one entirely new"),
        (901L, "fresh addition two entirely new"),
        (902L, "fresh addition three entirely new")).toDF("doc_id", "text"))
    val diff = graft.operators.Cdc.corpusDiff(old, neu)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gone = diff.filter(p => p._2 == "removed" || p._2 == "changed")
      .keys.toSeq
    val incoming = diff.filter(p => p._2 == "added" || p._2 == "changed")
      .keys.toSeq
    // incremental: remove ghosts, append the new versions
    val maintained = Dedup.minhashIndexAppend(
      Dedup.minhashIndexRemove(
        Dedup.minhashIndexBuild(old),
        gone.toDF("doc_id")),
      neu.where(F.col("doc_id").isin(incoming: _*)))
    val rebuilt = Dedup.minhashIndexBuild(neu)
    try {
      // the law: maintained index == rebuilt index, probe for probe
      val corpus = docs.where(F.col("doc_id") >= 100)
      def pairs(idx: Dedup.MinhashIndex) =
        Dedup.minhashNearDupAgainstIndex(corpus, idx).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      val a = pairs(maintained)
      val b = pairs(rebuilt)
      assert(a == b, s"maintained != rebuilt: ${(a diff b) ++ (b diff a)}")
      // and the stored state itself matches row-for-row
      assert(maintained.bandRows.select("band", "bh", "doc_id").collect().toSet ==
        rebuilt.bandRows.select("band", "bh", "doc_id").collect().toSet)
    } finally {
      Dedup.minhashIndexRelease(maintained)
      Dedup.minhashIndexRelease(rebuilt)
    }
  }

  test("simhash near-dup pairs include exact duplicates at hamming 0") {
    val pairs = Dedup.simhashNearDupPairs(docs, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (5 until 8).foreach { i =>
      assert(pairs.contains((i.toLong, 200L + i)),
        s"exact dup ($i, ${200 + i}) missing from simhash pairs")
    }
  }

  test("simhash chunk blocking is complete up to maxDist (pigeonhole, vs brute force)") {
    // Blocked equi-join candidates must find EVERY pair within the
    // Hamming bound - the maxDist+1-chunk pigeonhole guarantee.
    val s = spark
    import s.implicits._
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect()
    // 3/6/8 exercise the wide Manku path (default maxDist <= 8), 10
    // the classic maxDist+1 fallback
    for (maxDist <- Seq(3, 6, 8, 10)) {
      val brute = (for {
        (a, ha) <- sh; (b, hb) <- sh if a < b
        if java.lang.Long.bitCount(ha ^ hb) <= maxDist
      } yield (a, b)).toSet
      val blocked = Dedup.simhashNearDupPairs(docs, maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == brute,
        s"maxDist=$maxDist: blocked ${blocked.size} != brute ${brute.size}; " +
          s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    }
  }

  test("tokenHash60 equals the md5-hex-prefix value the DuckDB oracle computes") {
    val s = spark
    import s.implicits._
    // independent reimplementation via java MessageDigest: the value
    // must be the first 15 hex digits of md5(token) read base-16 —
    // i.e. what ('0x' || substr(md5(t), 1, 15))::BIGINT yields
    def expected(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val toks = Seq("data", "spark", "", "a", "ünïcødé", "0", "zzz")
    val got = toks.toDF("t")
      .select(Dedup.tokenHash60(F.col("t")).as("h"))
      .as[Long].collect()
    toks.zip(got).foreach { case (t, h) =>
      assert(h == expected(t), s"token '$t': $h != ${expected(t)}")
      assert(h >= 0L && h < (1L << 60), s"token '$t': $h outside 60 bits")
    }
  }

  test("simhash blocking caps the key fan-out; default degrades instead of exploding") {
    // explicit nBlocks beyond the cap must fail loudly BEFORE the plan
    // is built — C(60,54) subsets would OOM the driver
    val e = intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, maxDist = 6, nBlocks = 60))
    assert(e.getMessage.contains("blocking keys"), e.getMessage)
    // a large maxDist with the DEFAULT blocking must degrade to the
    // classic maxDist+1 scheme (linear keys), not raise: completeness
    // vs brute force at an operating point where maxDist+3 choose 3
    // would blow the cap
    val s = spark
    import s.implicits._
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect()
    val maxDist = 20 // C(23,3) = 1771 > 1024 -> fallback path
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= maxDist
    } yield (a, b)).toSet
    val blocked = Dedup.simhashNearDupPairs(docs, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"fallback blocking incomplete: missing=${(brute -- blocked).take(5)}")
  }

  test("simhash values stay below bit 60 (no sign-bit divergence possible)") {
    val s = spark
    import s.implicits._
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect()
    assert(sh.nonEmpty)
    sh.foreach { case (id, h) =>
      assert(h >= 0L && h < (1L << 60), s"doc $id simhash $h outside 60 bits")
    }
  }

  test("curateCorpus charges each doc to the FIRST failing stage") {
    val s = spark
    import s.implicits._
    def toks(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val dupText = toks("a", 20)
    val contamText = "alpha beta gamma delta " + toks("x", 16)
    val corpus = Seq(
      (0L, "tiny doc"),                   // fails quality (< 20 tokens)
      (1L, dupText),                      // keeper of its group -> kept
      (2L, dupText),                      // exact_dup
      (3L, contamText),                   // keeper, shares a 4-gram with eval
      (4L, toks("c", 20)),                // clean -> kept
      (6L, contamText),                   // dup of 3: charged exact_dup,
                                          //  NOT contaminated (sequential)
      (7L, null.asInstanceOf[String])     // null -> quality
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.curateCorpus(
        corpus, eval,
        F.size(graft.operators.TextOps.tokens(F.col("text"))) >= 20, n = 4)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      0L -> Some("quality"),
      1L -> None,
      2L -> Some("exact_dup"),
      3L -> Some("contaminated"),
      4L -> None,
      6L -> Some("exact_dup"),
      7L -> Some("quality")))
    // funnel reconciliation: every doc is attributed exactly once
    assert(out.size == 7)
    // empty eval set: the decontamination stage is a no-op, so the
    // contaminated keeper is simply kept
    val noEval = Dedup.curateCorpus(
        corpus, eval.where(F.lit(false)),
        F.size(graft.operators.TextOps.tokens(F.col("text"))) >= 20, n = 4)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(noEval(3L).isEmpty && noEval(0L) == Some("quality"))
    // empty corpus: empty attribution, schema intact
    assert(Dedup.curateCorpus(
      corpus.where(F.lit(false)), eval, F.lit(true), n = 4).count() == 0L)
  }

  test("contaminationReport counts distinct corpus hits per eval doc, zeros kept") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta extra"),  // shares the eval gram
      (2L, "alpha beta gamma delta more"),   // shares it too
      (3L, "unrelated text entirely here")   // clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta"),
      (101L, "nothing matches this one here"),
      (102L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationReport(corpus, eval, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // leaking eval doc counts DISTINCT corpus docs; clean and
    // null-text eval docs stay in the report with 0
    assert(out == Map(100L -> 2L, 101L -> 0L, 102L -> 0L), out.toString)
  }

  test("dupSpans: interval-union coverage over duplicated fixed-width windows") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      (1L, "a b c d e f"),        // windows 1..4; shares [a b c],[b c d] with doc 2
      (2L, "x a b c d y"),        // dup windows at i=2,3
      (3L, "p q"),                // below width: zero windows
      (4L, null.asInstanceOf[String]),
      (5L, "a b c z1 z2 z3 a b c") // disjoint repeats of the shared gram
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(pages, n = 3, minDocs = 2).orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1: dup windows i=1,2 cover positions 1..4 (overlap merged)
    assert(out(1L) == (6L, 4L, 2L, 4L), out(1L).toString)
    // doc 2: dup windows i=2,3 cover 2..5
    assert(out(2L) == (6L, 4L, 2L, 4L), out(2L).toString)
    // short and null docs stay with zeros
    assert(out(3L) == (2L, 0L, 0L, 0L))
    assert(out(4L) == (0L, 0L, 0L, 0L))
    // doc 5: two DISJOINT dup windows (i=1, i=7): no merge, 6 covered
    assert(out(5L) == (9L, 7L, 2L, 6L), out(5L).toString)
    // width/minDocs gates carry their rationale
    intercept[IllegalArgumentException](Dedup.dupSpans(pages, n = 1))
    intercept[IllegalArgumentException](Dedup.dupSpans(pages, minDocs = 1))
  }

  test("prototypePrune drops the cluster cores, keeps the informative tail") {
    val s = spark
    import s.implicits._
    // two well-separated 1-D blobs; within each, the point nearest the
    // blob mean is the prototype
    def blob(base: Double, idOff: Long) =
      (0 until 5).map(i => (idOff + i, Array(base + 0.1 * i, base)))
    val emb = (blob(0.0, 0L) ++ blob(10.0, 10L)).toDF("id", "vec")
    val out = Dedup.prototypePrune(emb, dropFrac = 0.4, nClusters = 2,
      iters = 5).collect()
    assert(out.length == 10, "every input row stays in the output")
    val byCluster = out.groupBy(_.getInt(1))
    assert(byCluster.size == 2 && byCluster.values.forall(_.length == 5))
    // blob mean x = base + 0.2: ranks are 2 < 1 < 3 < 0 < 4 (distance
    // asc, id tie-break asc); ceil(0.4 * 5) = 2 prototypes dropped
    for ((off, rows) <- Seq((0L, byCluster), (10L, byCluster))) {
      val cl = out.filter(r => r.getLong(0) / 10 * 10 == off)
      val ranked = cl.sortBy(_.getLong(3)).map(_.getLong(0) - off)
      assert(ranked.toSeq == Seq(2L, 1L, 3L, 0L, 4L), ranked.mkString(","))
      val kept = cl.filter(_.getBoolean(5)).map(_.getLong(0) - off).toSet
      assert(kept == Set(3L, 0L, 4L), kept.toString)
    }
    // dropFrac = 0 keeps everything; bounds are validated
    val all = Dedup.prototypePrune(emb, dropFrac = 0.0, nClusters = 2)
    assert(all.where(F.col("keep")).count() == 10)
    intercept[IllegalArgumentException](
      Dedup.prototypePrune(emb, dropFrac = 1.0))
    intercept[IllegalArgumentException](
      Dedup.prototypePrune(emb, nClusters = 0))
  }

  test("substringDedupSpans: maximal spans of the arbitrary-length covered union") {
    val s = spark
    import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val corpus = Seq(
      // docs 0/1 share an 8-token passage at different offsets: the
      // fixed-5 windows must merge into ONE maximal 8-token span each
      (0L, s"u1 u2 $shared u3 u4"),
      (1L, s"w1 $shared"),
      // doc 2 repeats its own 6-token phrase: within-doc repeats count
      // (Lee et al.), and since every position is part of some repeat
      // the whole doc collapses to ONE span — including the bridge
      // positions covered only via island adjacency
      (2L, "p q r s t v p q r s t v"),
      // doc 3 shares only a 4-token run with doc 0 — below minLen,
      // must emit nothing
      (3L, "x1 alpha beta gamma delta x2 x3 x4")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDedupSpans(corpus, minLen = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (0L, 3L, 10L, 8L),
      (1L, 2L, 9L, 8L),
      (2L, 1L, 12L, 12L)), spans.toString)
    // raising minLen above the repeat width finds nothing
    assert(Dedup.substringDedupSpans(corpus, minLen = 9).count() == 0L)
    intercept[IllegalArgumentException](
      Dedup.substringDedupSpans(corpus, minLen = 1))
    intercept[IllegalArgumentException](
      Dedup.substringDedupSpans(corpus, minCount = 1))
  }

  test("simhash candidate-mass gate trips on dense buckets, naming the d=3 point") {
    val s = spark
    import s.implicits._
    // 200 identical docs: every blocking bucket holds all 200, so the
    // pre-join mass probe sees ~C(200,2) pairs per subset key
    val dense = (0 until 200)
      .map(i => (i.toLong, "same tokens in every single document here"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(dense, maxCandidatePairs = 1000L))
    assert(e.getMessage.contains("maxDist=3") &&
      e.getMessage.contains("maxCandidatePairs"),
      s"gate must name the published operating point: ${e.getMessage}")
    // disabling the probe runs the join; identical docs are complete
    // at hamming 0 — all C(200,2) pairs emitted
    assert(Dedup.simhashNearDupPairs(
      dense, maxCandidatePairs = Long.MaxValue).count() == 19900L)
    // the default bound admits normal corpora (the other simhash specs
    // run with the gate active)
    assert(Dedup.simhashNearDupPairs(docs).count() >= 5L)
  }

  test("density-aware default radius: sparse keeps d=6, dense falls over to d=3") {
    val s = spark
    import s.implicits._
    // sparse corpus: the auto default must behave exactly like an
    // explicit maxDist = 6 (the comfortable radius stays the default
    // when the measured mass is linear)
    val autoSparse = Dedup.simhashNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d6Sparse = Dedup.simhashNearDupPairs(docs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoSparse == d6Sparse,
      "auto radius diverged from d=6 on a sparse corpus")
    // dense corpus: 150 identical docs push d=6's candidate mass far
    // past the per-doc budget — auto must fall over to d=3
    val dense = docs.unionByName(
      (0 until 150).map(i =>
        (1000L + i, "the very same tokens again and again forever"))
        .toDF("doc_id", "text"))
    val auto = Dedup.simhashNearDupPairs(dense, maxCandidatePairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth from the signatures at both radii
    val sh = Dedup.simhash(dense).as[(Long, Long)].collect()
    def brute(d: Int) = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= d
    } yield (a, b)).toSet
    val b3 = brute(3); val b6 = brute(6)
    assert(auto == b3, s"auto on a dense corpus must run d=3: " +
      s"missing=${(b3 -- auto).take(3)} extra=${(auto -- b3).take(3)}")
    // fixture sanity: the radii are distinguishable here, so the
    // equality above really pinned the CHOICE, not a coincidence
    assert(b3 != b6, "fixture cannot distinguish d=3 from d=6 — widen it")
    // the explicit override is untouched by the density probe
    assert(Dedup.simhashNearDupPairs(dense, maxDist = 6,
        maxCandidatePairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == b6)
  }

  test("nBlocks-only calls keep their pre-auto meaning: the radius pins to 6 (ADVICE r10)") {
    // before the r10 auto default, a caller tuning only nBlocks was
    // tuning against maxDist = 6; that call must neither throw nor
    // silently change radius under the new default
    val viaDefault = Dedup.simhashNearDupPairs(docs, nBlocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.simhashNearDupPairs(docs, maxDist = 6, nBlocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDefault == explicit,
      "nBlocks-only call diverged from the explicit maxDist=6 it was tuned for")
  }

  test("bucket occupancy diagnostics: exact pair mass, partitioning-invariant") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "a b c d e f"), (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "g h i j k l"), (4L, "g h i j k l"),
      (5L, "m n o p q r")).toDF("doc_id", "text")
    // gram occupancy: one 3-doc bucket (3 pairs), one 2-doc bucket
    // (1 pair); the singleton gram never appears
    val occ = Dedup.gramOccupancy(corpus, n = 6, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(occ == Seq(
      (1L, 3L, 3L, 3L, 4L, 2L),
      (2L, 2L, 1L, 4L, 4L, 2L)), occ.toString)
  }
}
