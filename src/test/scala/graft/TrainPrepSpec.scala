package graft

import graft.operators.{TextOps, TrainPrep}
import org.apache.spark.sql.{functions => F}

class TrainPrepSpec extends SparkSpec {

  lazy val docs = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    (0 until 50).map { i =>
      val n = 1 + rng.nextInt(60)
      (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "),
        s"src${i % 3}")
    }.toDF("doc_id", "text", "source")
  }

  test("chunk windows cover every token and respect window/stride") {
    val window = 8
    val stride = 5
    val chunks = TrainPrep.chunkTokenWindows(docs, window, stride).collect()
    val tokensByDoc = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").length).toMap
    tokensByDoc.foreach { case (id, n) =>
      val mine = chunks.filter(_.getLong(0) == id).sortBy(_.getLong(1))
      // starts are 0, stride, … while < n
      assert(mine.length == (n - 1) / stride + 1, s"doc $id chunk count")
      mine.foreach { c =>
        val start = c.getLong(1).toInt * stride
        val expectLen = math.min(window, n - start)
        assert(c.getLong(3) == expectLen, s"doc $id chunk ${c.getLong(1)} len")
        assert(c.getString(2).split(" ").length == expectLen)
      }
      // full coverage: last chunk reaches the final token
      val last = mine.last
      assert(last.getLong(1).toInt * stride + last.getLong(3) == n)
    }
  }

  test("shard packing equals a driver-side prefix sum and bounds offsets") {
    val budget = 64L
    val packed = TrainPrep.packTokenShards(docs, budget)
      .orderBy("doc_id").collect()
    var cum = 0L
    packed.foreach { r =>
      assert(r.getLong(2) == cum / budget, s"doc ${r.getLong(0)} shard")
      assert(r.getLong(3) == cum % budget, s"doc ${r.getLong(0)} offset")
      assert(r.getLong(3) >= 0 && r.getLong(3) < budget)
      cum += r.getLong(1)
    }
    // shards are contiguous from 0
    val shards = packed.map(_.getLong(2)).distinct.sorted
    assert(shards.head == 0L && shards.zipWithIndex.forall { case (s, i) => s == i })
  }

  test("stratum ranks equal the window formulation on any layout") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    val expected = docs
      .withColumn("r", F.row_number().over(w).cast("long"))
      .select(F.col("doc_id"), F.col("source"), F.col("r"))
    val got = withRealShuffle(5) {
      TrainPrep.stratumRanks(
          docs.repartition(5), F.col("doc_id"), F.col("source"))
        .select(F.col("key").as("doc_id"), F.col("stratum").as("source"), F.col("r"))
        .localCheckpoint() // materialize while the real-shuffle conf holds
    }
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "distributed prefix-count ranks diverge from the window ranks")
  }

  test("interleave mixes strata at the configured stride ratio") {
    val mixed = TrainPrep.interleaveByStratum(
        docs, F.col("doc_id"), F.col("source"),
        Map("src0" -> 2.0), defaultStride = 4.0)
      .orderBy("mix_key", "stratum", "key")
      .collect()
    // in any prefix long enough, src0 (stride 2) appears about twice as
    // often as each stride-4 stratum; check the first 24 rows contain
    // strictly more src0 than any other single stratum
    val head = mixed.take(24).groupBy(_.getString(1)).view.mapValues(_.length)
    assert(head("src0") > head.getOrElse("src1", 0))
    assert(head("src0") > head.getOrElse("src2", 0))
    // within a stratum the original key order is preserved
    val src0Keys = mixed.filter(_.getString(1) == "src0").map(_.getLong(0))
    assert(src0Keys.sameElements(src0Keys.sorted))
  }

  test("shard packing is byte-identical across input partition layouts") {
    val budget = 64L
    def run(parts: Int, df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      withRealShuffle(parts) {
        TrainPrep.packTokenShards(df, budget).orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      }
    val single = run(1, docs.repartition(1))
    val wide = run(37, docs.repartition(37))
    val skewed = run(8, docs.repartition(8, F.col("source")))
    assert(single == wide, "1-partition vs 37-partition packing diverged")
    assert(single == skewed, "hash-partitioned input changed the packing")
  }

  test("shard packing handles adversarial layouts") {
    val s = spark
    import s.implicits._
    // doc_id gaps + a single doc far over budget + empty partitions
    val gappy = Seq(
      (3L, "a b c d e f g h"),            // 8 tokens
      (100L, Seq.fill(50)("tok").mkString(" ")), // 50 tokens, straddles
      (2000L, "x"),
      (2001L, "y z")
    ).toDF("doc_id", "text").repartition(16) // most partitions empty
    val budget = 10L
    val got = withRealShuffle(6) {
      TrainPrep.packTokenShards(gappy, budget)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    // prefix sums: 0, 8, 58, 59 → shard = before/10, offset = before%10
    assert(got.toSeq == Seq(
      (3L, 8L, 0L, 0L), (100L, 50L, 0L, 8L),
      (2000L, 1L, 5L, 8L), (2001L, 2L, 5L, 9L)))
    // budget = 1: every token is its own shard; offsets always 0
    val unit = TrainPrep.packTokenShards(gappy, 1L).orderBy("doc_id").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(unit.toSeq == Seq((0L, 0L), (8L, 0L), (58L, 0L), (59L, 0L)))
    // empty input: no rows, no crash
    assert(TrainPrep.packTokenShards(gappy.limit(0), budget).count() == 0L)
  }

  /** Sequential reference of the greedy doc-boundary packing rule. */
  private def greedyReference(
      docs: Seq[(Long, Long)], budget: Long): Seq[(Long, Long, Long, Long)] = {
    var s = 0L; var f = 0L
    docs.sortBy(_._1).map { case (id, n) =>
      if (n > 0 && f > 0 && f + n > budget) { s += 1; f = 0 }
      val row = (id, n, s, f)
      f += n
      row
    }
  }

  test("greedy packing equals the sequential rule on any layout") {
    val budget = 64L
    val expected = greedyReference(
      docs.collect().map(r =>
        (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong)).toSeq,
      budget)
    for (parts <- Seq(1, 7, 37)) {
      val got = withRealShuffle(parts) {
        TrainPrep.packTokenShardsGreedy(docs.repartition(parts), budget)
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      }
      assert(got == expected, s"greedy packing diverged at $parts partitions")
    }
    // doc-boundary invariant: no doc straddles — offset + n <= budget
    // whenever the doc fits a budget at all
    expected.foreach { case (id, n, _, off) =>
      if (n <= budget) assert(off + n <= budget, s"doc $id straddles: off=$off n=$n")
    }
    // shards contiguous from 0
    val shards = expected.map(_._3).distinct.sorted
    assert(shards.head == 0L && shards.zipWithIndex.forall { case (v, i) => v == i })
  }

  test("greedy packing adversarial: over-budget docs, zero-token docs, budget=1") {
    val s = spark
    import s.implicits._
    val gappy = Seq(
      (1L, "a b c"),                              // 3
      (2L, Seq.fill(50)("t").mkString(" ")),      // 50 > budget: own shard
      (3L, ""),                                   // trim("") -> 1 token ("")? no: size 1
      (5L, "x y z w"),                            // 4
      (8L, Seq.fill(9)("u").mkString(" ")),       // 9
      (9L, "k")                                   // 1
    ).toDF("doc_id", "text").repartition(11)
    val budget = 10L
    val got = withRealShuffle(5) {
      TrainPrep.packTokenShardsGreedy(gappy, budget)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    val expected = greedyReference(
      gappy.collect().map(r =>
        (r.getLong(0),
          TextOps.tokensOf(r.getString(1)).length.toLong)).toSeq, budget)
    assert(got == expected, s"got $got\nexpected $expected")
    // over-budget doc 2 sits alone in its shard
    val shardOf2 = got.find(_._1 == 2L).get._3
    assert(got.count(_._3 == shardOf2) == 1, "over-budget doc must pack alone")
    // budget = 1: every positive doc (after the first fill) breaks
    val unit = TrainPrep.packTokenShardsGreedy(gappy, 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(unit == greedyReference(
      gappy.collect().map(r =>
        (r.getLong(0), TextOps.tokensOf(r.getString(1)).length.toLong)).toSeq, 1L))
    // empty input
    assert(TrainPrep.packTokenShardsGreedy(gappy.limit(0), budget).count() == 0L)
  }

  test("greedy packing randomized parity across layouts") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(123)
    // token counts spanning 0, tiny, near-budget, over-budget
    val sizes = (0 until 400).map { i =>
      val n = rng.nextInt(100) match {
        case x if x < 5 => 0
        case x if x < 15 => 70 + rng.nextInt(40) // over budget
        case x => 1 + rng.nextInt(40)
      }
      (i.toLong, n)
    }
    val df = sizes.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val budget = 64L
    val expected = greedyReference(
      sizes.map { case (id, n) =>
        // empty text still tokenizes to one empty token? mirror the
        // engine's tokensOf exactly instead of assuming
        (id, TextOps.tokensOf(Seq.fill(n)("w").mkString(" ")).length.toLong)
      }, budget)
    for (parts <- Seq(3, 29)) {
      val got = withRealShuffle(parts) {
        TrainPrep.packTokenShardsGreedy(df.repartition(parts), budget)
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      }
      assert(got == expected, s"randomized parity failed at $parts partitions")
    }
  }

  test("greedy packing: over-budget FIRST doc with empty carry shard (r5 review bug)") {
    val s = spark
    import s.implicits._
    // docs [50, 3, 3, 3], budget 10, REAL multi-partition shuffle: the
    // driver carry walk must not count the tail's first shard as a
    // break when the carry fill is 0 — the over-budget first doc joins
    // the current (empty) shard. Sequential answer: shards (0,1,1,1).
    val df = Seq(
      (1L, Seq.fill(50)("t").mkString(" ")),
      (2L, "a b c"), (3L, "d e f"), (4L, "g h i")
    ).toDF("doc_id", "text")
    val got = withRealShuffle(4) {
      TrainPrep.packTokenShardsGreedy(df, 10L)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    }
    assert(got == Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 1L, 3L), (4L, 1L, 6L)),
      s"carry walk must keep the over-budget first doc in shard 0: $got")
    // same with leading zero-token docs keeping the fill at 0 across a
    // partition boundary
    val zeros = (Seq((0L, ""), (1L, "")) ++ Seq(
      (2L, Seq.fill(50)("t").mkString(" ")), (3L, "a b c")))
      .toDF("doc_id", "text")
    val got2 = withRealShuffle(4) {
      TrainPrep.packTokenShardsGreedy(zeros, 10L)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
    }
    // "" trims to "" and splits to one empty token — size 1, not 0, per
    // TextOps.tokensOf; build the reference from the real tokenizer
    val ref = greedyReference(
      zeros.collect().map(r =>
        (r.getLong(0), TextOps.tokensOf(r.getString(1)).length.toLong)).toSeq,
      10L).map(t => (t._1, t._3))
    assert(got2 == ref, s"got $got2 expected $ref")
  }

  test("shard manifest partitions the corpus exactly once, in layout order") {
    val budget = 64L
    val packed = TrainPrep.packTokenShardsGreedy(docs, budget)
    val manifest = TrainPrep.shardManifest(packed).orderBy("shard").collect()
    // every doc appears exactly once across all manifests
    val allIds = manifest.flatMap(_.getString(3).split(",")).map(_.toLong)
    assert(allIds.sorted.toSeq == (0L until 50L))
    // per-shard totals agree with the packing rows
    val byShard = packed.collect()
      .groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(1)).sum).toMap
    manifest.foreach { r =>
      assert(r.getLong(2) == byShard(r.getLong(0)), s"shard ${r.getLong(0)} tokens")
      // ids inside a manifest are in layout (ascending doc_id) order
      val ids = r.getString(3).split(",").map(_.toLong)
      assert(ids.sameElements(ids.sorted))
    }
    // doc-boundary invariant at the manifest level: every multi-doc
    // shard fits the budget (only a lone over-budget doc may exceed)
    manifest.foreach { r =>
      if (r.getLong(1) > 1) assert(r.getLong(2) <= budget,
        s"multi-doc shard ${r.getLong(0)} exceeds budget: ${r.getLong(2)}")
    }
  }

  test("stratum ranks survive empty partitions and singleton strata") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, "only"), (9L, "big"), (5L, "big"), (7L, "big"))
      .toDF("doc_id", "source").repartition(12)
    val got = withRealShuffle(12) {
      TrainPrep.stratumRanks(tiny, F.col("doc_id"), F.col("source"))
        .orderBy("stratum", "r").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    }
    assert(got.toSeq == Seq(
      (5L, "big", 1L), (7L, "big", 2L), (9L, "big", 3L), (1L, "only", 1L)))
  }

  test("hash sampling is deterministic, stratified, and layout-independent") {
    val a = TrainPrep.stratifiedHashSample(
      docs, F.col("doc_id"), F.col("source"), Map("src0" -> 0.9), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TrainPrep.stratifiedHashSample(
      docs.repartition(7), F.col("doc_id"), F.col("source"), Map("src0" -> 0.9), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partition layout")
    // src0 keeps strictly more than the default strata at these rates
    val bySrc = docs.withColumn(
        "kept", TrainPrep.hashBucket(F.col("doc_id"), 10000) <
          F.when(F.col("source") === "src0", 9000L).otherwise(3000L))
      .groupBy("source").agg(F.avg(F.col("kept").cast("double")).as("rate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bySrc("src0") > bySrc("src1") && bySrc("src0") > bySrc("src2"))
  }

  test("sampleKPerStratum: exact k smallest (hash, key) per stratum, layout-independent") {
    val k = 5
    val got = TrainPrep.sampleKPerStratum(
        docs, F.col("doc_id"), F.col("source"), k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // replay the selection driver-side from the same hash
    val hashed = docs.select(
        F.col("doc_id"), F.col("source"),
        TrainPrep.hashBucket(F.col("doc_id"), 1 << 30).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = hashed.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(k).toSeq
    }.toSet
    assert(got.toSet == want)
    assert(got.groupBy(_._2).forall(_._2.length == k))
    // partition layout must not change membership
    val relaid = TrainPrep.sampleKPerStratum(
        docs.repartition(13), F.col("doc_id"), F.col("source"), k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(relaid.toSet == want)
  }

  test("lengthBucketBatches: near-equal lengths per batch, dense batch numbering") {
    val out = TrainPrep.lengthBucketBatches(docs, width = 16, batchSize = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val lens = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").length.toLong).toMap
    assert(out.length == lens.size)
    out.foreach { case (id, n, bucket, _, pos) =>
      assert(n == lens(id))
      assert(bucket == n / 16)
      assert(pos >= 0 && pos < 4)
    }
    // within a bucket, batch_idx/pos follow doc_id order densely
    val byBucket = out.groupBy(_._3)
    byBucket.foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._1)
      inOrder.zipWithIndex.foreach { case ((_, _, _, batch, pos), i) =>
        assert(batch == i / 4 && pos == i % 4)
      }
    }
  }

  test("ngramCounts matches a driver-side n-gram tally") {
    val got = TextOps.ngramCounts(docs, n = 2, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val all = docs.collect().flatMap { r =>
      val t = r.getString(1).split("\\s+")
      t.sliding(2).filter(_.length == 2).map(g => (r.getLong(0), g.mkString(" ")))
    }
    val want = all.groupBy(_._2).map { case (g, occ) =>
      (g, occ.length.toLong, occ.map(_._1).distinct.length.toLong)
    }.toSeq.sortBy(x => (-x._2, x._1)).take(10)
    assert(got.toSeq == want)
  }

  test("writeShards: partitioned layout, pruned shard reads, manifest parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val packed = TrainPrep.packTokenShardsGreedy(docs, budget = 256)
    TrainPrep.writeShards(packed, docs, dir)
    TrainPrep.releasePinnedCaches(blocking = true)
    // round-trip: every doc lands in its packed shard with its text
    val got = spark.read.parquet(s"$dir/shards")
      // partition inference narrows shard to int — normalize for compare
      .select(F.col("doc_id"), F.col("shard").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = packed.select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // the persisted manifest equals the recomputed one
    val m1 = spark.read.parquet(s"$dir/manifest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val m2 = TrainPrep.shardManifest(packed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(m1 == m2)
    TrainPrep.releasePinnedCaches(blocking = true)
  }

  test("temperatureSample: alpha=1 is uniform; alpha<1 up-weights small strata") {
    val s = spark
    import s.implicits._
    // alpha = 1 degenerates to a uniform targetFraction for every
    // stratum — exactly stratifiedHashSample's uniform rate, same rows
    val uni = TrainPrep.temperatureSample(
      docs, F.col("doc_id"), F.col("source"), alpha = 1.0, targetFraction = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flat = TrainPrep.stratifiedHashSample(
      docs, F.col("doc_id"), F.col("source"), Map.empty, defaultRate = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uni == flat)
    // skewed corpus: 400 rows of "big", 40 of "small"; alpha=0.5 at
    // target 0.5 gives small a computed rate ≥ 1 (capped) — it is kept
    // IN FULL — while big is sampled below its proportional share
    val skewed = (0 until 440).map { i =>
      (i.toLong, if (i < 400) "big" else "small")
    }.toDF("doc_id", "source")
    val kept = TrainPrep.temperatureSample(
      skewed, F.col("doc_id"), F.col("source"), alpha = 0.5, targetFraction = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 40L, s"capped stratum must be kept whole: $kept")
    assert(kept("big") < 220L, s"big stratum must be down-sampled: $kept")
    // deterministic: md5 membership, no RNG
    val again = TrainPrep.temperatureSample(
      docs, F.col("doc_id"), F.col("source"), alpha = 1.0, targetFraction = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == uni)
    // a null stratum is a real group: counted, rated, and KEPT through
    // the null-safe rate join — the alpha=1 uniform law must also hold
    // on a corpus with null sources (stratifiedHashSample rates null
    // strata at the default)
    val withNulls = docs.withColumn("source",
      F.when(F.col("doc_id") % 5 === 0, F.lit(null: String))
        .otherwise(F.col("source")))
    val uniN = TrainPrep.temperatureSample(
      withNulls, F.col("doc_id"), F.col("source"),
      alpha = 1.0, targetFraction = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flatN = TrainPrep.stratifiedHashSample(
      withNulls, F.col("doc_id"), F.col("source"), Map.empty, defaultRate = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uniN == flatN)
    assert(uniN.exists(_ % 5 == 0), "null-stratum rows must be sampled, not dropped")
  }

  test("releasePinnedCaches unpersists the packers' pinned RDDs") {
    TrainPrep.releasePinnedCaches(blocking = true) // drain prior pins
    val before = spark.sparkContext.getPersistentRDDs.size
    // bind the frames: the pin queue holds WEAK references (so it can
    // never leak), and an unreferenced frame's pin may be GC-cleared
    // before the release — holding the frames keeps the count exact
    val a = TrainPrep.packTokenShards(docs, budget = 64)
    val b = TrainPrep.stratumRanks(docs, F.col("doc_id"), F.col("source"))
    a.count(); b.count()
    assert(spark.sparkContext.getPersistentRDDs.size == before + 2)
    assert(TrainPrep.releasePinnedCaches(blocking = true) == 2)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(TrainPrep.releasePinnedCaches() == 0) // idempotent when drained
    // the released frames stay correct: the range layout is re-verified
    // by the second job's fingerprint check on re-execution
    assert(a.count() == docs.count() && b.count() == docs.count())
  }

  test("hashBucketOf replicates the hashBucket column bit-for-bit") {
    val s = spark
    import s.implicits._
    val keys = (0 until 200).map(i => s"$i:${i % 7}") ++ Seq("", "a b", "Ünïcode")
    val fromCol = keys.toDF("k")
      .select(TrainPrep.hashBucket(F.col("k"), 10000).as("b"))
      .collect().map(_.getLong(0))
    val fromFn = keys.map(TrainPrep.hashBucketOf(_, 10000))
    assert(fromCol.toSeq == fromFn)
  }

  test("spanCorrupt: round-trips, dense sentinels, terminal marker, nulls") {
    val s = spark
    import s.implicits._
    val docs = (1L to 40L).map(i =>
      (i, (0 until 30).map(t => s"w${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
      .union(Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = TrainPrep.spanCorrupt(docs).collect()
      .map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.getString(2)), r.getLong(3)))
      .sortBy(_._1)
    val sentinel = "<extra_id_(\\d+)>".r
    var masked = 0L
    out.filter(_._1 != 99L).foreach { case (id, Some(in), Some(tgt), nsp) =>
      masked += nsp
      // target = spans in order + terminal sentinel; sentinels dense 0..nsp
      val tgtSent = sentinel.findAllMatchIn(tgt).map(_.group(1).toInt).toSeq
      assert(tgtSent == (0 to nsp.toInt), s"doc $id sentinels $tgtSent")
      assert(tgt.endsWith(s"<extra_id_$nsp>"))
      // un-corrupt: replace each input sentinel with its target span
      val spans = sentinel.split(tgt).map(_.trim).drop(1) // span k after sentinel k
      val rebuilt = sentinel.replaceAllIn(in,
        m => java.util.regex.Matcher.quoteReplacement(spans(m.group(1).toInt)))
        .replaceAll("\\s+", " ").trim
      val orig = (0 until 30).map(t => s"w${id}_$t").mkString(" ")
      assert(rebuilt == orig, s"doc $id failed round-trip")
    }
    assert(masked > 0, "degenerate fixture: nothing masked")
    assert(out.find(_._1 == 99L).get == ((99L, None, None, 0L)))
  }

  test("stratumWeightQuota truncates at first overflow, per-stratum budgets") {
    val s = spark
    import s.implicits._
    // A: w 4,4,9,1 with budget 10 -> keep 1,2 ONLY (9 overflows at
    // before=8; the later w=1 doc sees before=17 and is out — the
    // inclusive-cumsum contract, not greedy best-fit)
    // B: w 5,5 budget 5 -> keep first only
    val df = Seq(
      (1L, "A", 4L), (2L, "A", 4L), (3L, "A", 9L), (4L, "A", 1L),
      (5L, "B", 5L), (6L, "B", 5L)
    ).toDF("id", "st", "wt")
    def run(d: org.apache.spark.sql.DataFrame) = {
      val out = TrainPrep.stratumWeightQuota(
        d, F.col("id"), F.col("st"), F.col("wt"),
        budgets = Map("B" -> 5L), defaultBudget = 10L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
        .sortBy(_._1).toSeq
      TrainPrep.releasePinnedCaches()
      out
    }
    val expect = Seq((1L, "A", 0L), (2L, "A", 4L), (5L, "B", 0L))
    assert(run(df.repartition(1)) == expect)
    assert(run(df.repartition(5)) == expect)
    // null weight counts as zero and stays eligible
    val withNull = df.union(Seq((0L, "B", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "st", "wt"))
    assert(run(withNull).contains((0L, "B", 0L)))
  }

  test("splitAssign is total, disjoint, key-stable, and validated") {
    val s = spark
    import s.implicits._
    val df = (1L to 2000L).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = TrainPrep.splitAssign(df, F.col("doc_id"), splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // total: every key got exactly one split from the declared set
    assert(out.size == 2000 && out.values.toSet.subsetOf(Set("train", "val", "test")))
    // realized fractions near the targets (md5 is uniform; 2000 keys)
    val frac = out.values.groupBy(identity).map { case (k, v) => k -> v.size / 2000.0 }
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toString)
    assert(math.abs(frac("val") - 0.1) < 0.03, frac.toString)
    // key-stable: membership is a pure function of the key, so a
    // GROWN corpus never reassigns an existing key
    val grown = TrainPrep.splitAssign(
      (1L to 4000L).toDF("doc_id"), F.col("doc_id"), splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.forall { case (k, v) => grown(k) == v })
    // matches the executor-side md5 convention exactly
    out.foreach { case (k, v) =>
      val b = TrainPrep.hashBucketOf(k.toString, 10000)
      val expect = if (b < 8000) "train" else if (b < 9000) "val" else "test"
      assert(v == expect, s"key $k bucket $b")
    }
    intercept[IllegalArgumentException](
      TrainPrep.splitAssign(df, F.col("doc_id"), Seq("only" -> 1.0)))
    intercept[IllegalArgumentException](
      TrainPrep.splitAssign(df, F.col("doc_id"), Seq("a" -> 0.7, "b" -> 0.2)))
    intercept[IllegalArgumentException](
      TrainPrep.splitAssign(df, F.col("doc_id"), Seq("a" -> 0.5, "a" -> 0.5)))
  }

  test("weightedSamplePerStratum: weight tilt, layout invariance, fail-fast") {
    val s = spark
    import s.implicits._
    // 1000 items per stratum: even keys weight 10, odd keys weight 1 —
    // the heavy class must dominate the sample (A-ES inclusion is
    // weight-monotone; at a 10:1 tilt the heavy share is >> half)
    val df = (0L until 2000L).map(i =>
      (i, if (i < 1000) "a" else "b", if (i % 2 == 0) 10.0 else 1.0))
      .toDF("doc_id", "src", "wt")
    def run(d: org.apache.spark.sql.DataFrame) = TrainPrep
      .weightedSamplePerStratum(
        d, F.col("doc_id"), F.col("src"), F.col("wt"), k = 100)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val out = run(df)
    assert(out.size == 200 && out.count(_._2 == "a") == 100)
    val heavy = out.count(_._1 % 2 == 0)
    assert(heavy >= 160,
      s"10x weights should dominate the sample: $heavy/200 heavy picks")
    // membership is a pure function of the data
    assert(run(df.repartition(17)).toSet == out.toSet)
    // uniform weights degenerate to A-ES over plain hash uniforms:
    // still exactly k per stratum, deterministic
    val unif = TrainPrep.weightedSamplePerStratum(
      df, F.col("doc_id"), F.col("src"), F.lit(1.0), k = 5)
      .collect()
    assert(unif.length == 10)
    // nonpositive weight fails the job with the operator named
    val e = intercept[Exception](
      TrainPrep.weightedSamplePerStratum(
        df.withColumn("wt", F.when(F.col("doc_id") === 7, -1.0)
          .otherwise(F.col("wt"))),
        F.col("doc_id"), F.col("src"), F.col("wt"), k = 5).count())
    assert(e.getMessage.contains("weightedSamplePerStratum"))
  }

  test("leakFreeSplit: dup clusters share one split; singletons match splitAssign") {
    val s = spark
    import s.implicits._
    val docs = (1L to 1000L).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // near-dup pairs forming clusters {1,2,3} (chain) and {10,11}; the
    // rest singletons. Chain 1-2, 2-3: 1 and 3 never paired directly —
    // transitive closure must still co-locate them.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = TrainPrep.leakFreeSplit(docs, pairs, splits)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every cluster member keys by the cluster min and lands together
    assert(Set(1L, 2L, 3L).map(out(_)).size == 1)
    assert(out(1L)._1 == 1L)
    assert(Set(10L, 11L).map(out(_)).size == 1)
    assert(out(10L)._1 == 10L)
    // singletons: split_key = self, split identical to plain splitAssign
    val plain = TrainPrep.splitAssign(docs, F.col("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = Set(1L, 2L, 3L, 10L, 11L)
    for ((id, (key, sp)) <- out if !clustered(id)) {
      assert(key == id)
      assert(sp == plain(id), s"singleton $id drifted from splitAssign")
    }
    // the leak-free guarantee, stated directly: no pair straddles splits
    for (Seq(a, b) <- Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(1L, 3L), Seq(10L, 11L)))
      assert(out(a)._2 == out(b)._2, s"pair ($a,$b) straddles splits")
  }

  test("spanCorrupt is layout-invariant and tolerates degenerate docs") {
    val s = spark
    import s.implicits._
    val docs = (1L to 100L).map(i =>
      (i, if (i % 10 == 0) "" else (0 until i.toInt % 17).map(t => s"t$t")
        .mkString(" "))).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TrainPrep.spanCorrupt(df).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    // masking is a pure function of (doc_id, position): any partition
    // layout produces byte-identical output
    assert(run(docs.repartition(1)) == run(docs.repartition(13)))
    intercept[IllegalArgumentException](
      TrainPrep.spanCorrupt(docs, maxSpan = 99))
  }

  test("iterative packer pipeline: pinned caches never accumulate across calls") {
    val sc = spark.sparkContext
    // a long-lived session (Verify, a training-prep driver loop)
    // interleaves packers, rankers, and quotas for many batches; every
    // pin must be released by the post-materialize release call, and
    // the registry must return to its starting size each iteration —
    // r6's bench regression was exactly this class of accumulation
    TrainPrep.releasePinnedCaches()
    (1 to 4).foreach { i =>
      // track OUR pins by RDD id, not by registry SIZE: zombie entries
      // from other suites' async unpersist can vanish at any time, so
      // a size delta both under- and over-counts (a vanishing zombie
      // once cancelled out this iteration's 3 new pins and the "must
      // pin" assert read 11 > 11). Ids created between the snapshots
      // are exactly this pipeline's — the test body is the only code
      // running in the session here.
      val baseIds = sc.getPersistentRDDs.keySet.toSet
      // the frames are held in scope across the release so the weak
      // pins are deterministically alive (dropping them earlier lets
      // an interim GC collect a pin before release counts it — the
      // queue tolerates that by design, but the spec wants exact counts)
      val f1 = TrainPrep.packTokenShards(docs, 16L * i)
      val f2 = TrainPrep.packTokenShardsGreedy(docs, 16L * i)
      val f3 = TrainPrep.stratumWeightQuota(
        docs, F.col("doc_id"), F.col("source"),
        F.size(TextOps.tokens(F.col("text"))),
        budgets = Map.empty, defaultBudget = 40L * i)
      assert(f1.collect().nonEmpty && f2.collect().nonEmpty &&
        f3.collect().nonEmpty)
      def ours(): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- baseIds
      assert(ours().size >= 3,
        "packers must pin their range-shuffled layout until release")
      val released = TrainPrep.releasePinnedCaches()
      assert(released >= 3, s"expected >= 3 pins released, got $released")
      assert(Seq(f1, f2, f3).forall(_ != null)) // keep frames live past release
      // every pin WE created must drain after release; unpersist is
      // async, so poll briefly — real accumulation never drains
      val deadline = System.nanoTime() + 2000000000L
      while (ours().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(ours().isEmpty,
        s"pinned caches accumulated after iteration $i: ${ours()}")
      // GC pressure between batches: the weak-ref queue must tolerate
      // collected refs (a dead ref is skipped, not an error)
      System.gc()
    }
    assert(TrainPrep.releasePinnedCaches() == 0, "release must be idempotent")
  }

  test("eviction before materialization recomputes correctly or raises — never mis-carries") {
    // packTokenShards runs two jobs against one pinned layout. If the
    // cache is evicted (or released early) between them, the second job
    // recomputes the range shuffle; the per-partition (count, first
    // key) fingerprint then either matches (recompute landed on the
    // identical layout — correct carries) or MUST raise. Silently
    // applying job-1 carries to a drifted layout is the one forbidden
    // outcome.
    val expect = TrainPrep.packTokenShards(docs, 64L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted
    TrainPrep.releasePinnedCaches()
    val frame = TrainPrep.packTokenShards(docs, 64L)
    // forced eviction BEFORE the frame is materialized
    assert(TrainPrep.releasePinnedCaches() >= 1)
    val got =
      try Right(frame.collect().map(r =>
        (r.getLong(0), r.getLong(2), r.getLong(3))).sorted)
      catch { case e: Throwable => Left(e) }
    got match {
      case Right(rows) => assert(rows.toSeq == expect.toSeq,
        "post-eviction recompute produced different shards without raising")
      case Left(e) =>
        val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).toSeq
        assert(msgs.exists(_.contains("layout drifted")),
          s"unexpected failure class: $e")
    }
    TrainPrep.releasePinnedCaches()
    // the guard itself: a drifted first key or short partition raises
    // with the re-run instruction instead of applying carries anyway
    val itDrift = TrainPrep.layoutChecked(
      3, Iterator((9L, 1L)), expCount = 1L, expFirst = 7L)(_._1)
    val eDrift = intercept[IllegalStateException](itDrift.next())
    assert(eDrift.getMessage.contains("layout drifted") &&
      eDrift.getMessage.contains("partition 3"))
    val itShort = TrainPrep.layoutChecked(
      1, Iterator((7L, 1L)), expCount = 2L, expFirst = 7L)(_._1)
    val eShort = intercept[IllegalStateException] {
      while (itShort.hasNext) itShort.next()
    }
    assert(eShort.getMessage.contains("expected 2 rows"))
    // a matching fingerprint passes rows through untouched
    val ok = TrainPrep.layoutChecked(
      0, Iterator((7L, 1L), (8L, 2L)), expCount = 2L, expFirst = 7L)(_._1)
    assert(ok.toSeq == Seq((7L, 1L), (8L, 2L)))
  }
}
