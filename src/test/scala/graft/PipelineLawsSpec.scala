package graft

import graft.operators.{Dedup, TextOps, TrainPrep}
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.{functions => F}

/** Cross-cutting invariants of the training-pipeline operators, plus
  * proof that the stateless ones run unchanged on a stream — the
  * batch/streaming unification a continuous ingest pipeline relies on.
  */
class PipelineLawsSpec extends SparkSpec {

  private def randomDocs(n: Int, seed: Int = 3) = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      (i.toLong,
        Seq.fill(8 + rng.nextInt(20))(vocab(rng.nextInt(vocab.size))).mkString(" "),
        if (i % 3 == 0) "web" else "books")
    }.toDF("doc_id", "text", "source")
  }

  test("repetition fractions stay in [0, 1] and singleton tokens give zeros") {
    val out = TextOps.repetitionSignals(randomDocs(120)).collect()
    out.foreach { r =>
      (1 to 3).foreach { c =>
        val v = r.getDouble(c)
        assert(v >= 0.0 && v <= 1.0, s"col $c out of range: $v")
      }
    }
  }

  test("decontaminate output is a subset of the corpus; empty eval is identity") {
    val docs = randomDocs(80)
    val eval = docs.where(F.col("doc_id") % 10 === 0)
    val corpus = docs.where(F.col("doc_id") % 10 =!= 0)
    val survivors = Dedup.decontaminate(corpus, eval, n = 3)
    assert(survivors.join(corpus, Seq("doc_id"), "left_anti").count() == 0)
    // an eval set sharing nothing removes nothing
    val s = spark
    import s.implicits._
    val disjointEval = Seq((999L, "xx yy zz ww vv uu")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(corpus, disjointEval, n = 3).count() == corpus.count())
  }

  test("dupClusters is idempotent: keepers are their own keepers") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (9L, 8L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    clusters.values.foreach { keeper =>
      assert(clusters.getOrElse(keeper, keeper) == keeper,
        s"keeper $keeper is not its own keeper")
    }
    // every doc maps to the minimum of its component
    assert(clusters(4L) == 1L && clusters(9L) == 7L)
  }

  test("stratifiedHashSample keeps a fixed doc iff its stratum rate admits it") {
    val docs = randomDocs(400)
    val kept = TrainPrep.stratifiedHashSample(
      docs, F.col("doc_id"), F.col("source"),
      Map("web" -> 1.0), defaultRate = 0.0)
    // rate 1.0 keeps every web doc; rate 0.0 drops every books doc
    assert(kept.where(F.col("source") === "web").count() ==
      docs.where(F.col("source") === "web").count())
    assert(kept.where(F.col("source") =!= "web").count() == 0)
  }

  test("stateless pipeline ops run unchanged on a stream (batch parity)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batch = randomDocs(60)
    val rows = batch.as[(Long, String, String)].collect().toSeq

    val in = MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "text", "source")
    in.addData(rows: _*)

    // PII scrub, quality filter, and hash sampling are pure column
    // algebra — the SAME operator runs on the stream
    val gated = TrainPrep.stratifiedHashSample(
      TextOps.qualityFilter(
        TextOps.piiScrub(stream)
          .select(F.col("doc_id"), F.col("redacted").as("text")),
        minTokens = 5),
      F.col("doc_id"), F.lit("all"), Map.empty[String, Double], defaultRate = 0.5)
    StreamingOps.runToMemory(gated.select("doc_id"), "pipe_stream", OutputMode.Append())
    val streamed = s.sql("SELECT doc_id FROM pipe_stream")
      .collect().map(_.getLong(0)).sorted

    val batchOut = TrainPrep.stratifiedHashSample(
      TextOps.qualityFilter(
        TextOps.piiScrub(batch)
          .select(F.col("doc_id"), F.col("redacted").as("text")),
        minTokens = 5),
      F.col("doc_id"), F.lit("all"), Map.empty[String, Double], defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted

    assert(streamed.sameElements(batchOut),
      s"stream ${streamed.length} rows != batch ${batchOut.length} rows")
    assert(batchOut.nonEmpty, "degenerate fixture: batch output empty")

    // temperature sampling can't aggregate on a stream — its streaming
    // face is batch-derived rates applied via the stream-static
    // broadcast join; membership must match the batch operator exactly
    val rates = TrainPrep.temperatureRates(
      batch, F.col("source"), alpha = 0.5, targetFraction = 0.5)
    val inT = MemoryStream[(Long, String, String)]
    inT.addData(rows: _*)
    StreamingOps.runToMemory(
      TrainPrep.applySampleRates(
        inT.toDF().toDF("doc_id", "text", "source"),
        F.col("doc_id"), F.col("source"), rates)
        .select("doc_id"),
      "temp_stream", OutputMode.Append())
    val tempStreamed = s.sql("SELECT doc_id FROM temp_stream")
      .collect().map(_.getLong(0)).sorted
    val tempBatch = TrainPrep.temperatureSample(
      batch, F.col("doc_id"), F.col("source"),
      alpha = 0.5, targetFraction = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(tempStreamed.sameElements(tempBatch) && tempBatch.nonEmpty)

    // vocab-id encoding is a map over a broadcast dictionary — the
    // vocab is static (its bounded fetch happens at plan time), the
    // stream side never aggregates, so the SAME operator runs on both
    val vocabIds = Seq(("alpha", 0L), ("beta", 1L), ("gamma", 2L))
      .toDF("token", "id")
    val inE = MemoryStream[(Long, String, String)]
    inE.addData(rows: _*)
    StreamingOps.runToMemory(
      TextOps.encodeTokens(
        inE.toDF().toDF("doc_id", "text", "source"), vocabIds, unkId = -1L),
      "enc_stream", OutputMode.Append())
    val encStreamed = s.sql("SELECT doc_id, ids, n_oov FROM enc_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val encBatch = TextOps.encodeTokens(batch, vocabIds, unkId = -1L)
      .select("doc_id", "ids", "n_oov")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(encStreamed.sameElements(encBatch) && encBatch.nonEmpty)

    // context-window chunking is a per-row explode — also stream-safe
    val inC = MemoryStream[(Long, String, String)]
    inC.addData(rows: _*)
    StreamingOps.runToMemory(
      TrainPrep.chunkTokenWindows(
        inC.toDF().toDF("doc_id", "text", "source"), window = 8, stride = 5),
      "chunk_stream", OutputMode.Append())
    val chunksStreamed = s.sql("SELECT * FROM chunk_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val chunksBatch = TrainPrep.chunkTokenWindows(batch, window = 8, stride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(chunksStreamed.sameElements(chunksBatch) && chunksBatch.nonEmpty)

    // Gopher rules are map-only column algebra — the SAME operator is
    // an ingest-time quality gate on a stream, verdict for verdict
    val inG = MemoryStream[(Long, String, String)]
    inG.addData(rows: _*)
    StreamingOps.runToMemory(
      TextOps.gopherFlags(inG.toDF().toDF("doc_id", "text", "source")),
      "gopher_stream", OutputMode.Append())
    val gopherStreamed = s.sql("SELECT doc_id, n_words, passes FROM gopher_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    val gopherBatch = TextOps.gopherFlags(batch)
      .select("doc_id", "n_words", "passes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(gopherStreamed.sameElements(gopherBatch) && gopherBatch.nonEmpty)
  }

  test("LM scoring and NB routing run unchanged on a stream (batch parity)") {
    // both scorers train on a STATIC frame at plan time (gated collect
    // + broadcast) and score via a stateless Dataset.map — the CCNet
    // deployment shape: model trained offline, crawl scored on arrival
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batch = randomDocs(60)
    val rows = batch.as[(Long, String, String)].collect().toSeq
    val lm = randomDocs(40, seed = 9)

    val inL = MemoryStream[(Long, String, String)]
    inL.addData(rows: _*)
    StreamingOps.runToMemory(
      TextOps.unigramLogProb(
        inL.toDF().toDF("doc_id", "text", "source"), lm),
      "lm_stream", OutputMode.Append())
    val lmStreamed = s.sql("SELECT * FROM lm_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val lmBatch = TextOps.unigramLogProb(batch, lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(lmStreamed.sameElements(lmBatch) && lmBatch.nonEmpty)

    val labeled = randomDocs(40, seed = 11)
      .withColumn("lab",
        F.when(F.col("doc_id") % 2 === 0, "even").otherwise("odd"))
    val inN = MemoryStream[(Long, String, String)]
    inN.addData(rows: _*)
    StreamingOps.runToMemory(
      TextOps.nbClassify(
        inN.toDF().toDF("doc_id", "text", "source"), labeled, "lab"),
      "nb_stream", OutputMode.Append())
    val nbStreamed = s.sql("SELECT * FROM nb_stream")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val nbBatch = TextOps.nbClassify(batch, labeled, "lab")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted
    assert(nbStreamed.sameElements(nbBatch) && nbBatch.nonEmpty)
  }

  test("greedy packing invariants hold at 200k docs across 64 real partitions") {
    val s = spark
    import s.implicits._
    val n = 200000
    // deterministic size mix incl. zeros and over-budget docs; text
    // synthesized as n tokens of "w"
    val sizes = (0 until n).map { i =>
      val h = (i * 2654435761L) & 0x7fffffff
      val tok = (h % 100) match {
        case x if x < 3 => 0
        case x if x < 8 => 600 + (h % 100).toInt // over budget
        case _ => 1 + (h % 97).toInt
      }
      (i.toLong, tok)
    }
    val df = sizes.map { case (id, t) => (id, ("w " * t).trim) }
      .toDF("doc_id", "text").repartition(48)
    val budget = 512L
    val got = withRealShuffle(64) {
      TrainPrep.packTokenShardsGreedy(df, budget)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    assert(got.length == n)
    // full parity with the sequential rule (driver-side reference is
    // cheap even at 200k)
    var sRef = 0L; var f = 0L; var i = 0
    got.foreach { case (id, nTok, shard, off) =>
      // "" tokenizes to one empty token; sizes with 0 tokens were
      // written as empty text → n_tokens 1, so recompute from the
      // engine's own n_tokens rather than the generator's intent
      if (nTok > 0 && f > 0 && f + nTok > budget) { sRef += 1; f = 0 }
      assert(shard == sRef && off == f, s"doc $id diverges at row $i")
      f += nTok
      i += 1
    }
  }
}
