package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Streaming operators driven through MemoryStream sources. */
class StreamingSpec extends SparkSpec {

  test("streaming sessionization closes sessions by gap and by event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Timestamp)]
    val df = in.toDF().toDF("user_id", "ts")
    val out = StreamingOps.sessionizeStream(
      df, gapSeconds = 60L, watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    // user 1 session A: 1000, 1030, 1050; session B: 1200, 1220.
    // user 2: one event (1010). Events must stay ABOVE the running
    // watermark (initial watermark is epoch 0 and it trails max event
    // time by 10 s, so each batch's events sit within 10 s of the
    // previous batch's max — the Append/EventTimeTimeout contract
    // drops anything older). Session A closes the moment event 1200
    // arrives (gap 150 > 60); B and user 2's singleton close via the
    // event-time timeout once sentinel events push the watermark far
    // past last + gap.
    in.addData((1L, ts(1000)), (1L, ts(1030)), (2L, ts(1010)))
    q.processAllAvailable()
    in.addData((1L, ts(1050)))
    q.processAllAvailable()
    in.addData((1L, ts(1200)), (1L, ts(1220)))
    q.processAllAvailable()
    // two sentinel batches: the first advances the watermark, the
    // second triggers a batch in which the pending timeouts fire
    in.addData((99L, ts(100000)))
    q.processAllAvailable()
    in.addData((99L, ts(200000)))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT * FROM sess WHERE user_id < 10 ORDER BY user_id, session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L,
        r.getTimestamp(2).getTime / 1000L, r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 1000L, 1050L, 3L), // session A: closed by the gap at t=1200
      (1L, 1200L, 1220L, 2L), // session B: closed by timeout
      (2L, 1010L, 1010L, 1L)), // singleton: closed by timeout
      rows.toSeq.toString)
  }

  test("file-source streaming over the testdata documents parquet") {
    val s = spark
    import s.implicits._
    // file streams need an explicit schema; stream the documents table
    // and run the exact-dedup fingerprint aggregation incrementally
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists,
      "driver-generated testdata not present")
    val schema = s.read.parquet("/root/testdata/sf0.001/documents.parquet").schema
    // file streams read directories; stage the table into one
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = s.readStream.schema(schema).parquet(dir.toString)
    val agg = stream
      .select(graft.operators.TextOps.fingerprint(org.apache.spark.sql.functions.col("text")).as("fp"))
      .groupBy("fp").count()
    StreamingOps.runToMemory(agg, "docfp", OutputMode.Complete())
    val n = s.sql("SELECT count(*) FROM docfp").head.getLong(0)
    assert(n == 500L, s"expected 500 distinct fingerprints, got $n")
  }

  test("streaming near-dup gate flags arrivals that collide with the static corpus") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (100L, base),
      (101L, "completely different text about spark catalyst optimizer rules engine")
    ).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val out = graft.streaming.StreamingOps.nearDupAgainstCorpus(stream, corpus)
    val q = out.writeStream.format("memory").queryName("ndg")
      .outputMode(OutputMode.Append()).start()
    // near-dup of corpus doc 100 (one word changed) + a clean doc
    in.addData(
      (1L, "the quick brown fox jumps over the lazy cat again and again today"),
      (2L, "unrelated fresh content with zero overlap whatsoever in any shingle"))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT * FROM ndg").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((1L, 100L)), s"planted near-dup not flagged: $rows")
    assert(!rows.exists(_._1 == 2L), s"clean doc falsely flagged: $rows")
  }

  test("streaming decontamination gate drops eval-overlapping docs at input rate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val gated = StreamingOps.decontaminationGate(stream, eval, n = 4)
    in.addData(
      (1L, "a quick brown fox jumps into view"), // shares a 4-gram -> dropped
      (2L, "the slow brown fox sleeps all day"), // clean -> kept
      (3L, "totally unrelated text about spark engines"))
    StreamingOps.runToMemory(gated, "decon", OutputMode.Append())
    val kept = s.sql("SELECT doc_id FROM decon ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 3L), kept.mkString(","))
  }

  test("decontamination filter: build once, save, load — the loaded gate decides identically") {
    val s = spark
    import s.implicits._
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "a quick brown fox jumps into view"),
      (2L, "the slow brown fox sleeps all day"),
      (3L, "my box with five dozen assorted items"),
      (4L, "totally unrelated text about spark engines"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val fresh = StreamingOps.decontaminationFilter(eval, n = 4)
    val path = java.nio.file.Files
      .createTempDirectory("graft_bloom").toString + "/decon.bloom"
    StreamingOps.decontaminationFilterSave(s, fresh, n = 4, path)
    val (loaded, loadedN) = StreamingOps.decontaminationFilterLoad(s, path)
    assert(loaded == fresh, "BloomFilter round trip must be bit-stable")
    assert(loadedN == 4, "the sidecar must carry the gram length")
    def survivors(
        f: org.apache.spark.util.sketch.BloomFilter): Seq[Long] =
      StreamingOps.decontaminationGate(probe, f, n = 4)
        .collect().map(_.getLong(0)).toSeq.sorted
    val viaFresh = survivors(fresh)
    assert(StreamingOps.decontaminationGate(probe, loaded, loadedN)
      .collect().map(_.getLong(0)).toSeq.sorted == viaFresh)
    // and both equal the one-shot evalDocs signature's verdicts
    val oneShot = StreamingOps.decontaminationGate(probe, eval, n = 4)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(viaFresh == oneShot, s"$viaFresh vs $oneShot")
    // the planted overlaps are gone, clean + null-text docs survive
    assert(viaFresh == Seq(2L, 4L, 5L), viaFresh.mkString(","))
    intercept[IllegalArgumentException](
      StreamingOps.decontaminationGate(probe, fresh, n = 0))
  }

  test("psiStream: per-window drift vs static reference matches the batch monitor") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rng = new scala.util.Random(23)
    // static reference: N(100, 10); stream window 1 ~ same dist
    // (PSI near 0), window 2 shifted by +2 sigma (PSI large)
    val ref = (0 until 4000).map(_ => rng.nextGaussian() * 10 + 100).toDF("x")
    val (edges, fracs) = graft.operators.Profile.psiReference(ref, "x")
    val in = MemoryStream[(Timestamp, Double)]
    val df = in.toDF().toDF("ts", "value")
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val w1 = (0 until 500).map(i =>
      (ts(10, i % 50), rng.nextGaussian() * 10 + 100))
    val w2 = (0 until 500).map(i =>
      (ts(11, i % 50), rng.nextGaussian() * 10 + 120))
    in.addData(w1 ++ w2: _*)
    StreamingOps.runToMemory(
      StreamingOps.psiStream(df, edges, fracs),
      "psis", OutputMode.Complete())
    val rows = s.sql("SELECT * FROM psis ORDER BY window_start").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 2, rows.toSeq.toString)
    assert(rows(0)._2 == 500L && rows(1)._2 == 500L)
    assert(rows(0)._3 < 0.1, s"same-distribution window should be stable: ${rows(0)}")
    assert(rows(1)._3 > 0.25, s"2-sigma shift should trip the index: ${rows(1)}")
    // parity law: the streaming fold equals the batch monitor on the
    // same window's rows (same bucketing code path, same algebra)
    val batch = graft.operators.Profile.psiBuckets(
        ref, w2.map(_._2).toDF("x"), "x")
      .agg(org.apache.spark.sql.functions.sum("psi_term")).head.getDouble(0)
    assert(math.abs(rows(1)._3 - batch) < 1e-4,
      s"stream ${rows(1)._3} vs batch $batch")
  }

  test("streaming IVF append matches the batch append row-for-row") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    Similarity.ivfSave(built, dir)

    // stream three arrivals in TWO micro-batches into the saved lists
    val in = MemoryStream[(Long, Array[Double])]
    val q = StreamingOps.ivfAppendStream(
      in.toDF().toDF("id", "vec"), dir, dir + "/ckpt")
    in.addData((100L, vec(3)), (101L, vec(7)))
    q.processAllAvailable()
    in.addData((102L, vec(11)))
    q.processAllAvailable()
    q.stop()

    // batch path over the same arrivals: ivfBuild is deterministic, so
    // a fresh build of the same base gives the frozen quantizer the
    // stream appended against
    val arrivals =
      Seq((100L, vec(3)), (101L, vec(7)), (102L, vec(11))).toDF("id", "vec")
    val batchIdx = Similarity.ivfAppend(Similarity.ivfBuild(base, nLists = 4),
      arrivals)
    try {
      val streamed = Similarity.ivfLoad(s, dir)
      assert(streamed.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq ==
        batchIdx.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq)
      // the parity law: every vector (old + streamed) sits in the SAME
      // list the batch append put it in
      def rows(ix: Similarity.IvfIndex) = ix.assigned
        .select(F.col("id").cast("long"), F.col("cluster").cast("int"),
          F.col("vec").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .toSet
      assert(rows(streamed) == rows(batchIdx),
        "streamed lists diverged from the batch append")
      // and every probe path serves old + streamed rows unchanged
      val got = Similarity.ivfTopK(streamed, vec(11), k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = Similarity.ivfTopK(batchIdx, vec(11), k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want)
      assert(got.map(_._1).contains(102L),
        s"streamed arrival should be its own nearest neighbor: $got")
    } finally Similarity.ivfRelease(batchIdx)
  }

  test("streaming ANN queries match the batch retrieval row-for-row") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val idx = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-qstream").toString
    try {
      // two micro-batches of queries against the frozen index
      val in = MemoryStream[(Long, Array[Double])]
      val q = StreamingOps.ivfQueryStream(
        in.toDF().toDF("qid", "qvec"), idx, k = 3, nprobe = 4,
        dir + "/out", dir + "/ckpt")
      in.addData((900L, vec(3)), (901L, vec(7)))
      q.processAllAvailable()
      in.addData((902L, vec(11)))
      q.processAllAvailable()
      q.stop()
      val streamed = s.read.parquet(dir + "/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      // parity law: the batch operator on the union of all arrivals
      val allQ = Seq((900L, vec(3)), (901L, vec(7)), (902L, vec(11)))
        .toDF("qid", "qvec")
      val want = Similarity.ivfTopKBatch(idx, allQ, k = 3, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      assert(streamed == want, "streamed ANN answers diverged from batch")
      assert(streamed.size == 9)
    } finally Similarity.ivfRelease(idx)
  }

  test("ivfAppendSegment replay is idempotent; compaction preserves rows; drift is measured") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-replay").toString
    Similarity.ivfSave(built, dir)
    val model = graft.scale.DeterministicKMeans.Model(
      built.centroids.sortBy(_._1).map(_._2))
    def assigned(rows: Seq[(Long, Array[Double])]) =
      graft.scale.DeterministicKMeans.assign(
        rows.toDF("id", "vec"), model, idCol = "id", vecCol = "vec")
        .select("id", "vec", "cluster")
    // the replay law (ADVICE r9): writing the SAME micro-batch segment
    // twice — a foreachBatch retry — must not duplicate served rows
    val seg0 = Seq((100L, vec(3)), (101L, vec(7)))
    StreamingOps.ivfAppendSegment(assigned(seg0), dir, seg = 0L)
    StreamingOps.ivfAppendSegment(assigned(seg0), dir, seg = 0L)
    assert(Similarity.ivfLoad(s, dir).assigned.count() == 42L,
      "replayed segment duplicated rows")
    // more segments, then compaction: row set identical, fewer files
    for (seg <- 1L to 4L)
      StreamingOps.ivfAppendSegment(
        assigned(Seq((200L + seg, vec(seg.toInt)))), dir, seg)
    def loadedRows() = Similarity.ivfLoad(s, dir).assigned
      .select(F.col("id").cast("long"), F.col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = loadedRows()
    val filesBefore = s.read.parquet(s"$dir/applists").inputFiles.length
    val filesAfter = Similarity.ivfCompactAppends(s, dir)
    assert(filesAfter > 0 && filesAfter < filesBefore,
      s"compaction did not shrink the segment files: $filesBefore -> $filesAfter")
    // the fold's driver listing counts what a Parquet read lists
    assert(filesAfter == s.read.parquet(s"$dir/applists").inputFiles.length)
    assert(loadedRows() == before, "compaction changed the served rows")
    // appends AFTER a compaction coexist with the merged segment
    StreamingOps.ivfAppendSegment(assigned(Seq((300L, vec(2)))), dir, 5L)
    assert(loadedRows() == before + ((300L,
      Similarity.ivfLoad(s, dir).assigned.where(F.col("id") === 300L)
        .select(F.col("cluster").cast("long")).head.getLong(0))))
    // drift metric: uniform ingest stays near 1/lists-touched spread;
    // collapsing everything onto one centroid's list reads ~1.0
    val uniform = new StreamingOps.IvfIngestMonitor
    uniform.recordBatch(Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 10L)))
    assert(uniform.topDecileShare <= 0.30,
      s"uniform ingest misread as drift: ${uniform.topDecileShare}")
    val drifted = new StreamingOps.IvfIngestMonitor
    drifted.recordBatch(Seq((0L, 970L), (1L, 10L), (2L, 10L), (3L, 10L)))
    assert(drifted.driftExceeds(0.5, minLists = 4),
      s"collapsed ingest not flagged: ${drifted.topDecileShare}")
    // the minLists gate (ADVICE r10): with < minLists touched lists the
    // "top decile" is ONE list by ceil rounding, so even perfectly
    // uniform narrow ingest reads high — the default gate must hold it
    assert(!drifted.driftExceeds(0.5),
      "4-list ingest fired the default (minLists=10) trigger")
    val narrow = new StreamingOps.IvfIngestMonitor
    narrow.recordBatch(Seq((0L, 10L), (1L, 10L))) // uniform, 2 lists
    assert(narrow.topDecileShare >= 0.5, "ceil decile of 2 lists is 1 list")
    assert(!narrow.driftExceeds(0.5),
      "uniform 2-list ingest misread as drift by the gated trigger")
    // the stream face wires both hooks: run two batches with
    // compactEverySegs = 1 and a monitor — every batch compacts, the
    // monitor sees the mass
    val mon = new StreamingOps.IvfIngestMonitor
    val in = MemoryStream[(Long, Array[Double])]
    val q = StreamingOps.ivfAppendStream(
      in.toDF().toDF("id", "vec"), dir, dir + "/ckpt2",
      compactEverySegs = 1, monitor = Some(mon))
    in.addData((400L, vec(1)), (401L, vec(2)))
    q.processAllAvailable()
    in.addData((402L, vec(3)))
    q.processAllAvailable()
    q.stop()
    assert(mon.batchesSeen == 2 && mon.rowsAppended == 3,
      s"monitor saw ${mon.batchesSeen} batches / ${mon.rowsAppended} rows")
    assert(mon.compactionsRun >= 1, "compaction hook never fired")
    assert(Similarity.ivfLoad(s, dir).assigned
      .where(F.col("id") >= 400L).count() == 3L)
    Similarity.ivfRelease(built)
  }

  test("reloading query face serves appended vectors without a restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-reload").toString
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val in = MemoryStream[(Long, Array[Double])]
    val q = StreamingOps.ivfQueryStream(
      in.toDF().toDF("qid", "qvec"), dir, k = 3, nprobe = 4,
      dir + "/out", dir + "/ckpt", reloadEveryBatches = 1)
    // batch 1: probe for a vector that is NOT yet in the index
    in.addData((900L, vec(77)))
    q.processAllAvailable()
    // append id 777 = exactly vec(77), then query again — the reload
    // (every batch) must make it visible to batch 2 without a restart
    val model = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    StreamingOps.ivfAppendSegment(
      graft.scale.DeterministicKMeans.assign(
        Seq((777L, vec(77))).toDF("id", "vec"), model,
        idCol = "id", vecCol = "vec").select("id", "vec", "cluster"),
      dir, seg = 0L)
    in.addData((901L, vec(77)))
    q.processAllAvailable()
    q.stop()
    val out = s.read.parquet(dir + "/out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.contains((900L, 777L)),
      "batch 1 saw a vector appended after it ran")
    assert(out.contains((901L, 777L)),
      s"reload did not surface the appended vector: $out")
  }

  test("compaction excludes the in-flight segment, so a post-compaction replay cannot duplicate") {
    // the ADVICE r10 medium finding: ivfCompactAppends folding the
    // CURRENT batch's segment breaks the replay law — if the driver
    // dies after the fold but before the streaming checkpoint commits,
    // the replayed batch rewrites seg=<id> while its rows also live in
    // the merged segment. With maxSegExclusive = batchId the in-flight
    // segment survives as its own directory and the replay overlays it.
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-excl").toString
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val model = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    def assigned(rows: Seq[(Long, Array[Double])]) =
      graft.scale.DeterministicKMeans.assign(
        rows.toDF("id", "vec"), model, idCol = "id", vecCol = "vec")
        .select("id", "vec", "cluster")
    StreamingOps.ivfAppendSegment(assigned(Seq((100L, vec(1)))), dir, 0L)
    StreamingOps.ivfAppendSegment(assigned(Seq((101L, vec(2)))), dir, 1L)
    val seg2 = Seq((102L, vec(3)), (103L, vec(4)))
    StreamingOps.ivfAppendSegment(assigned(seg2), dir, 2L)
    // the crash scenario: compaction runs inside batch 2's foreachBatch
    Similarity.ivfCompactAppends(s, dir, maxSegExclusive = 2L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/applists/seg=2")),
      "the in-flight segment was folded despite maxSegExclusive")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/applists/seg=0")),
      "committed segments were not folded")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/applists_swap_marker")),
      "the swap marker survived a completed compaction")
    def loadedRows() = Similarity.ivfLoad(s, dir).assigned
      .select(F.col("id").cast("long")).collect().map(_.getLong(0)).sorted.toSeq
    val afterCompact = loadedRows()
    assert(afterCompact.count(_ == 102L) == 1 && afterCompact.length == 44,
      s"row set wrong after exclusive compaction: ${afterCompact.length}")
    // ... then the checkpoint never commits and batch 2 REPLAYS
    StreamingOps.ivfAppendSegment(assigned(seg2), dir, 2L)
    assert(loadedRows() == afterCompact,
      "replaying the in-flight batch after compaction duplicated rows")
  }

  test("ivfRebuild equals a cold build over the same rows and swaps under the serve layout") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val model = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    def assigned(rows: Seq[(Long, Array[Double])]) =
      graft.scale.DeterministicKMeans.assign(
        rows.toDF("id", "vec"), model, idCol = "id", vecCol = "vec")
        .select("id", "vec", "cluster")
    val appended = (100L until 110L).map(i => (i, vec(i.toInt)))
    StreamingOps.ivfAppendSegment(assigned(appended.take(5)), dir, 0L)
    StreamingOps.ivfAppendSegment(assigned(appended.drop(5)), dir, 1L)
    val newK = Similarity.ivfRebuild(s, dir, targetListSize = 5)
    // the rebuild law (VERDICT r10 #2): the swapped layout equals a
    // COLD ivfBuildAuto + ivfSave over the same rows — deterministic
    // fit, so list assignment and every query agree exactly
    val allRows = (0L until 30L).map(i => (i, vec(i.toInt))) ++ appended
    val cold = Similarity.ivfBuildAuto(
      allRows.toDF("id", "vec"),
      Similarity.suggestLists(allRows.size.toLong, 5))
    try {
      val reb = Similarity.ivfLoad(s, dir)
      assert(reb.k == newK && newK == cold.k,
        s"list counts diverged: rebuilt=$newK cold=${cold.k}")
      assert(reb.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq ==
        cold.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq,
        "rebuilt centroids diverged from the cold fit")
      def rows(ix: Similarity.IvfIndex) = ix.assigned
        .select(F.col("id").cast("long"), F.col("cluster").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(rows(reb) == rows(cold), "rebuilt lists diverged from cold build")
      val got = Similarity.ivfTopK(reb, vec(105), k = 5, nprobe = reb.k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = Similarity.ivfTopK(cold, vec(105), k = 5, nprobe = cold.k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, "rebuilt index answers diverged from cold build")
      // appends were folded into the fresh base
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/applists")),
        "rebuild left unfolded append segments")
    } finally Similarity.ivfRelease(cold)
  }

  test("ivfRebuild with maxSegExclusive re-assigns the in-flight segment instead of folding it") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rebexcl").toString
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val model = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    def assigned(rows: Seq[(Long, Array[Double])]) =
      graft.scale.DeterministicKMeans.assign(
        rows.toDF("id", "vec"), model, idCol = "id", vecCol = "vec")
        .select("id", "vec", "cluster")
    StreamingOps.ivfAppendSegment(assigned(Seq((100L, vec(1)))), dir, 0L)
    val seg1 = Seq((101L, vec(2)), (102L, vec(3)))
    StreamingOps.ivfAppendSegment(assigned(seg1), dir, 1L)
    Similarity.ivfRebuild(s, dir, targetListSize = 5, maxSegExclusive = 1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/applists/seg=1")),
      "the in-flight segment did not survive the rebuild")
    def loadedIds() = Similarity.ivfLoad(s, dir).assigned
      .select(F.col("id").cast("long")).collect().map(_.getLong(0)).sorted.toSeq
    val after = loadedIds()
    assert(after.length == 33 && after.distinct.length == 33,
      s"rebuild with exclusion lost or duplicated rows: ${after.length}")
    // the replay: batch 1 re-runs against the NEW centroids (the
    // stream face reloads its model after a rebuild) and overlays its
    // own segment — still no duplicates
    val model2 = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    StreamingOps.ivfAppendSegment(
      graft.scale.DeterministicKMeans.assign(
        seg1.toDF("id", "vec"), model2, idCol = "id", vecCol = "vec")
        .select("id", "vec", "cluster"), dir, 1L)
    assert(loadedIds() == after,
      "replaying the in-flight batch after a rebuild duplicated rows")
  }

  test("drift-triggered rebuild fires under the ingest stream and the serve loop keeps answering") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-drift").toString
    // the checkpoint must NOT live under the index path: a rebuild
    // swaps the whole directory (the documented contract)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-drift-ck").toString
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val mon = new StreamingOps.IvfIngestMonitor
    val in = MemoryStream[(Long, Array[Double])]
    val q = StreamingOps.ivfAppendStream(
      in.toDF().toDF("id", "vec"), dir, ckpt,
      monitor = Some(mon), rebuildDriftThreshold = 0.4,
      rebuildTargetListSize = 10, rebuildMinLists = 1)
    // every appended vector is (near) vec(3) — they all collapse onto
    // one list, so topDecileShare reads ~1.0 and the trigger fires
    val drift = (200L until 212L).map(i => (i, vec(3)))
    in.addData(drift.take(6))
    q.processAllAvailable()
    val rebuildsAfterB1 = mon.rebuildsRun
    in.addData(drift.drop(6))
    q.processAllAvailable()
    q.stop()
    assert(mon.rebuildsRun >= 1, "drift never triggered a rebuild")
    // post-rebuild batches were assigned against the FRESH quantizer:
    // the layout loads, serves every row exactly once, and its
    // centroid count reflects the rebuild sizing (not the original 4)
    val reb = Similarity.ivfLoad(s, dir)
    val ids = reb.assigned.select(F.col("id").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.length == 52 && ids.distinct.length == 52,
      s"rebuild under ingest lost or duplicated rows: ${ids.length}")
    if (rebuildsAfterB1 >= 1) {
      // batch 2 landed on the rebuilt layout — its segment must load
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sessionState.newHadoopConf())
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/applists")),
        "post-rebuild appends missing from the layout")
    }
    // the serve face answers correctly against the rebuilt layout
    val got = Similarity.ivfTopK(reb, vec(3), k = 3, nprobe = reb.k)
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.forall(id => ids.contains(id)))
  }

  /** Deterministic doc corpus with planted dup structure for the gate
    * laws: base docs 0–19; batch 1 = 100–109 where 105 ≈ base 3
    * (base-dup) and 106 == 104 (within-batch exact dup); batch 2 =
    * 200–209 where 205 ≈ 101 (cross-BATCH near-dup of a batch-1
    * survivor) and 206 ≈ base 7. */
  private def gateFixture = {
    val rng = new scala.util.Random(7)
    val vocab = Vector("data", "spark", "query", "join", "scan", "table",
      "row", "batch", "agg", "filter", "merge", "sort", "hash", "key",
      "value", "col", "plan", "node", "leaf", "root")
    def doc(): String =
      Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    def tweak(t: String): String =
      "zzz " + t.split(" ").drop(1).mkString(" ")
    val base = (0L until 20L).map(i => (i, doc()))
    val b1raw = (100L until 105L).map(i => (i, doc()))
    val b1 = b1raw ++ Seq(
      (105L, tweak(base(3)._2)), (106L, b1raw.find(_._1 == 104L).get._2))
    val b2 = (200L until 205L).map(i => (i, doc())) ++ Seq(
      (205L, tweak(b1.find(_._1 == 101L).get._2)),
      (206L, tweak(base(7)._2)))
    (base, b1, b2)
  }

  test("self-growing dedup gate: streamed survivors equal the sequential batch fold") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = s.sqlContext
    val (base, b1, b2) = gateFixture
    val baseDf = base.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_gate_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gate_ck").toString
    val built = Dedup.minhashIndexBuild(baseDf)
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)

    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.minhashGateStream(
      in.toDF().toDF("doc_id", "text"), dir, out, ckpt,
      jaccardThreshold = 0.8)
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = s.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // the planted structure resolved as designed
    assert(!streamed.contains(105L), "base near-dup admitted")
    assert(!streamed.contains(106L), "within-batch exact dup admitted")
    assert(!streamed.contains(205L), "cross-batch near-dup of an admitted survivor leaked through")
    assert(!streamed.contains(206L), "base near-dup admitted in batch 2")
    assert(streamed.contains(101L) && streamed.contains(104L) &&
      streamed.contains(200L))

    // PARITY LAW: the stream equals the sequential batch fold
    // (dedupCorpus within, dedupAgainstIndex across, append survivors)
    val idx0 = Dedup.minhashIndexBuild(baseDf)
    val s1 = Dedup.dedupAgainstIndex(
      Dedup.dedupCorpus(b1.toDF("doc_id", "text"), 0.8), idx0, 0.8)
    val idx1 = Dedup.minhashIndexAppend(idx0, s1)
    val s2 = Dedup.dedupAgainstIndex(
      Dedup.dedupCorpus(b2.toDF("doc_id", "text"), 0.8), idx1, 0.8)
    val folded = (s1.select("doc_id").collect() ++ s2.select("doc_id").collect())
      .map(_.getLong(0)).toSet
    Dedup.minhashIndexRelease(idx1)
    assert(streamed == folded,
      s"stream/fold diverge: only-stream=${streamed -- folded} only-fold=${folded -- streamed}")

    // STATE LAW: the saved layout + appends equals a cold index over
    // base ∪ admitted survivors (band-row multiset equality)
    val loaded = Dedup.minhashIndexLoadWithAppends(s, dir)
    val admitted = baseDf.unionByName(
      (b1 ++ b2).toDF("doc_id", "text")
        .where(org.apache.spark.sql.functions.col("doc_id")
          .isin(streamed.toSeq: _*)))
    val cold = Dedup.minhashIndexBuild(admitted, persist = false)
    def bandSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "bh", "doc_id").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(bandSet(loaded.bandRows) == bandSet(cold.bandRows),
      "streamed state diverges from a cold build over the admitted set")
  }

  test("gate batch replay is idempotent and compaction folds only committed segments") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val (base, b1, b2) = gateFixture
    val baseDf = base.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_gate2_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_gate2_out").toString
    val built = Dedup.minhashIndexBuild(baseDf)
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)

    StreamingOps.minhashGateBatch(
      b1.toDF("doc_id", "text"), 0L, dir, out, 0.8)
    val afterOnce = s.read.parquet(s"$dir/bands_appends")
      .select("seg", "band", "bh", "doc_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sorted.toSeq
    // REPLAY: same batch id, same rows — dynamic overwrite rewrites the
    // same leaves; state and output are row-identical, not doubled
    StreamingOps.minhashGateBatch(
      b1.toDF("doc_id", "text"), 0L, dir, out, 0.8)
    val afterTwice = s.read.parquet(s"$dir/bands_appends")
      .select("seg", "band", "bh", "doc_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sorted.toSeq
    assert(afterOnce == afterTwice, "replayed gate batch changed the appended state")
    val outRows = s.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(outRows == outRows.distinct, "replayed gate batch duplicated output docs")

    StreamingOps.minhashGateBatch(
      b2.toDF("doc_id", "text"), 1L, dir, out, 0.8)
    val preCompact = Dedup.minhashIndexLoadWithAppends(s, dir)
    val probe = Seq((900L, b1.find(_._1 == 101L).get._2)).toDF("doc_id", "text")
    val hitsPre = Dedup.minhashNearDupAgainstIndex(probe, preCompact)
      .select("ref_id").collect().map(_.getLong(0)).toSet
    assert(hitsPre.contains(101L))

    // compact with batch 1 in flight: seg=1 must survive verbatim,
    // seg=0 folds into a negative merged segment
    Dedup.minhashCompactAppends(s, dir, maxSegExclusive = 1L)
    val segs = s.read.parquet(s"$dir/bands_appends")
      .select("seg").distinct().collect().map(_.getInt(0)).toSet
    assert(segs.exists(_ < 0) && segs.contains(1),
      s"compaction segments wrong: $segs")
    // COMPACTION INVARIANCE: queries read the same state
    val postCompact = Dedup.minhashIndexLoadWithAppends(s, dir)
    val hitsPost = Dedup.minhashNearDupAgainstIndex(probe, postCompact)
      .select("ref_id").collect().map(_.getLong(0)).toSet
    assert(hitsPre == hitsPost, "compaction changed query results")
    // full fold afterwards leaves a single negative segment
    Dedup.minhashCompactAppends(s, dir)
    val segs2 = s.read.parquet(s"$dir/bands_appends")
      .select("seg").distinct().collect().map(_.getInt(0)).toSet
    assert(segs2.size == 1 && segs2.head < 0, s"full fold left: $segs2")
    val hitsFull = Dedup.minhashNearDupAgainstIndex(
        probe, Dedup.minhashIndexLoadWithAppends(s, dir))
      .select("ref_id").collect().map(_.getLong(0)).toSet
    assert(hitsFull == hitsPre)
  }

  test("gate survives an all-duplicate (zero-survivor) first batch") {
    // ADVICE r11: a zero-survivor batch commits appends dirs holding
    // only _SUCCESS; treating that as has-appends sent the NEXT
    // batch's parquet read into schema inference over zero files and
    // killed the stream. The has-appends decision must key on seg=
    // leaves, not directory non-emptiness.
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val (base, b1, _) = gateFixture
    val baseDf = base.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_gate0_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_gate0_out").toString
    val built = Dedup.minhashIndexBuild(baseDf)
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)

    // batch 0: near-copies of base docs only — every row is gated out
    val dupBatch = Seq(
      (300L, "zzz " + base(2)._2.split(" ").drop(1).mkString(" ")),
      (301L, "zzz " + base(5)._2.split(" ").drop(1).mkString(" ")))
    StreamingOps.minhashGateBatch(dupBatch.toDF("doc_id", "text"), 0L, dir, out, 0.8)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val bp = new org.apache.hadoop.fs.Path(s"$dir/bands_appends")
    assert(fs.exists(bp) &&
      !fs.listStatus(bp).exists(_.getPath.getName.startsWith("seg=")),
      "fixture no longer reproduces the _SUCCESS-only appends dir")

    // the load treats the seg-less dirs as 'no appends' (would throw
    // schema-inference before the fix) …
    val loaded = Dedup.minhashIndexLoadWithAppends(s, dir)
    assert(loaded.bandRows.select("doc_id").distinct().count() == base.size.toLong)
    // … compaction is a no-op, not a crash …
    assert(Dedup.minhashCompactAppends(s, dir) == 0)
    // … and the NEXT batch (the one the bug killed) runs end-to-end
    StreamingOps.minhashGateBatch(b1.toDF("doc_id", "text"), 1L, dir, out, 0.8)
    val streamed = s.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.contains(101L) && !streamed.contains(300L) &&
      !streamed.contains(105L))
    // takedown also tolerates the seg-less dirs alongside real segments
    val nRemoved = Dedup.minhashLayoutRemove(s, dir, Seq(101L).toDF("doc_id"))
    assert(nRemoved > 0L)
  }

  /** Near-orthogonal unit-ish directions with a deterministic
    * perturbation (unambiguous centroids); semantic duplicates are
    * SCALED copies — cosine is scale-invariant, so a planted dup sits
    * at exactly 1.0 while distinct directions stay ≤ ~0.76. */
  private def embedGateFixture = {
    def dir(m: Int): Array[Double] = Array.tabulate(8)(f =>
      (if (f == m % 8) 1.0 else 0.0) + 0.01 * ((m * 7 + f) % 5))
    def mix(a: Int, b: Int): Array[Double] =
      dir(a).zip(dir(b)).map { case (x, y) => x + y }
    def scaled(v: Array[Double], s: Double): Array[Double] = v.map(_ * s)
    val base = (0L until 8L).map(i => (i, dir(i.toInt)))
    val b1 = Seq(
      (100L, scaled(dir(2), 3.0)), // dup of base 2 → reject vs state
      (101L, mix(0, 1)),           // new direction → admit
      (102L, scaled(mix(0, 1), 2.0)), // within-batch dup of 101 → lose
      (103L, mix(2, 3)))           // new direction → admit
    val b2 = Seq(
      (200L, scaled(mix(0, 1), 5.0)), // dup of ADMITTED 101 → reject
      (201L, scaled(dir(5), 2.0)),    // dup of base 5 → reject
      (202L, mix(4, 5)),              // new → admit
      (203L, scaled(mix(2, 3), 1.5))) // dup of ADMITTED 103 → reject
    (base, b1, b2)
  }

  test("semantic dedup gate: streamed admits equal the sequential brute-force fold") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = s.sqlContext
    val (base, b1, b2) = embedGateFixture
    val dir = java.nio.file.Files.createTempDirectory("graft_egate_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_egate_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_egate_ck").toString
    val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists = 2)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)

    val in = MemoryStream[(Long, Array[Double])]
    val q = StreamingOps.embedGateStream(
      in.toDF().toDF("id", "vec"), dir, out, ckpt,
      cosineThreshold = 0.95, nprobe = 2)
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = s.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).toSet

    // the planted structure resolved as designed
    assert(streamed == Set(101L, 103L, 202L), s"admitted: $streamed")

    // PARITY LAW: the stream equals an INDEPENDENT sequential fold
    // (driver-side brute force — full probes at nLists=2 make the
    // gate exact, and every planted dup shares its original's cell)
    def cos(a: Array[Double], b: Array[Double]) =
      graft.functions.VectorKernels.cosine(a, b)
    var state = base.map(_._2).toVector
    val folded = scala.collection.mutable.Set.empty[Long]
    for (batch <- Seq(b1, b2)) {
      val losers = batch.filter { case (i, v) =>
        batch.exists { case (j, w) => j < i && cos(v, w) >= 0.95 } }
        .map(_._1).toSet
      val adm = batch
        .filterNot { case (i, _) => losers(i) }
        .filter { case (_, v) => !state.exists(sv => cos(v, sv) >= 0.95) }
      folded ++= adm.map(_._1)
      state = state ++ adm.map(_._2)
    }
    assert(streamed == folded.toSet,
      s"stream/fold diverge: only-stream=${streamed -- folded} " +
        s"only-fold=${folded.toSet -- streamed}")

    // STATE LAW: the layout serves base + admitted through every
    // probe path — a reload sees exactly those ids
    val post = Similarity.ivfLoad(s, dir)
    val ids = post.assigned.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == base.map(_._1).toSet ++ streamed, s"layout ids: $ids")
    Similarity.ivfRelease(post)
  }

  test("semantic gate decisions are identical in the PRUNED-state regime (nBatch·nprobe < k)") {
    // the r14 regime gate: small batches against many lists collect
    // the probed clusters and read a statically pruned state scan —
    // decisions must equal the brute-force fold exactly as in the
    // unpruned regime (the all-lists test above runs nBatch·np >= k)
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = s.sqlContext
    def dir16(m: Int): Array[Double] = Array.tabulate(16)(f =>
      (if (f == m % 16) 1.0 else 0.0) + 0.01 * ((m * 7 + f) % 5))
    def mix(a: Int, b: Int): Array[Double] =
      dir16(a).zip(dir16(b)).map { case (x, y) => x + y }
    def scaled(v: Array[Double], s0: Double): Array[Double] = v.map(_ * s0)
    val base = (0L until 16L).map(i => (i, dir16(i.toInt)))
    val b1 = Seq(
      (100L, scaled(dir16(2), 3.0)),   // dup of base 2 → reject vs state
      (101L, mix(0, 1)),               // new direction → admit
      (102L, scaled(mix(0, 1), 2.0)),  // within-batch dup of 101 → lose
      (103L, mix(2, 3)))               // new direction → admit
    val b2 = Seq(
      (200L, scaled(mix(0, 1), 5.0)),  // dup of ADMITTED 101 → reject
      (201L, scaled(dir16(5), 2.0)),   // dup of base 5 → reject
      (202L, mix(4, 5)),               // new → admit
      (203L, scaled(mix(2, 3), 1.5)))  // dup of ADMITTED 103 → reject
    val dir = java.nio.file.Files.createTempDirectory("graft_egatep_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_egatep_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_egatep_ck").toString
    val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists = 16)
    assert(built.k == 16, s"fixture needs 16 lists, got ${built.k}")
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val in = MemoryStream[(Long, Array[Double])]
    // 4-row batches × nprobe 2 = 8 probe rows < 16 lists → pruned
    val q = StreamingOps.embedGateStream(
      in.toDF().toDF("id", "vec"), dir, out, ckpt,
      cosineThreshold = 0.95, nprobe = 2)
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = s.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(streamed == Set(101L, 103L, 202L), s"admitted: $streamed")
    // parity with the independent sequential brute-force fold
    def cos(a: Array[Double], b: Array[Double]) =
      graft.functions.VectorKernels.cosine(a, b)
    var state = base.map(_._2).toVector
    val folded = scala.collection.mutable.Set.empty[Long]
    for (batch <- Seq(b1, b2)) {
      val losers = batch.filter { case (i, v) =>
        batch.exists { case (j, w) => j < i && cos(v, w) >= 0.95 } }
        .map(_._1).toSet
      val adm = batch
        .filterNot { case (i, _) => losers(i) }
        .filter { case (_, v) => !state.exists(sv => cos(v, sv) >= 0.95) }
      folded ++= adm.map(_._1)
      state = state ++ adm.map(_._2)
    }
    assert(streamed == folded.toSet,
      s"pruned-regime stream/fold diverge: only-stream=" +
        s"${streamed -- folded} only-fold=${folded.toSet -- streamed}")
  }

  test("semantic gate survives a mid-stream quantizer rebuild") {
    // lifecycle law: the gate loads the layout per batch, so an
    // offline ivfRebuild between micro-batches (the drift remedy the
    // frozen-quantizer contract prescribes) is picked up with no
    // restart — admitted state carries into the rebuilt lists, and a
    // later duplicate of a pre-rebuild admit still rejects
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val (base, b1, _) = embedGateFixture
    val dir = java.nio.file.Files.createTempDirectory("graft_egate4_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_egate4_out").toString
    val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists = 2)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    StreamingOps.embedGateBatch(
      b1.toDF("id", "vec"), 0L, dir, out, 0.95, 2)
    // requantize base + the admitted segment (tiny corpus → rebuild
    // routes to a small list count; the gate must keep working)
    Similarity.ivfRebuild(s, dir, targetListSize = 8)
    val rebuilt = Similarity.ivfLoad(s, dir)
    val ids = rebuilt.assigned.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == base.map(_._1).toSet ++ Set(101L, 103L),
      s"rebuild dropped rows: $ids")
    Similarity.ivfRelease(rebuilt)
    val b2 = Seq(
      (500L, b1.find(_._1 == 101L).get._2.map(_ * 8.0)), // dup of admit
      (501L, embedGateFixture._1(6)._2.map(v => v))) // dup of base 6
    StreamingOps.embedGateBatch(
      b2.toDF("id", "vec"), 1L, dir, out, 0.95, 0 /* nprobe: routed */)
    val admitted = s.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!admitted.contains(500L),
      "post-rebuild gate forgot a pre-rebuild admit")
    assert(!admitted.contains(501L),
      "post-rebuild gate forgot a base vector")
    assert(admitted == Set(101L, 103L), s"admitted drifted: $admitted")
  }

  test("semantic gate + takedown: forgotten means re-admittable") {
    // GDPR semantics across the gate's whole lifecycle: the gate's
    // state IS an IVF layout, so ivfLayoutRemove erases an admitted
    // vector from base and appends alike — and a near-duplicate of the
    // forgotten vector arriving LATER must be ADMITTED again (nothing
    // in state remembers it), not rejected by a ghost
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val (base, b1, _) = embedGateFixture
    val dir = java.nio.file.Files.createTempDirectory("graft_egate3_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_egate3_out").toString
    val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists = 2)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    StreamingOps.embedGateBatch(
      b1.toDF("id", "vec"), 0L, dir, out, 0.95, 2)
    // 101 was admitted into the appends; erase it (and base 3)
    val n = Similarity.ivfLayoutRemove(s, dir, Seq(101L, 3L).toDF("id"))
    assert(n == 2L, s"expected 2 vectors removed, got $n")
    // a scaled copy of 101's direction arrives in a later batch: with
    // 101 forgotten it must ADMIT; a copy of un-erased base 5 still
    // rejects (removal is exact, not a wipe)
    val b2 = Seq(
      (400L, b1.find(_._1 == 101L).get._2.map(_ * 0.5)),
      (401L, base(5)._2.map(_ * 2.0)))
    StreamingOps.embedGateBatch(
      b2.toDF("id", "vec"), 1L, dir, out, 0.95, 2)
    val admitted = s.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(admitted.contains(400L),
      "near-dup of a FORGOTTEN vector was rejected — takedown left a ghost")
    assert(!admitted.contains(401L),
      "near-dup of an un-erased base vector leaked through")
  }

  test("semantic gate batch replay is idempotent; zero-admit batches and folds don't poison the layout") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val (base, b1, b2) = embedGateFixture
    val dir = java.nio.file.Files.createTempDirectory("graft_egate2_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_egate2_out").toString
    val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists = 2)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())

    // batch 0: duplicates of base only — zero admits, so the appends
    // dir holds no seg= leaf (the zero-row batch class); the NEXT
    // batch must still load the layout (ivfLoad's seg-leaf guard)
    val dupBatch = Seq(
      (300L, base(2)._2.map(_ * 4.0)), (301L, base(5)._2.map(_ * 2.0)))
    StreamingOps.embedGateBatch(
      dupBatch.toDF("id", "vec"), 0L, dir, out, 0.95, 2)
    val ap = new org.apache.hadoop.fs.Path(s"$dir/applists")
    assert(!fs.exists(ap) ||
      !fs.listStatus(ap).exists(_.getPath.getName.startsWith("seg=")),
      "fixture no longer reproduces the zero-admit appends dir")
    // a takedown and a rebuild over that layout must treat the appends
    // dir as holding no segments, not infer a schema from zero files.
    // Base 7 is nobody's near-duplicate, so removing it leaves every
    // later decision as it was; the rebuild (a new quantizer) runs on a
    // copy so the batches below still probe the original lists
    assert(Similarity.ivfLayoutRemove(s, dir, Seq(7L).toDF("id")) == 1L)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_egate2_reb")
      .resolve("idx").toString
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir),
      fs, new org.apache.hadoop.fs.Path(rebuilt), false,
      s.sessionState.newHadoopConf())
    Similarity.ivfRebuild(s, rebuilt, targetListSize = 8)
    assert(Similarity.ivfLoad(s, rebuilt).assigned.select("id").collect()
      .map(_.getLong(0)).toSet == (0L until 7L).toSet)
    StreamingOps.embedGateBatch(
      b1.toDF("id", "vec"), 1L, dir, out, 0.95, 2)
    def appendRows() = s.read.parquet(s"$dir/applists")
      .select("seg", "id").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getLong(1)))
      .sorted.toSeq
    val afterOnce = appendRows()
    assert(afterOnce.map(_._2).toSet == Set(101L, 103L))

    // REPLAY: same batch id, same rows — dynamic overwrite rewrites
    // the same leaves; state and output row-identical, not doubled
    StreamingOps.embedGateBatch(
      b1.toDF("id", "vec"), 1L, dir, out, 0.95, 2)
    assert(appendRows() == afterOnce, "replayed batch changed the state")
    val outIds = s.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(outIds == outIds.distinct, "replayed batch duplicated output")

    // COMPACTION INVARIANCE: fold the committed segment, then the next
    // batch probes folded state and still rejects the cross-batch dup
    Similarity.ivfCompactAppends(s, dir, maxSegExclusive = 2L)
    val segs = s.read.parquet(s"$dir/applists")
      .select("seg").distinct().collect()
      .map(_.getAs[Number](0).longValue()).toSet
    assert(segs.size == 1 && segs.head < 0L, s"fold left: $segs")
    StreamingOps.embedGateBatch(
      b2.toDF("id", "vec"), 2L, dir, out, 0.95, 2)
    val admitted = s.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(101L, 103L, 202L),
      s"post-fold batch decided differently: $admitted")
  }

  test("layout takedown: removal is exact, preserves segments, and removed docs stop matching") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val (base, b1, b2) = gateFixture
    val baseDf = base.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_take_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_take_out").toString
    val built = Dedup.minhashIndexBuild(baseDf)
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)
    StreamingOps.minhashGateBatch(b1.toDF("doc_id", "text"), 0L, dir, out, 0.8)
    StreamingOps.minhashGateBatch(b2.toDF("doc_id", "text"), 1L, dir, out, 0.8)

    // pre-takedown: a near-copy of base doc 3 and of admitted survivor
    // 101 both match their originals
    def hits(text: String): Set[Long] =
      Dedup.minhashNearDupAgainstIndex(
          Seq((900L, text)).toDF("doc_id", "text"),
          Dedup.minhashIndexLoadWithAppends(s, dir))
        .select("ref_id").collect().map(_.getLong(0)).toSet
    val t3 = "zzz " + base(3)._2.split(" ").drop(1).mkString(" ")
    val t101 = b1.find(_._1 == 101L).get._2
    assert(hits(t3).contains(3L) && hits(t101).contains(101L))

    val nRemoved = Dedup.minhashLayoutRemove(
      s, dir, Seq(3L, 101L).toDF("doc_id"))
    assert(nRemoved > 0L)

    // removed docs can never match future arrivals again
    assert(!hits(t3).contains(3L), "takedown left base doc 3 matchable")
    assert(!hits(t101).contains(101L), "takedown left survivor 101 matchable")

    // EXACTNESS: the surviving layout equals a cold build over
    // (base ∪ admitted survivors) minus the removed ids
    val admitted = s.read.parquet(out).select("doc_id", "text")
    val surviving = baseDf.unionByName(admitted)
      .where(!org.apache.spark.sql.functions.col("doc_id").isin(3L, 101L))
    val cold = Dedup.minhashIndexBuild(surviving, persist = false)
    val loaded = Dedup.minhashIndexLoadWithAppends(s, dir)
    def bandSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "bh", "doc_id").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(bandSet(loaded.bandRows) == bandSet(cold.bandRows),
      "post-takedown state diverges from a cold build over the survivors")

    // segment structure preserved: both gate segments still present
    val segs = s.read.parquet(s"$dir/bands_appends")
      .select("seg").distinct().collect().map(_.getInt(0)).toSet
    assert(segs == Set(0, 1), s"takedown disturbed segments: $segs")

    // removing every base doc must refuse, not strand an empty layout
    val all = (base.map(_._1) ++ b1.map(_._1) ++ b2.map(_._1))
    val e = intercept[IllegalArgumentException](
      Dedup.minhashLayoutRemove(s, dir, all.toDF("doc_id")))
    assert(e.getMessage.contains("empty the base index"))
  }

  test("IVF layout takedown: vectors removed from base and appends, quantizer untouched") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(f => math.sin((i % 4) * 0.9 + f * 0.4))))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_take").toString
    val iv = Similarity.ivfBuild(vecs.toDF("id", "vec"), nLists = 4)
    Similarity.ivfSave(iv, dir)
    val cents = iv.centroids
    Similarity.ivfRelease(iv)
    // one streamed append segment beside the base lists
    val appended = (100L until 110L).map(i =>
      (i, Array.tabulate(8)(f => math.cos((i % 4) * 0.9 + f * 0.4))))
    StreamingOps.ivfAppendSegment(
      graft.scale.DeterministicKMeans.assign(
        appended.toDF("id", "vec"),
        graft.scale.DeterministicKMeans.Model(cents.sortBy(_._1).map(_._2)),
        idCol = "id", vecCol = "vec").select("id", "vec", "cluster"),
      dir, seg = 0L)
    val pre = Similarity.ivfLoad(s, dir)
    assert(pre.assigned.count() == 50L)

    val n = Similarity.ivfLayoutRemove(s, dir, Seq(3L, 105L).toDF("id"))
    assert(n == 2L, s"expected 2 vectors removed, got $n")
    val post = Similarity.ivfLoad(s, dir)
    val ids = post.assigned.select("id").collect().map(_.getLong(0)).toSet
    assert(post.assigned.count() == 48L && !ids.contains(3L) && !ids.contains(105L))
    // quantizer untouched; appended segment structure intact
    assert(post.centroids.map(_._1).toSeq == cents.map(_._1).toSeq)
    val segs = s.read.parquet(s"$dir/applists")
      .select("seg").distinct().collect().map(_.getInt(0)).toSet
    assert(segs == Set(0))
    // queries against the post-takedown layout never return removed ids
    val q = vecs.find(_._1 == 3L).get._2
    val got = Similarity.ivfTopK(post, q, k = 5, nprobe = post.k)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(3L) && got.nonEmpty)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfLayoutRemove(
        s, dir, (0L until 200L).toDF("id")))
    assert(e.getMessage.contains("empty the index"))
  }

  test("streaming heavy hitters: no false negatives, bounds bracket truth, certainty flag honest") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // b1: 'alpha' heavy (30 of ~80 tokens), 'beta' moderate; b2:
    // 'beta' heavy, 'alpha' present but BELOW the per-batch bar —
    // globally both are heavy, and alpha exercises the pigeonhole
    // (captured in b1 only; its b2 mass reaches ub via the sketch)
    val b1 = Seq((1L, ("alpha " * 30) + ("beta " * 10) +
      (0 until 40).map(i => s"w$i").mkString(" ")))
    val b2 = Seq((2L, ("beta " * 30) + ("alpha " * 5) +
      (0 until 45).map(i => s"v$i").mkString(" ")))
    val side = java.nio.file.Files
      .createTempDirectory("graft_hh").toString + "/hh"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_hh_ck").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.heavyTokensStream(
      in.toDF().toDF("doc_id", "text"), phi = 0.1, side, ckpt)
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val out = StreamingOps.heavyTokensOf(s, side, phi = 0.1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    // exact truth over the union
    val allDocs = (b1 ++ b2).toDF("doc_id", "text")
    val exact = graft.operators.TextOps.heavyTokens(allDocs, phi = 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet.contains("alpha") && exact.keySet.contains("beta"))
    // COMPLETENESS: every true heavy hitter is reported
    exact.foreach { case (tok, n) =>
      assert(out.contains(tok), s"true heavy hitter $tok missed")
      val (lb, ub, _) = out(tok)
      assert(lb <= n && n <= ub,
        s"bounds don't bracket truth for $tok: lb=$lb true=$n ub=$ub")
    }
    // alpha was sub-bar in b2: its lb records b1 only (30), truth 35
    val (albL, albU, _) = out("alpha")
    assert(albL == 30L && albU >= 35L)
    // beta was φ-frequent in both batches: exact lb, certainly heavy
    val (betL, _, betC) = out("beta")
    assert(betL == 40L && betC == 1)
  }

  test("streaming heavy hitters: a zero-token first batch neither kills the stream nor the read") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch 1 is 40 distinct singleton tokens at phi = 0.1 (bar = 4):
    // NO token clears its own batch's bar, so tops is an empty frame
    // whose partitioned write leaves no seg= leaf — the read must
    // treat that as "no candidates yet", not die on schema inference
    // (the same failure class as the gate's zero-survivor batch,
    // ADVICE r11)
    val side = java.nio.file.Files
      .createTempDirectory("graft_hh0").toString + "/hh"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_hh0_ck").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.heavyTokensStream(
      in.toDF().toDF("doc_id", "text"), phi = 0.1, side, ckpt)
    try {
      in.addData(Seq((1L, (0 until 40).map(i => s"u$i").mkString(" "))))
      q.processAllAvailable()
      // readable mid-stream with zero candidates
      assert(StreamingOps.heavyTokensOf(s, side, phi = 0.1).count() == 0L)
      in.addData(Seq((3L, "alpha " * 20)))
      q.processAllAvailable()
    } finally q.stop()
    val out = StreamingOps.heavyTokensOf(s, side, phi = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.get("alpha").exists(_ == 20L),
      s"post-recovery report wrong: $out")
  }

  test("streaming incremental profile: merged sidecars equal the batch profile of all streamed rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = (0L until 300L).map(i =>
      (i, if (i % 9 == 0) null else s"t${i % 17}",
        if (i % 7 == 0) None else Some((i % 41).toDouble)))
    val side = java.nio.file.Files
      .createTempDirectory("graft_pstream").toString + "/sidecars"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_pstream_ck").toString
    val in = MemoryStream[(Long, String, Option[Double])]
    val q = StreamingOps.profileStream(
      in.toDF().toDF("id", "tag", "score"), Seq("id", "tag", "score"),
      side, ckpt)
    try {
      in.addData(rows.take(120))
      q.processAllAvailable()
      in.addData(rows.drop(120))
      q.processAllAvailable()
    } finally q.stop()
    val merged = StreamingOps.profileOf(s, side)
      .collect().map(r => r.getString(0) -> r).toMap
    val whole = graft.operators.Profile.mergeShards(
        graft.operators.Profile.sketchShard(
          rows.toDF("id", "tag", "score"), Seq("id", "tag", "score")))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("id", "tag", "score").foreach { c =>
      assert(merged(c).getLong(1) == whole(c).getLong(1) &&
        merged(c).getLong(2) == whole(c).getLong(2),
        s"streamed counts diverge on $c")
      assert(math.abs(merged(c).getLong(3) - whole(c).getLong(3)) <=
        math.max(8L, (0.025 * whole(c).getLong(3)).toLong),
        s"streamed HLL diverges on $c")
      Seq(4, 5, 6, 7).foreach { i =>
        assert(merged(c).isNullAt(i) == whole(c).isNullAt(i) &&
          (merged(c).isNullAt(i) ||
            math.abs(merged(c).getDouble(i) - whole(c).getDouble(i)) < 5e-4),
          s"streamed stat $i diverges on $c")
      }
    }
    // two sidecar segments committed, O(cols) rows each
    val segs = s.read.parquet(side).select("seg").distinct().count()
    assert(segs == 2L)
  }

  test("sidecar compaction: profile and heavy-hitter folds leave the reads identical") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // ---- profile: three batches, fold the first two, read unchanged
    val rows = (0L until 300L).map(i =>
      (i, if (i % 9 == 0) null else s"t${i % 17}",
        if (i % 7 == 0) None else Some((i % 41).toDouble)))
    val side = java.nio.file.Files
      .createTempDirectory("graft_pcomp").toString + "/sidecars"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_pcomp_ck").toString
    val in = MemoryStream[(Long, String, Option[Double])]
    val q = StreamingOps.profileStream(
      in.toDF().toDF("id", "tag", "score"), Seq("id", "tag", "score"),
      side, ckpt)
    try {
      in.addData(rows.take(100)); q.processAllAvailable()
      in.addData(rows.slice(100, 200)); q.processAllAvailable()
      in.addData(rows.drop(200)); q.processAllAvailable()
    } finally q.stop()
    def profRows() = StreamingOps.profileOf(s, side).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Seq(4, 5, 6, 7).map(i => if (r.isNullAt(i)) None
          else Some(r.getDouble(i))))).toSeq.sortBy(_._1)
    val before = profRows()
    // fold only the COMMITTED prefix: seg 2 is 'in flight'
    assert(StreamingOps.profileCompact(s, side, maxSegExclusive = 2L) > 0)
    val segs = s.read.parquet(side).select("seg").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(segs.exists(_ < 0) && segs.contains(2), s"profile segs: $segs")
    val mid = profRows()
    // counts/moments/min/max EXACT; HLL union-of-union == union
    // (register-max associativity) so distinct matches too
    assert(mid == before, s"profile changed under compaction:\n$mid\nvs\n$before")
    // full fold leaves one negative segment; read still identical
    StreamingOps.profileCompact(s, side)
    val segs2 = s.read.parquet(side).select("seg").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(segs2.size == 1 && segs2.head < 0, s"full fold left: $segs2")
    assert(profRows() == before)
    // nothing eligible -> 0, not a crash
    assert(StreamingOps.profileCompact(s, side, maxSegExclusive = -100L) == 0)

    // ---- heavy hitters: fold preserves the report row-for-row
    val b1 = Seq((1L, ("alpha " * 30) + ("beta " * 10) +
      (0 until 40).map(i => s"w$i").mkString(" ")))
    val b2 = Seq((2L, ("beta " * 30) + ("alpha " * 5) +
      (0 until 45).map(i => s"v$i").mkString(" ")))
    val hside = java.nio.file.Files
      .createTempDirectory("graft_hcomp").toString + "/hh"
    val hckpt = java.nio.file.Files
      .createTempDirectory("graft_hcomp_ck").toString
    val hin = MemoryStream[(Long, String)]
    val hq = StreamingOps.heavyTokensStream(
      hin.toDF().toDF("doc_id", "text"), phi = 0.1, hside, hckpt)
    try {
      hin.addData(b1); hq.processAllAvailable()
      hin.addData(b2); hq.processAllAvailable()
    } finally hq.stop()
    def report() = StreamingOps.heavyTokensOf(s, hside, phi = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSeq
    val hBefore = report()
    assert(StreamingOps.heavyTokensCompact(s, hside) > 0)
    val hSegs = s.read.parquet(s"$hside/tops").select("seg").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(hSegs.size == 1 && hSegs.head < 0, s"hh segs: $hSegs")
    // lb is a plain sum over recorded rows and the count-min merge is
    // cell-wise associative — the report is ROW-IDENTICAL, ub included
    assert(report() == hBefore,
      s"heavy-hitter report changed under compaction:\n${report()}\nvs\n$hBefore")
    // a crashed swap is loud for readers: marker present and stuck
    val fs = new org.apache.hadoop.fs.Path(side)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.create(graft.operators.SegmentTiers.swapMarker(side), true).close()
    val e = intercept[IllegalStateException](StreamingOps.profileOf(s, side))
    assert(e.getMessage.contains("compaction"))
  }

  test("SegmentTiers.select: reals always fold, merged tiers by the 2x ratio, lone merged never") {
    import graft.operators.SegmentTiers.select
    assert(select(Nil) == Nil)
    // reals-only: everything folds
    assert(select(Seq(0L -> 10L, 1L -> 12L)).toSet == Set(0L, 1L))
    // a cold big merged tier is NOT rewritten by a small fold
    assert(select(Seq(3L -> 10L, -1L -> 100L)) == Seq(3L))
    // ... until the accumulated small mass reaches half its size
    assert(select(Seq(3L -> 60L, -1L -> 100L)).toSet == Set(3L, -1L))
    // merged ladder: ascending inclusion stops at the first too-big tier
    assert(select(Seq(4L -> 10L, -1L -> 500L, -2L -> 15L)).toSet ==
      Set(4L, -2L))
    // no reals: two similar merged tiers coalesce ...
    assert(select(Seq(-1L -> 10L, -2L -> 12L)).toSet == Set(-1L, -2L))
    // ... but a lone merged segment is never rewritten (pure churn)
    assert(select(Seq(-1L -> 100L)) == Nil)
    assert(select(Seq(-1L -> 100L, -2L -> 5L)) == Nil)
  }

  test("tiered in-stream fold: cold merged tier untouched, reads identical, full-fold law intact") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val F = org.apache.spark.sql.functions
    val (base, b1, b2) = gateFixture
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tiered-fold").toString
    val built = Dedup.minhashIndexBuild(base.toDF("doc_id", "text"))
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)
    def append(docs: Seq[(Long, String)], seg: Long): Unit = {
      val df = docs.toDF("doc_id", "text")
      Dedup.minhashAppendSegment(df, dir, seg,
        built.shingleLen, built.numHashes, built.bands)
    }
    def segDirs(sub: String): Map[Long, Set[String]] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(p).filter(_.getPath.getName.startsWith("seg="))
        .map { st =>
          st.getPath.getName.substring(4).toLong ->
            fs.listStatus(st.getPath).map(_.getPath.getName).toSet
        }.toMap
    }
    def loadedRows(): Set[(Long, Long)] =
      Dedup.minhashIndexLoadWithAppends(s, dir).bandRows
        .select(F.col("doc_id"), F.col("band").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // four appended batches fold into one big merged tier
    append(b1, 0L); append(b2, 1L)
    append(b1.map { case (i, t) => (i + 1000L, t) }, 2L)
    append(b2.map { case (i, t) => (i + 1000L, t) }, 3L)
    Dedup.minhashCompactAppends(s, dir, maxSegExclusive = 100L, tiered = true)
    val afterBig = segDirs("bands_appends")
    assert(afterBig.keySet.forall(_ < 0) && afterBig.size == 1,
      s"first tiered fold should leave one merged tier: ${afterBig.keySet}")
    val (bigSeg, bigFiles) = afterBig.head
    val rowsBefore = loadedRows()
    // one SMALL batch (2 docs vs the tier's ~28): the fold must NOT
    // rewrite the big cold tier
    append(b1.take(2).map { case (i, t) => (i + 2000L, t) }, 4L)
    val rowsWithSmall = loadedRows()
    Dedup.minhashCompactAppends(s, dir, maxSegExclusive = 100L, tiered = true)
    val afterSmall = segDirs("bands_appends")
    assert(afterSmall.contains(bigSeg) && afterSmall(bigSeg) == bigFiles,
      "tiered fold rewrote the cold big merged tier")
    assert(afterSmall.keySet.forall(_ < 0) && afterSmall.size == 2,
      s"small fold should add one merged tier: ${afterSmall.keySet}")
    // folds are invisible to readers
    assert(loadedRows() == rowsWithSmall, "tiered fold changed the read rows")
    assert(rowsWithSmall != rowsBefore, "fixture: small batch added nothing")
    // the r13-pinned FULL-fold law is untouched: one merged segment after
    Dedup.minhashCompactAppends(s, dir)
    val afterFull = segDirs("bands_appends")
    assert(afterFull.size == 1 && afterFull.keySet.head < 0,
      s"full fold law broken: ${afterFull.keySet}")
    assert(loadedRows() == rowsWithSmall, "full fold changed the read rows")
  }

  test("tiered folds in a running append stream: ladder of tiers, cold tiers untouched, reads identical, fold bytes bounded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    // 32-dim random vectors: the rows, not the per-file parquet
    // overhead, carry each segment's bytes, as the fold policy assumes
    val rng = new scala.util.Random(11)
    def vecs(from: Long, n: Int) =
      (0 until n).map(j => (from + j, Array.fill(32)(rng.nextGaussian())))
    val base = vecs(0L, 40)
    val batches = (0 until 13).map(b => vecs(1000L + 100L * b, 24))
    val cadence = 2
    /** seg id -> (bytes as the fold policy measures them, file -> digest) */
    type Segs = Map[Long, (Long, Map[String, String])]
    def segs(dir: String): Segs = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/applists")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      graft.operators.SegmentTiers.segLeaves(fs, p).map { case (id, leaf) =>
        val root = java.nio.file.Paths.get(leaf.toUri)
        val walk = java.nio.file.Files.walk(root)
        val files = try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => root.relativize(f).toString ->
              java.security.MessageDigest.getInstance("SHA-256")
                .digest(java.nio.file.Files.readAllBytes(f))
                .map("%02x".format(_)).mkString)
            .toMap
        } finally walk.close()
        id -> (fs.getContentSummary(leaf).getLength, files)
      }.toMap
    }
    /** Streams `batches` into a fresh copy of the base index; returns
      * the index dir and the segments after every batch. */
    def stream(compactEverySegs: Int): (String, Seq[Segs]) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tier-stream").toString + "/idx"
      val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists = 2)
      Similarity.ivfSave(built, dir)
      Similarity.ivfRelease(built)
      val in = MemoryStream[(Long, Array[Double])]
      val q = StreamingOps.ivfAppendStream(in.toDF().toDF("id", "vec"), dir,
        java.nio.file.Files.createTempDirectory("graft-tier-stream-ck").toString,
        compactEverySegs = compactEverySegs)
      try (dir, batches.map { b =>
        in.addData(b)
        q.processAllAvailable()
        segs(dir)
      }) finally q.stop()
    }
    val (dir, after) = stream(cadence)
    var maxTiers = 0
    var keptTiers = 0
    var foldBytes = 0L
    var fullFoldBytes = 0L
    after.zipWithIndex.foreach { case (now, i) =>
      val tiers = now.filter(_._1 < 0).values.map(_._1).toSeq.sorted
      maxTiers = math.max(maxTiers, tiers.size)
      // bounded segments: the real-segment cadence holds, and a fold
      // stops at the first tier over 2x the bytes it took, so the tier
      // it writes is under half the next one up. The tiers form a
      // ladder, each over twice the one below: at most
      // 1 + log2(largest / smallest) of them.
      assert(now.keys.count(_ >= 0) <= cadence, s"batch $i: ${now.keys}")
      assert(tiers.sliding(2).forall(p => p.size < 2 || p(1) > 2 * p(0)),
        s"batch $i: merged tiers $tiers are no 2x ladder")
      val before = if (i == 0) Map.empty: Segs else after(i - 1)
      val taken = before.keySet -- now.keySet
      if (taken.nonEmpty) {
        val written = (now.keySet -- before.keySet).filter(_ < 0)
        assert(written.size == 1, s"batch $i: the fold wrote $written")
        // a later fold leaves every tier it did not take byte-for-byte
        val kept = before.keySet.filter(_ < 0) -- taken
        kept.foreach(t => assert(now(t) == before(t), s"batch $i rewrote tier $t"))
        keptTiers += kept.size
        // the fold-bytes bound, from SegmentTiers.select's 2x rule: a
        // fold takes every real segment (r bytes), then merged tiers in
        // ascending size while each is at most 2x the bytes taken so
        // far. Each tier taken at most triples the bytes taken, so a
        // fold that takes j tiers rewrites at most 3^j * r bytes.
        val r = taken.filter(_ >= 0).toSeq.map(before(_)._1).sum
        val j = taken.count(_ < 0)
        val read = taken.toSeq.map(before(_)._1).sum
        val out = now(written.head)._1
        assert(read <= math.pow(3, j) * r,
          s"batch $i: fold took $read bytes (fresh $r, $j tiers)")
        foldBytes += out
        // what folding every committed segment would have rewritten
        fullFoldBytes += before.values.map(_._1).sum
      }
    }
    assert(maxTiers >= 2, s"the folds never reached tier depth 2: $maxTiers")
    assert(keptTiers > 0, "no fold left a cold tier in place")
    assert(foldBytes < fullFoldBytes,
      s"tiered folds wrote $foldBytes bytes; full folds would rewrite $fullFoldBytes")
    info(s"tiered folds wrote $foldBytes bytes; full folds would rewrite " +
      s"$fullFoldBytes; tier depth reached $maxTiers")
    // folds are invisible: the read equals the same stream's, unfolded
    val (plain, plainAfter) = stream(0)
    assert(plainAfter.last.keySet == batches.indices.map(_.toLong).toSet)
    def rows(d: String) = Similarity.ivfLoad(s, d).assigned
      .select(F.col("id").cast("long"), F.col("cluster").cast("int"),
        F.col("vec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(_._1).toSeq
    assert(rows(dir) == rows(plain), "the folds changed the read")
  }

  test("salted segment writes: cold keys keep one file per leaf, hot keys split, replay idempotent") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val F = org.apache.spark.sql.functions
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val base = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val built = Similarity.ivfBuild(base, nLists = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-salted-seg").toString
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    // hot cluster 0: 30 rows; cold cluster 1: 3 rows (bypass assign —
    // the write path only contracts on (id, vec, cluster))
    val assigned =
      (0L until 30L).map(i => (100L + i, vec(i.toInt), 0)) ++
        (0L until 3L).map(i => (200L + i, vec(i.toInt), 1))
    val df = assigned.toDF("id", "vec", "cluster")
    StreamingOps.ivfAppendSegment(df, dir, seg = 0L, targetFileRows = 10L)
    def leafFiles(cluster: Int): Int = {
      val p = new org.apache.hadoop.fs.Path(
        s"$dir/applists/seg=0/cluster=$cluster")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(leafFiles(1) == 1,
      s"cold cluster should keep one file per leaf, got ${leafFiles(1)}")
    val hot = leafFiles(0)
    assert(hot > 1 && hot <= 3,
      s"hot cluster (30 rows, target 10) should split into 2-3 files, got $hot")
    // replay: identical layout decisions, no duplicates
    StreamingOps.ivfAppendSegment(df, dir, seg = 0L, targetFileRows = 10L)
    val rows = Similarity.ivfLoad(s, dir).assigned
      .select(F.col("id").cast("long")).collect().map(_.getLong(0)).sorted
    assert(rows.length == 73 && rows.toSet.size == 73,
      s"replayed salted segment duplicated rows: ${rows.length}")
    // a caller-known row count at or under the target skips the count
    // job; every leaf must still get the same rows in the same files as
    // the counted write of the same frame
    def leafLayout(seg: Long, cluster: Int): Set[Set[Long]] = {
      val p = new org.apache.hadoop.fs.Path(
        s"$dir/applists/seg=$seg/cluster=$cluster")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .map(f => s.read.parquet(f.toString).select("id").as[Long].collect().toSet)
        .toSet
    }
    StreamingOps.ivfAppendSegment(df, dir, seg = 1L, targetFileRows = 40L)
    StreamingOps.ivfAppendSegment(df, dir, seg = 2L, targetFileRows = 40L,
      knownRows = Some(33L))
    for (c <- Seq(0, 1)) {
      val counted = leafLayout(1L, c)
      assert(counted.size == 1 && counted.head.size == (if (c == 0) 30 else 3),
        s"counted write at target 40: cluster $c files $counted")
      assert(leafLayout(2L, c) == counted,
        s"known-count write differs from the counted write in cluster $c")
    }
    // a known count above the target keeps the counted (salted) path
    StreamingOps.ivfAppendSegment(df, dir, seg = 3L, targetFileRows = 10L,
      knownRows = Some(33L))
    assert(leafLayout(3L, 0) == leafLayout(0L, 0) && leafLayout(3L, 1) == leafLayout(0L, 1),
      "a known count above the target changed the salted layout")
  }
}
