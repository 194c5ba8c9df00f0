package perfbench

import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable

/** Streamed dedup ingest: each micro-batch, with planted duplicates,
  * goes to the minhash gate and the semantic (embedding) gate at once;
  * the call returns when both have committed it. Each gate folds its
  * append segments every 2 segments, so the second batch folds the
  * first one's segment. After the last batch a fresh reader loads the
  * embedding gate's IVF layout, live segments included, and serves a
  * query batch from it.
  */
object GateIngest {
  val Dims = 64
  val K = 10
  val Tokens = 50
  val FoldEvery = 2
  val Batches = 2
  val CosineThreshold = 0.95
  val JaccardThreshold = 0.8
  private val PlantPos = 91L
  private val SourcePos = 92L
  private val DonorPos = 93L

  final case class Row(id: Long, text: String, vec: Array[Float], planted: Boolean)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tr
    val smoke = ctx.args.smoke
    val nBase = if (smoke) 1000 else 2000
    val perBatch = if (smoke) 100 else 200
    val gen = new Gen(ctx.args.seed, Dims)
    val nLists = Similarity.suggestLists(nBase.toLong)
    val base = Array.tabulate(nBase)(i =>
      Row(i.toLong, gen.doc(i.toLong, Tokens), gen.vec(i.toLong), planted = false))

    val df = ctx.setup(3) { r =>
      val p = ctx.path(s"gate-base-$r")
      base.toSeq.map(x => (x.id, x.text, x.vec)).toDF("id", "text", "vec").write.parquet(p)
      val df = spark.read.parquet(p)
      df.count()
      df
    }
    ctx.mark("set-up")
    val dirM = ctx.path("gate-minhash")
    val dirE = ctx.path("gate-ivf")
    tr.nextOp()
    val (_, buildS) = ctx.timed {
      tr("dedup.minhash_index_build") {
        val idx = Dedup.minhashIndexBuild(df.select($"id".as("doc_id"), $"text"))
        Dedup.minhashIndexSave(idx, dirM)
        Dedup.minhashIndexRelease(idx)
      }
      tr("similarity.gate_ivf_build") {
        val ivf = Similarity.ivfBuild(df.select("id", "vec"), nLists)
        Similarity.ivfSave(ivf, dirE)
        ivf.assigned.unpersist()
      }
    }

    ctx.mark("index build")

    // each batch is generated before its call starts the clock
    val originals = mutable.ArrayBuffer.empty[Row] // admitted stream rows, in order
    def batch(b: Int): Array[Row] = {
      val used = mutable.Set.empty[Long]
      val rows = Array.tabulate(perBatch) { j =>
        val id = nBase.toLong + b.toLong * perBatch + j
        if (gen.unif(id, PlantPos) < 0.1) {
          val fromBase = originals.isEmpty || gen.unif(id, SourcePos) < 0.5
          var t = 0
          var donor: Row = null
          while (donor == null || used.contains(donor.id)) {
            donor =
              if (fromBase) base(gen.pick(id, DonorPos + t, nBase.toLong).toInt)
              else originals(gen.pick(id, DonorPos + t, originals.length.toLong).toInt)
            t += 1
          }
          used += donor.id
          Row(id, gen.textCopy(donor.text, id), gen.nearCopy(donor.vec, id), planted = true)
        } else Row(id, gen.doc(id, Tokens), gen.vec(id), planted = false)
      }
      originals ++= rows.filterNot(_.planted)
      rows
    }

    val outM = ctx.path("gate-out-minhash")
    val outE = ctx.path("gate-out-embed")
    val docsIn = MemoryStream[(Long, String)](spark)
    val vecsIn = MemoryStream[(Long, Array[Double])](spark)
    val mq = StreamingOps.minhashGateStream(docsIn.toDF().toDF("doc_id", "text"), dirM,
      outM, ctx.path("gate-ckpt-minhash"), JaccardThreshold, compactEverySegs = FoldEvery)
    val eq = StreamingOps.embedGateStream(vecsIn.toDF().toDF("id", "vec"), dirE,
      outE, ctx.path("gate-ckpt-embed"), CosineThreshold, compactEverySegs = FoldEvery)
    ctx.mark("stream start")
    ctx.info("query_id.minhash") = mq.id.toString
    ctx.info("query_id.embed") = eq.id.toString

    /** Hands one batch to both gates and waits until both committed
      * it; a helper thread only waits on the second query. Returns
      * each gate's wall time. */
    def ingest(docs: Seq[(Long, String)], vecs: Seq[(Long, Array[Double])]): (Double, Double) = {
      val t0 = (System.currentTimeMillis(), System.nanoTime())
      docsIn.addData(docs)
      vecsIn.addData(vecs)
      @volatile var embedEnd = (0L, 0L)
      @volatile var embedErr: Throwable = null
      val waiter = new Thread(() =>
        try { eq.processAllAvailable(); embedEnd = (System.currentTimeMillis(), System.nanoTime()) }
        catch { case e: Throwable => embedErr = e })
      waiter.start()
      try mq.processAllAvailable()
      finally waiter.join()
      val minhashEnd = (System.currentTimeMillis(), System.nanoTime())
      if (embedErr != null) throw embedErr
      tr.record("streaming.minhash_gate_batch", mq.id.toString, t0._1, minhashEnd._1, t0._2, minhashEnd._2)
      tr.record("streaming.embed_gate_batch", eq.id.toString, t0._1, embedEnd._1, t0._2, embedEnd._2)
      ((minhashEnd._2 - t0._2) / 1e9, (embedEnd._2 - t0._2) / 1e9)
    }

    val tiersM = new Tiers(dirM, Seq("bands_appends", "shingles_appends"))
    val tiersE = new Tiers(dirE, Seq("applists"))
    val batches = mutable.ArrayBuffer.empty[Array[Row]]
    val gateWalls = mutable.ArrayBuffer.empty[Double]
    val readWalls = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[(Int, Array[Array[Double]], Map[Long, Seq[(Long, Double)]])]
    val segments = mutable.ArrayBuffer.empty[Double]
    var nextBatch = 0
    try {
      // fixed work: one batch costs more than the run's seconds, and
      // two batches complete one fold in each gate
      ctx.loop(minCalls = Batches, maxCalls = Batches) { _ =>
        val b = nextBatch
        nextBatch += 1
        val rows = batch(b)
        batches += rows
        val docs = rows.toSeq.map(r => (r.id, r.text))
        val vecs = rows.toSeq.map(r => (r.id, Gen.toDouble(r.vec)))
        val ((ms, es), s) = ctx.timed(ingest(docs, vecs))
        gateWalls += s
        if (tr.on) { tiersM.observe(b, ms); tiersE.observe(b, es) }
        if (b == Batches - 1) {
          val qs = Array.tabulate(100)(j => Gen.toDouble(gen.vec(30000000L + b * 100L + j)))
          val qdf = qs.indices.map(j => (j.toLong, qs(j))).toDF("qid", "qvec")
          if (tr.on) segments += tiersE.segments.toDouble
          val (out, rs) = ctx.timed(tr("similarity.fresh_read") {
            val idx = Similarity.ivfLoad(spark, dirE)
            Similarity.ivfTopKBatch(idx, qdf, K, Similarity.suggestNprobe(idx.k)).collect()
          })
          readWalls += rs
          val byQ = out.toSeq.map(r => (r.getAs[Long]("qid"), (r.getAs[Long]("id"), r.getAs[Double]("score"))))
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
          reads += ((b, qs, byQ))
        }
      }
    } finally {
      ctx.mark("batches")
      mq.stop()
      eq.stop()
      ctx.mark("stream stop")
    }

    // admitted rows must equal the planted truth, batch by batch
    val truth = batches.zipWithIndex.map { case (rs, b) =>
      b.toLong -> rs.filterNot(_.planted).map(_.id).toSet }.toMap
    def admitted(out: String, idCol: String): Map[Long, Set[Long]] =
      spark.read.parquet(out).select(idCol, "seg").as[(Long, Long)].collect()
        .groupBy(_._2).map { case (s, v) => s -> v.map(_._1).toSet }
    val wrong = Seq(("minhash", outM, "doc_id"), ("embed", outE, "id")).flatMap { case (g, out, col) =>
      val got = admitted(out, col)
      ctx.metrics(s"streaming.${g}_gate_batch.admitted") = got.values.map(_.size).sum.toDouble
      truth.toSeq.collect { case (b, want) if got.getOrElse(b, Set.empty[Long]) != want =>
        b -> s"$g gate admitted ${got.getOrElse(b, Set.empty[Long]).size} rows, truth is ${want.size}"
      }
    }
    wrong.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (b, ms) =>
      ctx.fail(s"batch $b: " + ms.map(_._2).mkString("; "))
    }

    ctx.mark("admission check")

    // fresh reads: well-formed rows from the live corpus, recall vs exact
    val live = base ++ batches.flatten.filterNot(_.planted)
    val corpus = new Corpus(live.map(_.id), live.map(_.vec))
    val batchOf = batches.zipWithIndex.flatMap { case (rs, b) => rs.map(_.id -> b) }.toMap
    val recalls = reads.map { case (b, qs, byQ) =>
      val visible = (id: Long) => id < nBase || batchOf(id) <= b
      val exact = corpus.topKAll(qs, K, visible)
      val ok = qs.indices.forall { j =>
        val got = byQ.getOrElse(j.toLong, Nil)
        Checks.wellFormed(got, K) && got.forall(g => corpus.contains(g._1) && visible(g._1))
      }
      if (!ok) ctx.fail(s"fresh read after batch $b returned rows that fail the check")
      qs.indices.map(j => Checks.recall(byQ.getOrElse(j.toLong, Nil).map(_._1), exact(j))).sum / qs.length
    }

    ctx.metrics("build_s") = buildS
    ctx.callMetrics(gateWalls.toSeq, perBatch)
    ctx.metrics("similarity.fresh_read.recall_at_10") = Stats.median(recalls.toSeq)
    ctx.metrics("similarity.fresh_read.segments") = Stats.median(segments.toSeq)
    ctx.metrics("similarity.fresh_read.p50_s") = Stats.median(readWalls.toSeq)
    ctx.info("batches") = batches.length.toString
    if (tr.on) {
      Seq("minhash" -> tiersM, "embed" -> tiersE).foreach { case (g, t) =>
        ctx.metrics(s"tiers.$g.folds") = t.folds.toDouble
        ctx.metrics(s"tiers.$g.fold_batch_s") = Stats.median(t.foldWalls.toSeq)
        ctx.metrics(s"tiers.$g.segments_end") = t.segments.toDouble
        ctx.metrics(s"tiers.$g.write_amp") = t.writeAmp
        ctx.metrics(s"tiers.$g.layout_mb") = t.layoutBytes / (1024.0 * 1024.0)
        ctx.check(t.folds >= 1, s"$g gate completed no fold")
      }
      ctx.metrics("tiers.space_amp") = (tiersM.layoutBytes + tiersE.layoutBytes).toDouble /
        (tiersM.liveBytes + tiersE.liveBytes)
    }
  }
}

/** Segment and fold state of one gate layout, read from its directory
  * after each batch. Files are keyed by their path inside the layout:
  * a fold's swap leaves the segments it did not fold at the same
  * relative path, so only bytes actually written show as new.
  * `appendsRoots` are the layout's append directories; the first one
  * counts the segments.
  */
final class Tiers(dir: String, appendsRoots: Seq[String]) {
  private val root = java.nio.file.Paths.get(dir)
  private val seen = mutable.Map.empty[String, Long]
  private val baseBytes: Long = snapshot().values.sum
  seen ++= snapshot()
  var folds = 0
  val foldWalls = mutable.ArrayBuffer.empty[Double]
  private var mergedSeen = mergedSegs()
  private var written = 0L
  private var admittedBytes = 0L

  private def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
    finally s.close()
  }

  private def segDirs(): Seq[String] = {
    val a = root.resolve(appendsRoots.head).toFile
    if (!a.isDirectory) Nil
    else a.listFiles().toSeq.map(_.getName).filter(_.startsWith("seg="))
  }

  private def mergedSegs(): Set[String] = segDirs().filter(_.startsWith("seg=-")).toSet

  def segments: Int = segDirs().length

  def observe(batch: Int, wall: Double): Unit = {
    val now = snapshot()
    val fresh = now.filter { case (k, v) => !seen.get(k).contains(v) }
    written += fresh.values.sum
    // first write of the batch's own rows: files under seg=<batch>
    admittedBytes += fresh.collect {
      case (k, v) if appendsRoots.exists(a => k.startsWith(s"$a/seg=$batch/")) => v
    }.sum
    seen ++= fresh
    val merged = mergedSegs()
    if ((merged -- mergedSeen).nonEmpty) { folds += 1; foldWalls += wall }
    mergedSeen = merged
  }

  def layoutBytes: Long = snapshot().values.sum
  def liveBytes: Long = baseBytes + admittedBytes
  def writeAmp: Double = if (admittedBytes == 0L) 0.0 else written.toDouble / admittedBytes
}
