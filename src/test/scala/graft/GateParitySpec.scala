package graft

import graft.core.DriverLocal
import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamingOps
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The streaming gates decide a micro-batch either on the driver (a
  * batch within `DriverLocal.Bound`) or through the distributed stages.
  * Both paths must admit the same rows and write the same layout: the
  * same appended rows, the same output rows and the same files per
  * leaf. Each law forces the same batches through both paths on
  * separate copies of one saved index.
  */
class GateParitySpec extends SparkSpec {

  /** Forces the distributed path: no batch, not even an empty one, fits. */
  private val distributed = DriverLocal.Bound(-1L, -1L)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def copyDir(src: String): String = {
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Files.createTempDirectory("graft-gate-copy")
      .resolve(from.getFileName)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
    to.toString
  }

  /** Parquet files per leaf dir, keyed by the leaf's path under `dir`. */
  private def leaves(dir: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.groupBy(p => root.relativize(p.getParent).toString)
          .map { case (k, v) => k -> v.size }
      } finally walk.close()
    }
  }

  private def rows(dir: String): Seq[String] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)) ||
        leaves(dir).isEmpty) Nil
    else {
      val df = spark.read.parquet(dir)
      df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col).toSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    }

  /** Rows and files per leaf of every dir a gate batch writes. */
  private def snapshot(index: String, out: String, dirs: Seq[String]) =
    (dirs.map(d => d -> (rows(s"$index/$d"), leaves(s"$index/$d"))) :+
      ("out" -> (rows(out), leaves(out)))).toMap

  // ---- minhash gate ------------------------------------------------

  private val vocab = (0 until 300).map(i => s"w$i")

  /** `n` random 40-token docs from ids `from`, deterministic in `seed`. */
  private def docs(from: Long, n: Int, seed: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(j => (from + j,
      Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")))
  }

  private def edit(text: String, k: Int): String = {
    val t = text.split(" ")
    t(k % t.length) = "edited"
    t.mkString(" ")
  }

  /** Base corpus and two batches with exact duplicates (case and
    * spacing differ), one-token near-duplicates of base docs, of
    * earlier batch rows and of rows in the same batch. */
  private def minhashFixture = {
    val base = docs(0L, 60, 1)
    val b0raw = docs(1000L, 30, 2)
    val b0 = b0raw ++ Seq(
      (1030L, "  " + b0raw(3)._2.toUpperCase + " "),
      (1031L, edit(base(5)._2, 7)),
      (1032L, edit(b0raw(9)._2, 20)),
      (1033L, edit(b0raw(9)._2, 30)),
      (1034L, null))
    val b1raw = docs(2000L, 30, 3)
    val b1 = b1raw ++ Seq(
      (2030L, edit(b0raw(4)._2, 11)),
      (2031L, edit(base(17)._2, 2)),
      (2032L, b1raw(0)._2),
      (2033L, edit(b1raw(6)._2, 1)))
    (base, Seq(b0, b1))
  }

  private val minhashDirs = Seq("bands_appends", "shingles_appends")

  /** (doc_id, text) frame, doc_id as `idType`. */
  private def docFrame(rows: Seq[(Long, String)], idType: String): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("doc_id", org.apache.spark.sql.functions.col("doc_id").cast(idType))
  }

  private def minhashRun(index: String, batches: Seq[Seq[(Long, String)]],
      idType: String, bound: DriverLocal.Bound) = {
    val dir = copyDir(index)
    val out = tmp("graft-mgate-out")
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.minhashGateBatch(docFrame(b, idType), i.toLong,
        dir, out, 0.8, bound)
    }
    snapshot(dir, out, minhashDirs)
  }

  private def minhashParity(numHashes: Int, bands: Int, idType: String): Unit = {
    val (base, batches) = minhashFixture
    val index = tmp("graft-mgate-idx") + "/idx"
    val built = Dedup.minhashIndexBuild(docFrame(base, idType),
      numHashes = numHashes, bands = bands)
    Dedup.minhashIndexSave(built, index)
    Dedup.minhashIndexRelease(built)
    val local = minhashRun(index, batches, idType, DriverLocal.Default)
    val admitted = local("out")._1
    // the planted structure resolved as designed, so the comparison
    // below is not between two empty or two all-admitting runs
    // 30 + the null-text row in batch 0, 30 in batch 1
    assert(admitted.size == 61, s"${admitted.size} admitted")
    assert(local == minhashRun(index, batches, idType, distributed),
      "driver-decided and distributed minhash batches diverge")
  }

  test("minhash gate: driver-decided and distributed batches admit and write the same rows and files") {
    minhashParity(numHashes = 64, bands = 16, idType = "long")
  }

  test("minhash gate parity holds for a stored index whose width is not 64, keyed by int ids") {
    minhashParity(numHashes = 32, bands = 8, idType = "int")
  }

  // ---- embed gate --------------------------------------------------

  private def unit(seed: Long, dims: Int): Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(dims)(rng.nextGaussian())
  }

  private def near(v: Array[Double], seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    v.map(x => x + 0.01 * rng.nextGaussian())
  }

  /** Base vectors and two batches with lightly perturbed copies of base rows, of earlier batch rows and of same-batch rows. */
  private def embedFixture(dims: Int) = {
    val base = (0L until 80L).map(i => (i, unit(i, dims)))
    val b0raw = (1000L until 1030L).map(i => (i, unit(i, dims)))
    val b0 = b0raw ++ Seq(
      (1030L, near(base(3)._2, 1)), (1031L, near(b0raw(5)._2, 2)),
      (1032L, near(b0raw(5)._2, 3)))
    val b1raw = (2000L until 2030L).map(i => (i, unit(i, dims)))
    val b1 = b1raw ++ Seq(
      (2030L, near(b0raw(7)._2, 4)), (2031L, near(base(40)._2, 5)),
      (2032L, near(b1raw(2)._2, 6)))
    (base, Seq(b0, b1))
  }

  private def embedRun(index: String, batches: Seq[Seq[(Long, Array[Double])]],
      nprobe: Int, bound: DriverLocal.Bound) = {
    val s = spark
    import s.implicits._
    val dir = copyDir(index)
    val out = tmp("graft-egate-out")
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.embedGateBatch(b.toDF("id", "vec"), i.toLong, dir, out,
        0.95, nprobe, bound)
    }
    snapshot(dir, out, Seq("applists"))
  }

  private def embedParity(nLists: Int, nprobe: Int): Unit = {
    val s = spark
    import s.implicits._
    val (base, batches) = embedFixture(16)
    val index = tmp("graft-egate-idx") + "/idx"
    val built = Similarity.ivfBuild(base.toDF("id", "vec"), nLists)
    Similarity.ivfSave(built, index)
    Similarity.ivfRelease(built)
    val local = embedRun(index, batches, nprobe, DriverLocal.Default)
    // the planted copies are rejected (same-cell recall permitting)
    val nAdmitted = local("out")._1.size
    assert(nAdmitted >= 60 && nAdmitted < 66, s"$nAdmitted admitted")
    assert(local == embedRun(index, batches, nprobe, distributed),
      "driver-decided and distributed embed batches diverge")
  }

  test("embed gate: driver-decided and distributed batches admit and write the same rows and files") {
    // 33 rows × 2 probes >= 4 lists: every list is probed
    embedParity(nLists = 4, nprobe = 2)
  }

  test("embed gate parity holds in the pruned regime (nBatch·nprobe < k)") {
    // 33 rows × 1 probe < 64 lists: the distributed path prunes the scan
    embedParity(nLists = 64, nprobe = 1)
  }

  // ---- the bound ---------------------------------------------------

  test("a driver-local read ships at most its bound to the driver, however many partitions the input has") {
    // 16 partitions of 10 rows of 20 KB: every partition is under the
    // bound, together they are three times over it
    val df = spark.range(0L, 160L, 1L, 16)
      .select(F.col("id"), F.repeat(F.lit("x"), 20000).as("pad"))
    val bound = DriverLocal.Bound(rows = 1000L, bytes = 1024L * 1024)
    val (rows, jobs, shipped) = JobCount.withResultBytes(spark.sparkContext)(
      DriverLocal.collect(df, bound))
    assert(rows.isEmpty && jobs == 1)
    assert(shipped <= bound.bytes,
      s"the read shipped $shipped bytes to the driver; the bound is ${bound.bytes}")
    // an input that fits comes back whole, in collect() order
    val all = DriverLocal.collect(df, DriverLocal.Default)
    assert(all.map(_.map(_.getLong(0)).toSeq) == Some(0L until 160L))
  }

  test("a distinct driver-local read counts each task's distinct rows against the bound") {
    // 4 partitions of 25 rows holding 3 keys: 100 rows, 12 distinct per task
    val df = spark.range(0L, 100L, 1L, 4).select((F.col("id") % 3).as("k"))
    val bound = DriverLocal.Bound(rows = 12L, bytes = 1024L * 1024)
    assert(DriverLocal.collect(df, bound).isEmpty)
    val kept = DriverLocal.collect(df, bound, distinct = true)
    assert(kept.map(_.map(_.getLong(0)).toSet) == Some(Set(0L, 1L, 2L)))
    assert(kept.get.length <= 12)
  }

  test("a within-batch pair stage over its cap is left undecided") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    // 3 + 1 candidate pairs, (1, 2) in both groups
    def run(cap: Long) = DriverLocal.pairs(spark, Array(1L, 2L, 3L),
        Seq(Array(0, 1, 2), Array(0, 1)), schema,
        (p: Long, q: Long) => InternalRow(p, q), cap)(identity)
      .map(_.map(r => (r.getLong(0), r.getLong(1))).sorted)
    assert(run(4L) == Some(Seq((1L, 2L), (1L, 3L), (2L, 3L))))
    assert(run(3L).isEmpty)
  }

  test("a minhash batch over the bound in total, though not in any partition, takes the distributed stages") {
    val (base, batches) = minhashFixture
    val index = tmp("graft-mgate-idx") + "/idx"
    val built = Dedup.minhashIndexBuild(docFrame(base, "long"))
    Dedup.minhashIndexSave(built, index)
    Dedup.minhashIndexRelease(built)
    // each 34-35 row batch spreads over the session's 4 cores: ~9 rows
    // a partition, under the 30-row bound
    val overInTotal = DriverLocal.Bound(rows = 30L, bytes = Long.MaxValue)
    val (local, localJobs) = JobCount(spark.sparkContext)(
      minhashRun(index, batches, "long", DriverLocal.Default))
    val (fallback, fallbackJobs) = JobCount(spark.sparkContext)(
      minhashRun(index, batches, "long", overInTotal))
    assert(fallback == local, "the fallback batches diverge from the driver-decided ones")
    // the distributed stages run several times the driver path's jobs
    assert(fallbackJobs > 2 * localJobs,
      s"$fallbackJobs jobs over the bound vs $localJobs within it")
  }

  test("the minhash fold takes its row bound from the Parquet footers and runs no count job") {
    val (base, batches) = minhashFixture
    val index = tmp("graft-mfold-idx") + "/idx"
    val built = Dedup.minhashIndexBuild(docFrame(base, "long"))
    Dedup.minhashIndexSave(built, index)
    Dedup.minhashIndexRelease(built)
    val gated = copyDir(index)
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.minhashGateBatch(docFrame(b, "long"), i.toLong, gated,
        tmp("graft-mfold-out"), 0.8)
    }
    val (footers, counted) = (copyDir(gated), copyDir(gated))
    val (n, footerJobs) = JobCount(spark.sparkContext)(
      Dedup.minhashCompactAppends(spark, footers))
    // the same fold with no bound at hand: the salted band write counts
    // its rows per band first
    val (m, countedJobs) = JobCount(spark.sparkContext)(
      graft.operators.SegmentTiers.fold(spark, "counted fold",
        graft.operators.SegmentTiers.swapMarker(s"$counted/bands"),
        Dedup.minhashFoldDirs(spark, counted).map(d => d.copy(
          write = (cur, merged, tmp, _) => d.write(cur, merged, tmp, _ => None))),
        Long.MaxValue, tiered = false))
    assert(n == m && n > 0)
    assert(snapshot(footers, tmp("graft-mfold-none"), minhashDirs) ==
      snapshot(counted, tmp("graft-mfold-none"), minhashDirs),
      "the footer-bounded fold wrote other rows or files")
    // the counted write's per-band count: its aggregation and the
    // broadcast of the counts
    assert(countedJobs - footerJobs == 2,
      s"$footerJobs jobs with the footer bound, $countedJobs counted")
  }

  // ---- jobs per batch ----------------------------------------------

  /** A 200-doc / 200-vector base and the second of two 51-row batches,
    * each holding a copy of a base row so every state scan runs. */
  private def jobFixture = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(1)
    def text(): String = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 200L).map(i => (i, text()))
    def batch(b: Long) = (0L until 50L).map(j => (1000L + 100L * b + j, text())) :+
      ((1060L + 100L * b, base(b.toInt)._2))
    val mIndex = tmp("graft-mjobs") + "/idx"
    val built = Dedup.minhashIndexBuild(base.toDF("doc_id", "text"))
    Dedup.minhashIndexSave(built, mIndex)
    Dedup.minhashIndexRelease(built)
    val vecs = (0L until 200L).map(i => (i, unit(i, 16)))
    def vbatch(b: Long) = (0L until 50L).map(j => (1000L + 100L * b + j,
      unit(1000L + 100L * b + j, 16))) :+ ((1060L + 100L * b, vecs(b.toInt)._2))
    val eIndex = tmp("graft-ejobs") + "/idx"
    val ivf = Similarity.ivfBuild(vecs.toDF("id", "vec"), 16)
    Similarity.ivfSave(ivf, eIndex)
    Similarity.ivfRelease(ivf)
    (mIndex, Seq(batch(0), batch(1)), eIndex, Seq(vbatch(0), vbatch(1)))
  }

  test("a driver-decided batch runs a batch read, the state scans and the writes") {
    val s = spark
    import s.implicits._
    val (mIndex, mBatches, eIndex, eBatches) = jobFixture
    val mOut = tmp("graft-mjobs-out")
    val eOut = tmp("graft-ejobs-out")
    // batch 0 builds the per-index state caches and commits a segment
    StreamingOps.minhashGateBatch(mBatches(0).toDF("doc_id", "text"), 0L,
      mIndex, mOut, 0.8)
    StreamingOps.embedGateBatch(eBatches(0).toDF("id", "vec"), 0L,
      eIndex, eOut, 0.95, 8)
    // minhash: 1 batch read + 2 band scan (the key broadcast, the scan)
    // + 1 candidate-shingle scan + 1 shingles write + 2 band write (the
    // band shuffle, the write) + 1 output write. The distributed stages
    // ran 47 jobs on this batch.
    val (_, mJobs) = JobCount(s.sparkContext)(StreamingOps.minhashGateBatch(
      mBatches(1).toDF("doc_id", "text"), 1L, mIndex, mOut, 0.8))
    assert(mJobs == 8, s"minhash gate batch ran $mJobs jobs")
    // embed: 1 batch read + 2 lists scan (the probe-row broadcast, the
    // scan) + 1 output write + 2 applists write. The distributed stages
    // ran 33 jobs on this batch (20 once the output is written first).
    val (_, eJobs) = JobCount(s.sparkContext)(StreamingOps.embedGateBatch(
      eBatches(1).toDF("id", "vec"), 1L, eIndex, eOut, 0.95, 8))
    assert(eJobs == 6, s"embed gate batch ran $eJobs jobs")
  }

  /** Bytes `body` reads from local files, cached blocks and shuffles
    * excluded. */
  private def fileBytes(body: => Any): Long = {
    val fsStats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val before = fsStats.getLong("bytesRead")
    body
    fsStats.getLong("bytesRead") - before
  }

  test("a distributed embed batch scans the stored lists once") {
    // the output write used to follow the applists write, whose
    // re-cache of every plan scanning applists dropped the cached
    // decision: the output write then recomputed it, state scan included
    val s = spark
    import s.implicits._
    val (_, _, eIndex, eBatches) = jobFixture
    val out = tmp("graft-escan-out")
    StreamingOps.embedGateBatch(eBatches(0).toDF("id", "vec"), 0L,
      eIndex, out, 0.95, 8, distributed)
    val batch = fileBytes(StreamingOps.embedGateBatch(
      eBatches(1).toDF("id", "vec"), 1L, eIndex, out, 0.95, 8, distributed))
    // one scan of the state batch 1 decides against (8 probes of 16
    // lists per row: every list)
    val once = fileBytes(StreamingOps.embedGateStateScan(s, eIndex, 1L, None)
      .collect())
    assert(batch < once * 3 / 2, s"the batch read $batch bytes; one state scan reads $once")
  }

  test("a distributed minhash batch reads the stored state for one decision") {
    // the append writes re-cache every cached plan that scans the
    // appends dirs; the cached decision holds none (the against-state
    // losers come back through an eager local checkpoint), so the
    // shingles, band and output writes reuse it and read no state file
    val s = spark
    import s.implicits._
    val (mIndex, mBatches, _, _) = jobFixture
    val out = tmp("graft-mscan-out")
    // batch 0 commits segment 0, so batch 1 decides against base + appends
    StreamingOps.minhashGateBatch(mBatches(0).toDF("doc_id", "text"), 0L,
      mIndex, out, 0.8, distributed)
    val batch = fileBytes(StreamingOps.minhashGateBatch(
      mBatches(1).toDF("doc_id", "text"), 1L, mIndex, out, 0.8, distributed))
    // one decision's state reads over the same batch and state (the
    // band scan and the candidates' stored signatures and shingles);
    // the whole batch, within-batch near-duplicates included, can only
    // raise the candidates, so the gate's own decision reads no more
    val once = fileBytes(Dedup.dedupAgainstIndex(
      mBatches(1).toDF("doc_id", "text"),
      Dedup.minhashIndexLoadWithAppendsCached(s, mIndex, 1L),
      0.8, broadcastProbe = true).count())
    assert(batch <= once, s"the batch read $batch bytes; one decision reads $once")
  }
}
