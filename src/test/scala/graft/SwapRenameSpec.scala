package graft

import org.apache.hadoop.fs.Path

/** A local FileSystem whose `rename` returns FALSE (the HDFS failure
  * mode — no exception) whenever a test-controlled predicate matches.
  * Registered under the `failrename:` scheme so operators resolve it
  * through the ordinary `Path.getFileSystem(conf)` path; everything
  * except the matched renames delegates to RawLocalFileSystem, so
  * parquet reads/writes (and the committer's own renames) behave
  * normally.
  */
class FailRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failrename"
  override def getUri: java.net.URI = FailRenameFileSystem.uri
  override def rename(src: Path, dst: Path): Boolean =
    if (FailRenameFileSystem.failWhen(src, dst)) false
    else if (FailRenameFileSystem.countSwapRename(src, dst)) false
    else super.rename(src, dst)
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (FailRenameFileSystem.failDelete(p))
      throw new java.io.IOException(s"injected delete failure: $p")
    else super.delete(p, recursive)
}

object FailRenameFileSystem {
  val uri: java.net.URI = java.net.URI.create("failrename:///")
  @volatile var failWhen: (Path, Path) => Boolean = (_, _) => false
  /** Deletes of matching paths throw (a process dying mid-commit). */
  @volatile var failDelete: Path => Boolean = _ => false

  /** Layout renames seen since the last reset — Spark's own commit
    * renames (out of `_temporary` / `.spark-staging` dirs) excluded. */
  val swapRenames = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Fail the N-th counted rename (1-based); 0 = never. */
  @volatile var failNth: Int = 0

  private def isCommit(p: Path): Boolean = {
    val s = p.toString
    s.contains("/_temporary") || s.contains(".spark-staging")
  }

  /** Count a layout rename; true = this is the one to fail. */
  def countSwapRename(src: Path, dst: Path): Boolean =
    !isCommit(src) && !isCommit(dst) &&
      swapRenames.incrementAndGet() == failNth
}

/** The swap-rename law (VERDICT r13 #1): every directory-swap in the
  * rebuild/compaction/takedown family must FAIL LOUDLY when a rename
  * returns false, leaving the pre-swap state intact (and the swap
  * marker behind where the protocol has one) — never report success
  * over untouched data. Each test drives the real operator on a
  * `failrename:` layout with exactly one swap rename forced false.
  */
class SwapRenameSpec extends SparkSpec {

  private def registerScheme(): Unit =
    spark.sparkContext.hadoopConfiguration.set(
      "fs.failrename.impl", classOf[FailRenameFileSystem].getName)

  /** Fail every rename whose DESTINATION directory name matches. */
  private def failDst(name: String => Boolean)(body: => Unit): Unit = {
    FailRenameFileSystem.failWhen = (_, dst) => name(dst.getName)
    try body
    finally FailRenameFileSystem.failWhen = (_, _) => false
  }

  private def tmp(prefix: String): String =
    "failrename:" + java.nio.file.Files.createTempDirectory(prefix).toString

  private def vec(i: Int) = Array.tabulate(8)(f =>
    math.sin((i % 5) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** A saved IVF layout with two committed append segments. */
  private def ivfFixture(prefix: String): String = {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val dir = tmp(prefix)
    val built = Similarity.ivfBuild(
      (0L until 30L).map(i => (i, vec(i.toInt))).toDF("id", "vec"), nLists = 4)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    val model = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    for (seg <- 0L to 1L)
      graft.streaming.StreamingOps.ivfAppendSegment(
        graft.scale.DeterministicKMeans.assign(
          Seq((100L + seg, vec(seg.toInt + 1))).toDF("id", "vec"),
          model, idCol = "id", vecCol = "vec")
          .select("id", "vec", "cluster"),
        dir, seg)
    dir
  }

  private def ivfIds(dir: String): Seq[Long] = {
    val F = org.apache.spark.sql.functions
    graft.operators.Similarity.ivfLoad(spark, dir).assigned
      .select(F.col("id").cast("long")).collect().map(_.getLong(0)).sorted.toSeq
  }

  test("ivfRebuild fails loudly when the root swap rename returns false; stale layout never reports success") {
    registerScheme()
    val s = spark
    import graft.operators.Similarity
    val dir = ivfFixture("graft-swap-reb1")
    val before = ivfIds(dir)
    val ex = failDstIntercept(_ == new Path(dir).getName + "__rebuild_old") {
      Similarity.ivfRebuild(s, dir, targetListSize = 5)
    }
    assert(ex.getMessage.contains("still serves"),
      s"wrong failure message: ${ex.getMessage}")
    // pre-swap layout untouched and still loads; the fresh layout
    // survives under the staging sibling for diagnosis
    assert(ivfIds(dir) == before, "failed rebuild disturbed the live layout")
    assert(fsOf(dir).exists(new Path(dir + "__rebuild_tmp")),
      "staged fresh layout was not left for diagnosis")
  }

  test("ivfRebuild fails loudly when the staging swap rename returns false; pre-rebuild layout survives under _old") {
    registerScheme()
    val s = spark
    import graft.operators.Similarity
    val dir = ivfFixture("graft-swap-reb2")
    val before = ivfIds(dir)
    // fail the SECOND rename (staging -> root): dst is the root itself
    val ex = failDstIntercept(_ == new Path(dir).getName) {
      Similarity.ivfRebuild(s, dir, targetListSize = 5)
    }
    assert(ex.getMessage.contains("survives under"),
      s"wrong failure message: ${ex.getMessage}")
    val fs = fsOf(dir)
    val old = new Path(dir + "__rebuild_old")
    assert(fs.exists(new Path(old, "lists")),
      "pre-rebuild layout did not survive under the _old sibling")
    // the documented recovery: restore _old as the root
    fs.delete(new Path(dir), true)
    assert(fs.rename(old, new Path(dir)))
    assert(ivfIds(dir) == before, "restored pre-rebuild layout diverged")
  }

  test("ivfCompactAppends fails loudly on a false swap rename; marker left, appends intact") {
    registerScheme()
    val s = spark
    import graft.operators.Similarity
    val dir = ivfFixture("graft-swap-icomp")
    val before = ivfIds(dir)
    val ex = failDstIntercept(_ == "applists_compact_old") {
      Similarity.ivfCompactAppends(s, dir)
    }
    assert(ex.getMessage.contains("marker left"),
      s"wrong failure message: ${ex.getMessage}")
    val fs = fsOf(dir)
    val marker = new Path(s"$dir/applists_swap_marker")
    assert(fs.exists(marker), "failed swap did not leave its marker")
    // the documented recovery: state is intact — clear the marker
    fs.delete(marker, false)
    assert(ivfIds(dir) == before, "failed compaction disturbed the appends")
  }

  test("sidecar compactSegDir fails loudly on a false swap rename; marker left, sidecar intact") {
    registerScheme()
    val s = spark
    import s.implicits._
    val F = org.apache.spark.sql.functions
    val dir = tmp("graft-swap-prof") + "/sidecar"
    val docs = (1L to 20L).map(i => (i, i * 1.5)).toDF("id", "score")
    for (seg <- 0 to 1)
      graft.operators.Profile.sketchShard(docs, Seq("score"))
        .withColumn("seg", F.lit(seg))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg")
        .parquet(dir)
    def profRows() = graft.streaming.StreamingOps.profileOf(s, dir)
      .collect().map(_.toString).sorted.toSeq
    val before = profRows()
    val ex = failDstIntercept(_ == "sidecar_old") {
      graft.streaming.StreamingOps.profileCompact(s, dir)
    }
    assert(ex.getMessage.contains("marker left"),
      s"wrong failure message: ${ex.getMessage}")
    val fs = fsOf(dir)
    val marker = graft.operators.SegmentTiers.swapMarker(dir)
    assert(fs.exists(marker), "failed swap did not leave its marker")
    fs.delete(marker, false)
    assert(profRows() == before, "failed fold disturbed the sidecar")
  }

  test("minhashCompactAppends fails loudly on a false swap rename; marker left, gate state intact") {
    registerScheme()
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val rng = new scala.util.Random(7)
    val vocab = Vector("data", "spark", "query", "join", "scan", "table",
      "row", "batch", "agg", "filter", "merge", "sort", "hash", "key")
    def doc(): String =
      Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 12L).map(i => (i, doc()))
    val dir = tmp("graft-swap-mh")
    val out = tmp("graft-swap-mh-out")
    val built = Dedup.minhashIndexBuild(base.toDF("doc_id", "text"))
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)
    for (seg <- 0 to 1)
      graft.streaming.StreamingOps.minhashGateBatch(
        Seq((100L + seg, doc())).toDF("doc_id", "text"), seg.toLong,
        dir, out, 0.8)
    def bands() = s.read.parquet(s"$dir/bands_appends")
      .select("band", "bh", "doc_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val before = bands()
    val ex = failDstIntercept(_ == "bands_appends_old") {
      Dedup.minhashCompactAppends(s, dir)
    }
    assert(ex.getMessage.contains("marker left"),
      s"wrong failure message: ${ex.getMessage}")
    val fs = fsOf(dir)
    val marker = graft.operators.SegmentTiers.swapMarker(s"$dir/bands")
    assert(fs.exists(marker), "failed swap did not leave its marker")
    fs.delete(marker, false)
    assert(bands() == before, "failed fold disturbed the band state")
  }

  // ---- the N-th-rename sweep over every layout write path ---------
  //
  // Each path runs once clean to count its layout renames R (and check
  // the post-op rows), then once per N in 1..R on a fresh copy of the
  // fixture with the N-th rename forced false. Every failing run must
  // throw the checked-rename error with the swap marker left (where
  // the path has one), and the documented recovery — undoSwap on the
  // marker, or restoring `__rebuild_old` for the unmarked rebuild —
  // must give back exactly the pre-op rows.

  /** Copy a fixture layout dir into a fresh root under the same name,
    * so each sweep run starts from identical bytes with no siblings. */
  private def copyLayout(dir: String): String = {
    val src = java.nio.file.Paths.get(dir.stripPrefix("failrename:"))
    val dst = java.nio.file.Files.createTempDirectory("graft-sweep")
      .resolve(src.getFileName)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)))
    } finally walk.close()
    "failrename:" + dst
  }

  /** The documented recovery of a swap that failed with its marker
    * left, driven from the marker's move log (one `live, old, staged,
    * carried` line per move): for each move, last first, whose `_old`
    * sibling exists, the carried leaves go back into it, the
    * half-swapped live dir is dropped and `_old` is renamed live;
    * staged rewrites are deleted, then the marker. */
  private def undoSwap(fs: org.apache.hadoop.fs.FileSystem, marker: Path): Unit = {
    val in = fs.open(marker)
    val log = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    log.split("\n").filter(_.nonEmpty).reverse.foreach { line =>
      val Array(live, old, staged, carried) =
        line.split("\t", -1).map(x => if (x.isEmpty) None else Some(x))
      val (lp, op) = (new Path(live.get), new Path(old.get))
      if (fs.exists(op)) {
        for (dir <- Seq(lp) ++ staged.map(new Path(_));
             nm <- carried.toSeq.flatMap(_.split(","))
             if fs.exists(new Path(dir, nm)))
          assert(fs.rename(new Path(dir, nm), new Path(op, nm)))
        if (fs.exists(lp)) fs.delete(lp, true)
        assert(fs.rename(op, lp))
      }
      staged.foreach(st => fs.delete(new Path(st), true))
    }
    fs.delete(marker, false)
  }

  /** Every file under the layout root and its sibling dirs, with its
    * size — what a refused re-run must leave exactly as it found it. */
  private def tree(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir.stripPrefix("failrename:")).getParent
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    } finally walk.close()
  }

  /** `rows` keys each row by its id, so a takedown's expected post-op
    * rows are the pre-op rows minus `removed`. */
  private def sweep(fixture: String, renames: Int,
      marker: String => Option[Path], removed: Set[Long],
      rows: String => Seq[(Long, String)])(
      op: String => Any): Unit = {
    registerScheme()
    val pre = rows(fixture)
    assert(pre.exists(r => removed(r._1)) || removed.isEmpty,
      "fixture lacks the rows the takedown removes")
    val clean = copyLayout(fixture)
    FailRenameFileSystem.swapRenames.set(0)
    op(clean)
    val total = FailRenameFileSystem.swapRenames.get
    assert(total == renames, s"$total layout renames, expected $renames")
    assert(rows(clean) == pre.filterNot(r => removed(r._1)),
      "clean run left the wrong rows")
    assert(marker(clean).forall(m => !fsOf(clean).exists(m)),
      "a completed swap left its marker")
    for (n <- 1 to total) {
      val dir = copyLayout(fixture)
      val fs = fsOf(dir)
      FailRenameFileSystem.swapRenames.set(0)
      FailRenameFileSystem.failNth = n
      val ex =
        try intercept[IllegalArgumentException](op(dir))
        finally FailRenameFileSystem.failNth = 0
      assert(ex.getMessage.contains("failed"), s"rename $n: ${ex.getMessage}")
      marker(dir) match {
        case Some(m) =>
          assert(fs.exists(m), s"rename $n of $total: marker not left")
          // a re-run over the crashed swap refuses and touches nothing:
          // marker, `_old` siblings and staged dirs stay as they were
          val left = tree(dir)
          val rerun = intercept[IllegalStateException](op(dir))
          assert(rerun.getMessage.contains("refusing"),
            s"rename $n re-run: ${rerun.getMessage}")
          assert(tree(dir) == left,
            s"rename $n of $total: the refused re-run changed the layout")
          undoSwap(fs, m)
        case None =>
          val old = new Path(dir + "__rebuild_old")
          if (fs.exists(old)) {
            if (fs.exists(new Path(dir))) fs.delete(new Path(dir), true)
            assert(fs.rename(old, new Path(dir)))
          }
          fs.delete(new Path(dir + "__rebuild_tmp"), true)
      }
      assert(rows(dir) == pre,
        s"rename $n of $total: recovery did not restore the pre-op rows")
    }
  }

  private def ivfRows(dir: String): Seq[(Long, String)] =
    ivfIds(dir).map(_ -> "")

  private def ivfMarker(dir: String) =
    Some(graft.operators.SegmentTiers.swapMarker(s"$dir/applists"))

  /** A saved minhash gate layout with two committed append segments. */
  private def minhashFixture(prefix: String): String = {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val rng = new scala.util.Random(7)
    val vocab = Vector("data", "spark", "query", "join", "scan", "table",
      "row", "batch", "agg", "filter", "merge", "sort", "hash", "key")
    def doc(): String =
      Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val dir = tmp(prefix)
    val built = Dedup.minhashIndexBuild(
      (0L until 12L).map(i => (i, doc())).toDF("doc_id", "text"))
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)
    for (seg <- 0 to 1)
      graft.streaming.StreamingOps.minhashGateBatch(
        Seq((100L + seg, doc())).toDF("doc_id", "text"), seg.toLong,
        dir, tmp(prefix + "-out"), 0.8)
    assert(graft.operators.SegmentTiers.segCount(s, s"$dir/bands_appends") == 2)
    dir
  }

  private def minhashRows(dir: String): Seq[(Long, String)] = {
    val idx = graft.operators.Dedup.minhashIndexLoadWithAppends(spark, dir)
    (idx.bandRows.select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), s"b${r.getInt(1)}:${r.getInt(2)}")) ++
      idx.refShingles.select("doc_id").collect().map(r => (r.getLong(0), "s")))
      .sorted.toSeq
  }

  private def minhashMarker(dir: String) =
    Some(graft.operators.SegmentTiers.swapMarker(s"$dir/bands"))

  test("rename sweep: ivfCompactAppends fails loudly at every rename and recovers") {
    sweep(ivfFixture("graft-sweep-icomp"), 3, ivfMarker, Set.empty, ivfRows) {
      d => graft.operators.Similarity.ivfCompactAppends(spark, d, maxSegExclusive = 1L)
    }
  }

  test("rename sweep: minhashCompactAppends fails loudly at every rename and recovers") {
    sweep(minhashFixture("graft-sweep-mcomp"), 6, minhashMarker, Set.empty,
      minhashRows) {
      d => graft.operators.Dedup.minhashCompactAppends(spark, d, maxSegExclusive = 1L)
    }
  }

  test("rename sweep: sidecar compactSegDir fails loudly at every rename and recovers") {
    val s = spark
    import s.implicits._
    val F = org.apache.spark.sql.functions
    val dir = tmp("graft-sweep-hist") + "/sidecar"
    for (seg <- 0 to 1)
      graft.operators.Profile.histShard(
          (1L to 20L).map(i => (i, i * (1.5 + seg))).toDF("id", "score"),
          "score", 0.0, 60.0, 6)
        .withColumn("seg", F.lit(seg))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg")
        .parquet(dir)
    // the histogram fold is exact (per-bucket sum), so a recovered
    // and a completed fold both read the pre-op rows
    sweep(dir, 3, d => Some(graft.operators.SegmentTiers.swapMarker(d)),
      Set.empty,
      d => graft.streaming.StreamingOps.histOf(s, d).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).toString))
        .sorted.toSeq) {
      d => graft.streaming.StreamingOps.histCompact(s, d, maxSegExclusive = 1L)
    }
  }

  test("rename sweep: ivfLayoutRemove fails loudly at every rename and recovers") {
    val s = spark
    import s.implicits._
    // 100 and 101 are the only appended rows: the applists move is a
    // delete, the lists move a staged rewrite
    sweep(ivfFixture("graft-sweep-irm"), 3, ivfMarker, Set(3L, 100L, 101L),
      ivfRows) {
      d => graft.operators.Similarity.ivfLayoutRemove(
        s, d, Seq(3L, 100L, 101L).toDF("id"))
    }
  }

  test("rename sweep: minhashLayoutRemove fails loudly at every rename and recovers") {
    val s = spark
    import s.implicits._
    sweep(minhashFixture("graft-sweep-mrm"), 8, minhashMarker, Set(3L, 100L),
      minhashRows) {
      d => graft.operators.Dedup.minhashLayoutRemove(
        s, d, Seq(3L, 100L).toDF("doc_id"))
    }
  }

  test("rename sweep: codesLayoutRemove fails loudly at every rename and recovers") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val dir = tmp("graft-sweep-codes")
    Similarity.sq8Save(Similarity.sq8Encode(
      (0L until 30L).map(i => (i, vec(i.toInt))).toDF("id", "vec"),
      persist = false), dir)
    sweep(dir, 2,
      d => Some(graft.operators.SegmentTiers.swapMarker(s"$d/codes")),
      Set(3L, 7L),
      d => s.read.parquet(s"$d/codes").select("id").collect()
        .map(r => (r.getLong(0), "")).sorted.toSeq) {
      d => Similarity.codesLayoutRemove(s, d, Seq(3L, 7L).toDF("id"))
    }
  }

  test("rename sweep: ivfRebuild fails loudly at every rename and recovers") {
    sweep(ivfFixture("graft-sweep-reb"), 2, _ => None, Set.empty, ivfRows) {
      d => graft.operators.Similarity.ivfRebuild(spark, d, targetListSize = 5)
    }
  }

  test("a takedown re-run over a crashed takedown refuses; the streamed appends survive") {
    registerScheme()
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val dir = ivfFixture("graft-swap-rerun")
    val before = ivfIds(dir)
    val fs = fsOf(dir)
    // removing 3 and 100 rewrites both dirs: renames 1-2 swap lists,
    // rename 3 moves applists to its _old sibling, rename 4 (failed)
    // would move the staged appends live
    FailRenameFileSystem.swapRenames.set(0)
    FailRenameFileSystem.failNth = 4
    try intercept[IllegalArgumentException](
      Similarity.ivfLayoutRemove(s, dir, Seq(3L, 100L).toDF("id")))
    finally FailRenameFileSystem.failNth = 0
    val marker = graft.operators.SegmentTiers.swapMarker(s"$dir/applists")
    assert(fs.exists(marker) && !fs.exists(new Path(s"$dir/applists")) &&
      fs.exists(new Path(s"$dir/applists_remove_old")),
      "fixture no longer stops with the appends moved away")
    // a second takedown must not commit over the crashed one: it would
    // leave `applists` absent, the appends orphaned in the _old sibling
    // and no marker to say so
    val e = intercept[IllegalStateException](
      Similarity.ivfLayoutRemove(s, dir, Seq(4L).toDF("id")))
    assert(e.getMessage.contains(marker.toString), e.getMessage)
    assert(fs.exists(marker) && fs.exists(new Path(s"$dir/applists_remove_old")))
    undoSwap(fs, marker)
    assert(ivfIds(dir) == before, "recovery did not restore the pre-op rows")
    assert(ivfIds(dir).contains(100L) && ivfIds(dir).contains(101L))
  }

  test("a swap that stopped after its last rename is committed by the next fold") {
    registerScheme()
    val s = spark
    import graft.operators.Similarity
    val dir = ivfFixture("graft-swap-resume")
    val before = ivfIds(dir)
    val fs = fsOf(dir)
    val marker = graft.operators.SegmentTiers.swapMarker(s"$dir/applists")
    // every rename done, then the process dies deleting the marker
    FailRenameFileSystem.failDelete = _ == marker
    try intercept[java.io.IOException](
      Similarity.ivfCompactAppends(s, dir, maxSegExclusive = 1L))
    finally FailRenameFileSystem.failDelete = _ => false
    assert(fs.exists(marker) && fs.exists(new Path(s"$dir/applists_compact_old")))
    // the next fold finishes that commit and runs
    Similarity.ivfCompactAppends(s, dir)
    assert(!fs.exists(marker) && !fs.exists(new Path(s"$dir/applists_compact_old")))
    assert(ivfIds(dir) == before, "the resumed commit changed the rows")
  }

  /** Run `body` with renames into a matching destination forced false,
    * expecting the operator to throw the require message. */
  private def failDstIntercept(name: String => Boolean)(
      body: => Any): IllegalArgumentException = {
    var caught: IllegalArgumentException = null
    failDst(name) {
      caught = intercept[IllegalArgumentException] { body }
    }
    caught
  }
}
