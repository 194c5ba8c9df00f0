package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Tiered (LSM-style) fold-set selection for the streamed append
  * segments of a persisted layout (VERDICT r14 #1b).
  *
  * Through r14 every cadence-triggered in-stream fold rewrote the
  * ENTIRE appends dir: with fold cadence c over a stream of N
  * micro-batches the k-th fold rewrites ~k·c batches of data, so the
  * total fold I/O is O(N²/c) — quadratic in ingest, the dominant term
  * of the `s_gate_compact_stream`-class rows and a genuine 100 TB
  * scale bug (guide §6: compaction must not re-copy cold data).
  *
  * The tiered policy folds (a) every committed REAL segment
  * (seg ≥ 0 — the per-batch small files the fold exists to absorb),
  * plus (b) the MERGED (seg < 0) segments in ascending size order,
  * each included only while its bytes are ≤ `ratio` × the bytes
  * already being folded. A big cold merged segment is therefore only
  * rewritten once the data accumulated beneath it reaches ~1/ratio of
  * its size — each row is rewritten O(log(total/batch)) times over the
  * stream's life instead of once per fold, and the surviving merged
  * segments form a ~geometric ladder, so reads see at most
  * O(log total) + cadence segment dirs.
  *
  * Folds remain semantically invisible (same row set before and
  * after — the law every compaction spec pins); only WHICH bytes a
  * given fold rewrites changes. Explicit maintenance calls
  * (`maxSegExclusive = Long.MaxValue`, `tiered = false`) keep the
  * r13-pinned full-fold law: one merged segment afterwards.
  *
  * The object also owns the one swap protocol every persisted layout
  * uses (the minhash gate's bands/shingles and their appends, IVF
  * lists and applists, codec codes/, the profile, histogram and
  * heavy-hitter sidecars): stage the rewrite in a sibling dir, write a
  * swap marker that lists the moves, rename each live dir to its
  * `_old` sibling (carrying the `seg=` leaves the rewrite left alone
  * into the staged dir), rename the staged dir live, and commit by
  * deleting the marker. Readers that find a live dir without `seg=`
  * leaves wait on the marker ([[awaitSwap]]) instead of concluding the
  * layout has none.
  */
private[graft] object SegmentTiers {

  /** Pick the segment ids a tiered fold should rewrite.
    *
    * @param eligible (segId, bytes) for every COMMITTED segment the
    *                 fold may touch (the caller already excluded
    *                 in-flight ids ≥ maxSegExclusive)
    * @param ratio    a merged segment is folded only while its size is
    *                 ≤ ratio × the bytes already in the fold set
    * @return ids to fold together; empty = nothing worth rewriting
    *         (folding a lone merged segment is pure churn)
    */
  def select(eligible: Seq[(Long, Long)], ratio: Double = 2.0): Seq[Long] = {
    val (reals, merged) = eligible.partition(_._1 >= 0)
    val mergedAsc = merged.sortBy { case (id, bytes) => (bytes, id) }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var acc = 0L
    reals.foreach { case (id, bytes) => out += id; acc += bytes }
    var i = 0
    if (out.isEmpty && mergedAsc.nonEmpty) {
      // no new data: seed with the smallest merged segment so two
      // similar-sized merged tiers can still coalesce
      out += mergedAsc.head._1; acc += mergedAsc.head._2; i = 1
    }
    var stop = false
    while (i < mergedAsc.length && !stop) {
      val (id, bytes) = mergedAsc(i)
      if (bytes.toDouble <= ratio * acc.toDouble) {
        out += id; acc += bytes; i += 1
      } else stop = true
    }
    if (out.sizeIs <= 1 && out.headOption.forall(_ < 0)) Seq.empty
    else out.toSeq
  }

  /** Skew guard for key-aligned partitioned layout writes (guide §2.5,
    * VERDICT r14 #4): a bare `repartition(key)` gives each leaf one
    * file, but a HOT key funnels its entire segment through ONE task —
    * at 100 TB a popular IVF list (or a minhash band, whose key space
    * is only `bands` values wide) serializes the whole write behind a
    * straggler. This derives a deterministic per-key salt count from
    * the ACTUAL row counts (one partial-agg pass over the key column,
    * broadcast back — bounded by distinct keys, i.e. k lists / 16
    * bands) so a key holding n rows spreads over ceil(n/targetRows)
    * tasks, while keys at or under targetRows keep nsalt = 1 — the
    * bench/oracle points produce the same one-file-per-leaf layout as
    * the unsalted write. The salt is derived from `saltCols` via
    * xxhash64, never rand(): retried/replayed tasks must reproduce the
    * same row-to-partition assignment (the SPARK-38388 class, guide
    * §2.5).
    *
    * `knownRows` is the caller's row count of `df` (or any upper bound
    * on it). At or under `targetRows` no key can need a second salt, so
    * the count aggregation and its broadcast are skipped and the rows
    * hash on (key, 0) — the placement the counted path gives every
    * nsalt = 1 key, hence the same rows and files in every leaf.
    */
  def saltedRepartition(
      df: DataFrame, keyCol: String, saltCols: Seq[String],
      targetRows: Long, knownRows: Option[Long] = None): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive; got $targetRows")
    if (knownRows.exists(_ <= targetRows)) {
      // same columns, order and rows as the equi-join below (key first;
      // a null key never matches its count row)
      val key = F.col(keyCol)
      df.where(key.isNotNull)
        .select(key +: df.columns.filter(_ != keyCol).map(F.col).toSeq: _*)
        .repartition(key, F.lit(0))
    } else {
      val counts = df.groupBy(keyCol)
        .agg(F.count(F.lit(1)).as("__n"))
        .select(F.col(keyCol),
          F.greatest(F.lit(1L),
            F.expr(s"(__n + ${targetRows - 1L}) DIV $targetRows"))
            .as("__nsalt"))
      df.join(F.broadcast(counts), keyCol)
        .withColumn("__salt",
          F.pmod(F.xxhash64(saltCols.map(F.col): _*), F.col("__nsalt"))
            .cast("int"))
        .repartition(F.col(keyCol), F.col("__salt"))
        .drop("__nsalt", "__salt")
    }
  }

  // ---- segment leaves ---------------------------------------------

  /** `seg=<id>` → id; None for any other entry name. */
  def segId(name: String): Option[Long] =
    if (!name.startsWith("seg=")) None
    else scala.util.Try(name.substring(4).toLong).toOption

  /** (id, leaf) for every `seg=` leaf of `dir` in one listing; empty
    * when `dir` is absent. "Has segments" must mean seg= leaves, not
    * mere existence: a zero-row batch commits a dir holding only
    * _SUCCESS (Spark writes it even for an empty partitioned frame),
    * and reading that dies on schema inference over zero files. */
  def segLeaves(fs: FileSystem, dir: Path): Seq[(Long, Path)] = {
    val sts =
      try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    sts.toSeq.flatMap(st => segId(st.getPath.getName).map(_ -> st.getPath))
  }

  def hasSegs(fs: FileSystem, dir: Path): Boolean = segLeaves(fs, dir).nonEmpty

  /** Segment leaves under `path`; `realOnly` counts the per-batch
    * (seg >= 0) ones only — the fold-cadence trigger, which must not
    * count the merged tiers a tiered fold leaves behind by design (that
    * would re-trigger the fold on every later batch). */
  def segCount(spark: SparkSession, path: String,
      realOnly: Boolean = false): Int = {
    val p = new Path(path)
    segLeaves(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .count(l => !realOnly || l._1 >= 0)
  }

  /** Read-side backstop to the ingest-side fold cadence: state folded
    * by OTHER writers (or a stream run with compaction disabled) can
    * still accumulate unbounded `seg=` leaves; warn past 4× the default
    * cadence so the cost is attributable before it hurts. `segs` is the
    * reader's own leaf count of `path`. */
  def warnUncompacted(path: String, segs: Int, reader: String): Unit = {
    val cadence = graft.streaming.StreamingOps.defaultCompactEverySegs
    if (segs > 4 * cadence)
      org.apache.logging.log4j.LogManager.getLogger("graft").warn(
        s"$reader: $path holds $segs uncompacted seg= leaves — every " +
          "read lists and merges all of them. Fold with the matching " +
          "*Compact face, or leave the stream's compactEverySegs at " +
          s"its default ($cadence).")
  }

  // ---- the swap protocol ------------------------------------------

  /** The one swap-marker name: a SIBLING of the live dir, never inside
    * it — an in-dir marker would ride the live→old rename away
    * mid-swap, exactly when readers need to see it. On disk:
    * `bands_swap_marker`, `applists_swap_marker`, `codes_swap_marker`
    * and `<sidecar>_swap_marker`. */
  def swapMarker(live: String): Path =
    new Path(live.stripSuffix("/") + "_swap_marker")

  /** The one reader wait. `probe` lists what the reader needs from the
    * live dirs (empty = not there). When it comes back empty while
    * `marker` exists, a swap is between its renames (a live dir is
    * briefly absent), so re-probe for up to 10 s rather than silently
    * serve a smaller layout; a marker that never clears means a crashed
    * swap — fail with the recovery path. The marker is only checked
    * when the probe is empty, so a reader of a layout that has its
    * segments pays no extra filesystem call. Returns the last probe. */
  def awaitSwap[T](fs: FileSystem, marker: Path, reader: String)(
      probe: => Seq[T]): Seq[T] = {
    var got = probe
    var waited = 0
    while (got.isEmpty && fs.exists(marker)) {
      if (waited >= 10000)
        throw new IllegalStateException(
          s"$reader: swap marker $marker is present and did not clear " +
            "within 10 s — a compaction or takedown likely crashed " +
            s"between its swap renames. $recovery")
      Thread.sleep(200); waited += 200
      got = probe
    }
    got
  }

  /** The by-hand recovery of a crashed swap, named by every error that
    * finds its marker. */
  private val recovery =
    "The pre-swap data is under the `_old` sibling dirs and the marker " +
      "lists every move (live, old, staged, carried seg= leaves): move " +
      "the carried leaves back into `_old`, rename `_old` to the live " +
      "name, delete the staged dirs, then delete the marker."

  /** An earlier swap's marker at the start of a fold, takedown or swap.
    * When its move log shows every rename done (the swap stopped
    * between its last rename and the commit), finish that commit: the
    * live dirs already hold the swapped-in layout. Otherwise refuse and
    * touch nothing — starting over would delete or overwrite the only
    * copy of the pre-swap data (the `_old` siblings, the staged dirs
    * holding carried segments) and the marker that says where it is. */
  def resumeOrRefuse(fs: FileSystem, who: String, marker: Path): Unit =
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val log = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val moves = log.split("\n").filter(_.nonEmpty).map { line =>
        val f = line.split("\t", -1)
        Move(new Path(f(0)), new Path(f(1)),
          Some(f(2)).filter(_.nonEmpty).map(new Path(_)))
      }
      // an empty log (or a marker some other writer left) names no
      // moves to check, so nothing proves the swap finished
      val done = moves.nonEmpty && moves.forall { m =>
        fs.exists(m.old) && m.staged.fold(!fs.exists(m.live))(st =>
          fs.exists(m.live) && !fs.exists(st))
      }
      if (!done)
        throw new IllegalStateException(
          s"$who: swap marker $marker is left by an earlier swap that did " +
            s"not finish; refusing to start over it, nothing was changed. " +
            recovery)
      fs.delete(marker, false)
      moves.foreach(m => fs.delete(m.old, true))
    }

  /** One dir of a [[swap]]: `live` is replaced by `staged`, or removed
    * when `staged` is None (a partitioned parquet dir with zero rows
    * has no readable schema, while an absent dir is the well-defined
    * "no segments" state). The `seg=` leaves of `live` that `carry`
    * accepts move into the staged dir verbatim — the in-flight and cold
    * segments a fold leaves alone. */
  final case class Move(live: Path, old: Path, staged: Option[Path],
      carry: Long => Boolean = _ => false)

  /** The one checked rename swap. Every rename is checked: HDFS returns
    * false instead of throwing on some failures, and an unchecked false
    * reports a successful fold or erasure over untouched data. Each
    * `_old` sibling survives until the commit (the marker delete), so
    * a failure at any rename leaves the full pre-swap state behind the
    * marker, whose move log ([[awaitSwap]]'s error spells out the
    * recovery) says what to put back — and a later swap over that
    * marker refuses to start ([[resumeOrRefuse]]). `who` prefixes every
    * error. */
  def swap(fs: FileSystem, who: String, marker: Option[Path],
      moves: Seq[Move]): Unit = {
    marker.foreach(resumeOrRefuse(fs, who, _))
    // stale siblings of an earlier committed swap go BEFORE the marker:
    // with the marker present, every `_old` dir is this swap's own
    moves.foreach(m => if (fs.exists(m.old)) fs.delete(m.old, true))
    val carried = moves.map { m =>
      if (m.staged.isEmpty) Nil
      else segLeaves(fs, m.live).collect { case (id, p) if m.carry(id) => p.getName }
    }
    marker.foreach { mk =>
      val log = moves.zip(carried).map { case (m, c) =>
        Seq(m.live, m.old, m.staged.getOrElse(""), c.mkString(",")).mkString("\t")
      }.mkString("", "\n", "\n")
      val out = fs.create(mk, true)
      try out.write(log.getBytes("UTF-8")) finally out.close()
    }
    val left = if (marker.isEmpty) "" else ", marker left for diagnosis"
    moves.zip(carried).foreach { case (m, names) =>
      require(fs.rename(m.live, m.old),
        s"$who: rename ${m.live} -> ${m.old} failed; ${m.live} is " +
          "untouched and still serves" +
          m.staged.fold("")(st => s", the staged rewrite survives under $st") +
          left)
      m.staged.foreach { st =>
        names.foreach { nm =>
          require(fs.rename(new Path(m.old, nm), new Path(st, nm)),
            s"$who: carrying unfolded segment $nm into $st failed; " +
              s"pre-swap data survives under ${m.old}$left")
        }
        require(fs.rename(st, m.live),
          s"$who: rename $st -> ${m.live} failed; pre-swap data survives " +
            s"under ${m.old} — restore it (or finish the swap by hand) " +
            s"before serving resumes$left")
      }
    }
    marker.foreach(fs.delete(_, false)) // the commit point
    moves.foreach(m => fs.delete(m.old, true))
  }

  // ---- the fold and the takedown, built on swap -------------------

  /** One dir of a [[fold]]: `write(rows, merged, tmp, rowsUpTo)` stages
    * the rows of the folded segments (seg column kept) as segment
    * `merged`. `rowsUpTo(n)` is their row count from the folded files'
    * Parquet footers when it is at most `n`, None past it (the driver
    * stops reading footers there); nothing is read unless it is called,
    * so a salted write passes its own target rows. */
  final case class FoldDir(live: Path, tmp: Path, old: Path,
      write: (DataFrame, Long, String, Long => Option[Long]) => Unit)

  /** The one fold: rewrite the committed segments (`seg <
    * maxSegExclusive`) of every dir in `dirs` as ONE merged segment and
    * swap it in under `marker`. The in-flight batch's segment is never
    * folded, so a replayed batch overlays its own leaves instead of
    * duplicating rows already merged; `tiered` (the in-stream cadence
    * folds) rewrites only the [[select]] subset, explicit maintenance
    * calls fold everything eligible (one merged segment afterwards).
    * Every dir must hold seg leaves; the fold set comes from the first
    * dir's listing. [[select]] weighs a segment by its bytes in the
    * first dir, or by its rows there (from the Parquet footers) when
    * `byRows`: a layout whose files hold a few narrow rows each is
    * mostly Parquet's per-file overhead by size. Returns the first
    * dir's data-file count afterwards from a driver listing,
    * [[dataFileCount]] (0 = nothing to fold). */
  def fold(spark: SparkSession, who: String, marker: Path,
      dirs: Seq[FoldDir], maxSegExclusive: Long, tiered: Boolean,
      byRows: Boolean = false): Int = {
    val fs = dirs.head.live.getFileSystem(spark.sessionState.newHadoopConf())
    resumeOrRefuse(fs, who, marker)
    val leaves = segLeaves(fs, dirs.head.live)
    if (leaves.isEmpty || dirs.tail.exists(d => !hasSegs(fs, d.live))) return 0
    val eligible = leaves.filter(_._1 < maxSegExclusive)
    // fold-set selection on metadata (one content summary or one
    // footer read per seg file, bounded by the cadence plus the
    // geometric tier ladder), read only when the tiered policy needs it
    def size(leaf: Path): Long =
      if (byRows) footerRows(fs, Seq(leaf), Long.MaxValue).get
      else fs.getContentSummary(leaf).getLength
    val foldIds =
      if (!tiered) eligible.map(_._1)
      else select(eligible.map { case (id, p) => id -> size(p) })
    if (foldIds.isEmpty) return 0
    // the merged id must never collide with ANY existing segment —
    // surviving tiers included — nor with a future batch id (those are
    // >= 0 and monotone under one checkpoint)
    val merged = math.min(-1L, leaves.map(_._1).min - 1L)
    val seg = F.col("seg").cast("long")
    val inFold = if (tiered) seg.isin(foldIds: _*) else seg < maxSegExclusive
    val folded = foldIds.toSet
    dirs.foreach { d =>
      if (fs.exists(d.tmp)) fs.delete(d.tmp, true)
      def rowsUpTo(n: Long) = footerRows(fs, segLeaves(fs, d.live).collect {
        case (id, p) if folded(id) => p }, n)
      d.write(spark.read.parquet(d.live.toString).where(inFold), merged,
        d.tmp.toString, rowsUpTo)
    }
    swap(fs, who, Some(marker),
      dirs.map(d => Move(d.live, d.old, Some(d.tmp), id => !folded(id))))
    dataFileCount(fs, dirs.head.live)
  }

  /** The rows of the Parquet files under `leaves`, summed from their
    * footers on the driver while the sum stays at most `upTo`; None
    * past it. */
  def footerRows(fs: FileSystem, leaves: Seq[Path], upTo: Long): Option[Long] = {
    val conf = fs.getConf
    val files = leaves.iterator.flatMap(dataFiles(fs, _))
    var rows = 0L
    while (rows <= upTo && files.hasNext) {
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(files.next(), conf))
      try rows += in.getRecordCount finally in.close()
    }
    Some(rows).filter(_ <= upTo)
  }

  /** The files a Parquet read of `dir` lists (see [[dataFileCount]]). */
  private def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator.flatMap { st =>
      val name = st.getPath.getName
      if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) Iterator.empty
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Iterator(st)
    }

  /** The files a Parquet read of `dir` lists, counted on the driver:
    * every file below it with no path component, below `dir`, that
    * Spark's file index hides (a `_` name without `=`, such as
    * `_SUCCESS`, or a `.` name, such as a checksum). */
  def dataFileCount(fs: FileSystem, dir: Path): Int = dataFiles(fs, dir).size

  /** The one staged anti-join takedown over `path`'s `dirs` (name,
    * partition columns): each readable dir — seg leaves for a
    * seg-partitioned appends dir, existence for the rest — is
    * anti-joined on `keyCol`, its kept rows staged in
    * `<dir>_remove_tmp` with every partition value preserved
    * row-for-row, then all changed dirs swap in under `marker`. A dir
    * emptied by the removal is deleted; `guard` = (dir, error) names
    * the dir that must keep a row. Only `counted` dirs pay the
    * (row-group-metadata-speed) before-count; a counted dir that lost
    * nothing is left as it is. Returns the rows removed from the
    * counted dirs. */
  def removeRows(spark: SparkSession, who: String, path: String,
      marker: Path, ids: DataFrame, keyCol: String,
      dirs: Seq[(String, Seq[String])], counted: String => Boolean,
      guard: (String, String)): Long = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    resumeOrRefuse(fs, who, marker)
    val key = ids.select(F.col(keyCol).cast("long").as(keyCol)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    key.count()
    try {
      var removed = 0L
      val moves = dirs.flatMap { case (dir, parts) =>
        val src = new Path(s"$path/$dir")
        val readable =
          if (parts.contains("seg")) hasSegs(fs, src) else fs.exists(src)
        if (!readable) None
        else {
          val before = spark.read.parquet(src.toString)
          // removed = total - kept: the no-filter parquet count reads
          // row-group metadata only, and the anti-join partitions
          // `before`, so no second semi-join scan is needed
          val beforeCount = if (counted(dir)) before.count() else -1L
          val kept = before.join(key, Seq(keyCol), "left_anti")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val nKept = kept.count()
            if (beforeCount == nKept) None
            else {
              if (beforeCount >= 0L) removed += beforeCount - nKept
              if (dir == guard._1) require(nKept > 0L, guard._2)
              val old = new Path(s"$path/${dir}_remove_old")
              if (nKept == 0L) Some(Move(src, old, None))
              else {
                val tmp = new Path(s"$path/${dir}_remove_tmp")
                if (fs.exists(tmp)) fs.delete(tmp, true)
                val w = kept.write.mode("overwrite")
                (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
                  .parquet(tmp.toString)
                Some(Move(src, old, Some(tmp)))
              }
            }
          } finally kept.unpersist(blocking = false)
        }
      }
      if (moves.nonEmpty) swap(fs, who, Some(marker), moves)
      removed
    } finally key.unpersist(blocking = false)
  }
}
