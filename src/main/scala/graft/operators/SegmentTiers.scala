package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

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
}
