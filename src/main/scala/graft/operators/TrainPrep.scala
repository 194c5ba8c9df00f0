package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel

/** Training-data preparation operators — engine additions beyond the
  * reference surface (SURVEY.md §2.3 "Streaming/LLM-pipeline" group):
  * context-window chunking, token-budget shard packing, and
  * deterministic hash sampling. All three are the shapes a 100 TB
  * corpus pipeline needs: chunking is a per-row explode (no shuffle),
  * packing is a two-phase distributed prefix sum (never a global
  * single-partition window), and hash sampling is a stateless filter
  * that needs no count pass and composes with partition pruning.
  */
object TrainPrep {

  /** RDDs pinned by the two-job packers/rankers, awaiting release.
    * The pin matters for the lifetime of the returned frame: the
    * broadcast carries were computed against the cached partition
    * layout, and a re-execution after unpersist could range-shuffle
    * into different partitions — every second job therefore VERIFIES
    * the layout it observes against a per-partition fingerprint from
    * the first job (see [[layoutChecked]]) and fails loudly on drift,
    * so a lost cache costs a recompute or an exception, never a
    * silently wrong answer. The queue holds WEAK references: it never
    * keeps an RDD alive, so the ContextCleaner still reclaims each
    * cache once its frame becomes unreachable even if
    * [[releasePinnedCaches]] is never called. Callers that materialize
    * the result (write it, or persist their own downstream frame) can
    * reclaim the memory eagerly with [[releasePinnedCaches]].
    */
  private val pinnedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]

  private def pin[T](rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    pinnedCaches.add(new java.lang.ref.WeakReference(rdd))
    rdd
  }

  /** Unpersist every RDD pinned by [[packTokenShards]],
    * [[packTokenShardsGreedy]], [[stratumRanks]] and
    * [[interleaveByStratum]] since the last release. Call AFTER
    * materializing their results. Returns the number of caches
    * released; idempotent when nothing is pinned. The release is
    * PROCESS-GLOBAL: calling it while another pipeline's packer result
    * is still unmaterialized unpins that result too — its next
    * execution then recomputes the range shuffle, and the layout
    * fingerprint check turns any boundary drift into a loud error
    * (never a silent mis-carry). Frames released before materialization
    * may therefore pay a recompute or raise; scope releases to quiet
    * points between batches.
    */
  def releasePinnedCaches(blocking: Boolean = false): Int = {
    var n = 0
    var ref = pinnedCaches.poll()
    while (ref != null) {
      val r = ref.get()
      if (r != null && r.getStorageLevel != StorageLevel.NONE) {
        r.unpersist(blocking)
        n += 1
      }
      ref = pinnedCaches.poll()
    }
    n
  }

  /** Wraps a second-job partition iterator with the first job's
    * fingerprint of the same partition: expected row count and first
    * key. Under a fixed global sort order, contiguous range partitions
    * that agree on (first key, count) for EVERY partition have
    * identical contents — so a match proves the carry-applying pass is
    * reading the exact layout the summary pass summarized, and any
    * recompute that resampled range boundaries (cache evicted, or a
    * concurrent [[releasePinnedCaches]]) throws instead of applying
    * broadcast carries to the wrong rows.
    */
  private[graft] def layoutChecked[T, K](
      part: Int, it: Iterator[T], expCount: Long, expFirst: K)(
      key: T => K): Iterator[T] = new Iterator[T] {
    private var n = 0L
    private def drift(what: String): Nothing =
      throw new IllegalStateException(
        s"pinned range-shuffle layout drifted in partition $part ($what): " +
          "the cached (key, value) layout the carry offsets were computed " +
          "against was recomputed with different partition boundaries — " +
          "likely the cache was evicted or releasePinnedCaches() ran " +
          "before this result was materialized. Re-run the operator.")
    def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && n != expCount) drift(s"expected $expCount rows, saw $n")
      h
    }
    def next(): T = {
      val t = it.next()
      if (n == 0L && expCount > 0L && key(t) != expFirst)
        drift(s"expected first key $expFirst, saw ${key(t)}")
      n += 1L
      t
    }
  }

  /** Sliding token-window chunks: windows of `window` tokens every
    * `stride` tokens, last window truncated (never empty). Chunk
    * starts are 0, stride, 2·stride, … while < n_tokens, so every
    * token lands in ⌈window/stride⌉ chunks (overlap = window−stride).
    * Output: (doc_id, chunk_id, chunk_text, n_tokens), one row per
    * chunk. Per-row explode, no shuffle: at scale this is a map-only
    * stage bounded by output size. A null text yields NO chunks (the
    * explode of a null sequence emits nothing) — intentional: a doc
    * without content has nothing to train on.
    */
  def chunkTokenWindows(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    docs
      .select(F.col("doc_id"), TextOps.tokens(F.col("text")).as("t"))
      .select(
        F.col("doc_id"),
        F.posexplode(F.sequence(F.lit(0), F.size(F.col("t")) - 1, F.lit(stride)))
          .as(Seq("chunk_id", "s")),
        F.col("t"))
      .select(
        F.col("doc_id"),
        F.col("chunk_id").cast("long"),
        F.concat_ws(" ", F.slice(F.col("t"), F.col("s") + 1, F.lit(window)))
          .as("chunk_text"),
        F.size(F.slice(F.col("t"), F.col("s") + 1, F.lit(window)))
          .cast("long").as("n_tokens"))
  }

  /** Shared head of both packers: (doc_id, n_tokens) in doc_id order,
    * range-partitioned and sorted. null text = 0 tokens: the doc keeps
    * its place in the layout instead of a null n_tokens killing the
    * typed passes. Pinned across the packers' two jobs (summary
    * collect, then the carry-applying emit): without the persist the
    * range shuffle could in principle be recomputed between them with
    * resampled boundaries, and the broadcast carries would be applied
    * to the WRONG partitions — a silent cross-run nondeterminism. The
    * cache is slim (two longs per doc) and spills to disk; the
    * ContextCleaner reclaims it once the returned frame is unreachable.
    */
  private def tokenCounts(docs: DataFrame): org.apache.spark.rdd.RDD[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    pin(docs
      .select(
        F.col("doc_id").cast("long"),
        F.coalesce(
          F.size(TextOps.tokens(F.col("text"))).cast("long"),
          F.lit(0L)).as("n_tokens"))
      .repartitionByRange(F.col("doc_id"))
      .sortWithinPartitions("doc_id")
      .select($"doc_id".as[Long], $"n_tokens".as[Long])
      .rdd)
  }

  /** Pack documents into training shards by global token offset: docs
    * are laid out in doc_id order; a doc belongs to the shard where
    * its first token falls (`shard = offset_before / budget`). The
    * running offset is a TWO-PHASE distributed prefix sum — per-
    * partition partial sums to the driver (one long per partition),
    * then a map-side scan with broadcast offsets — NOT a global-order
    * window, which would move the whole corpus to one task.
    * Output: (doc_id, n_tokens, shard, offset) where offset is the
    * doc's first-token position within its shard.
    * Pins a slim (doc_id, n_tokens) RDD across its two jobs; release
    * eagerly with [[releasePinnedCaches]] after materializing, or let
    * the ContextCleaner reclaim it (see [[pinnedCaches]]).
    */
  def packTokenShards(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = tokenCounts(docs)
    val partSums = counts
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; var cnt = 0L; var first = Long.MinValue
        it.foreach { case (id, n) =>
          if (cnt == 0L) first = id
          cnt += 1L; s += n
        }
        Iterator((i, s, cnt, first))
      }
      .collect().sortBy(_._1)
    // exclusive prefix per partition
    val offsets = partSums.map(_._2).scanLeft(0L)(_ + _)
    val fpCount = partSums.map(_._3)
    val fpFirst = partSums.map(_._4)
    val bc = spark.sparkContext.broadcast((offsets, fpCount, fpFirst))
    counts
      .mapPartitionsWithIndex { (i, it0) =>
        val (offs, cnts, firsts) = bc.value
        val it = layoutChecked(i, it0, cnts(i), firsts(i))(_._1)
        var cum = offs(i)
        it.map { case (id, n) =>
          val before = cum
          cum += n
          (id, n, before / budget, before % budget)
        }
      }
      .toDF("doc_id", "n_tokens", "shard", "offset")
  }

  /** Greedy DOC-BOUNDARY packing: docs are laid out in doc_id order and
    * a doc that would cross the token budget STARTS A NEW SHARD — no
    * doc ever straddles two shards (the packing most LLM training
    * pipelines use, vs [[packTokenShards]]'s offset-straddling layout).
    * A doc larger than the budget occupies a shard alone; a 0-token doc
    * joins the current shard wherever it stands.
    * Output: (doc_id, n_tokens, shard, offset) — offset is the doc's
    * first-token position within its shard (< budget except for docs
    * following an over-budget doc's own shard, which always break).
    *
    * Greedy packing is inherently sequential — shard breaks depend on
    * every prior doc — but trajectories started at different carry
    * fills COALESCE at their first shard break, so the global result
    * needs only bounded per-partition summaries, never the corpus on
    * the driver and never a global-order window:
    *   1. one pass per partition computes the HEAD (cumulative sums of
    *      positive-token docs while ≤ budget — the only region where
    *      the carry fill can matter) and, for each possible first
    *      break, the memoized f-independent TAIL (#shards opened,
    *      final fill);
    *   2. the driver walks partitions IN ORDER over those summaries
    *      (O(head) longs per partition, binary-searched), assigning
    *      each partition its carry (shard index, fill);
    *   3. a map pass re-simulates each partition from its broadcast
    *      carry and emits every doc.
    * Same job shape as [[packTokenShards]]: one range shuffle, a
    * summary collect, a map-side emit — and the same pinned RDD,
    * released via [[releasePinnedCaches]].
    */
  def packTokenShardsGreedy(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = tokenCounts(docs)

    // phase 1: (idx, headSums, posTotal, mPos, tailShards, tailFills,
    //           rowCount, firstId) — the last two are the layout
    //           fingerprint the emit pass re-verifies
    val summaries = counts
      .mapPartitionsWithIndex { (idx, it) =>
        val pos = scala.collection.mutable.ArrayBuffer.empty[Long]
        var rows = 0L; var firstId = Long.MinValue
        it.foreach { case (id, n) =>
          if (rows == 0L) firstId = id
          rows += 1L
          if (n > 0) pos += n
        }
        val m = pos.length
        val P = new Array[Long](m + 1) // positive-doc prefix sums
        var i = 0
        while (i < m) { P(i + 1) = P(i) + pos(i); i += 1 }
        var k = 0
        while (k < m && P(k + 1) <= budget) k += 1
        require(k <= (1 << 22),
          s"greedy packing: one budget ($budget tokens) spans >${1 << 22} " +
            "docs in a single partition — coalesce zero/tiny docs or " +
            "lower the budget")
        val headSums = java.util.Arrays.copyOfRange(P, 1, k + 1)
        // first doc (1-based) outside the shard that starts at positive
        // doc `st` with fill 0; an over-budget doc st packs alone
        def nextBreak(st: Int): Int = {
          val target = P(st - 1) + budget
          var l = st; var h = m + 1
          while (l < h) {
            val mid = (l + h) >>> 1
            if (P(mid) > target) h = mid else l = mid + 1
          }
          math.max(l, st + 1)
        }
        // (shards opened, final fill) of the greedy run starting at
        // positive doc `start` with fill 0 — memoized: runs from
        // different starts merge at their first common shard start
        val memo = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
        def tailFrom(start: Int): (Long, Long) = {
          var cur = start
          val path = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (cur <= m && !memo.contains(cur)) { path += cur; cur = nextBreak(cur) }
          var sf = if (cur > m) (0L, 0L) else memo(cur)
          var pi = path.length - 1
          while (pi >= 0) {
            val st = path(pi)
            val nb = nextBreak(st)
            val own = P(math.min(nb - 1, m)) - P(st - 1)
            sf = (sf._1 + 1L, if (sf._1 == 0L) own else sf._2)
            memo(st) = sf
            pi -= 1
          }
          if (start > m) (0L, 0L) else memo(start)
        }
        val nStarts = math.min(k + 1, m)
        val tails = Array.tabulate(nStarts)(t => tailFrom(t + 1))
        Iterator((idx, headSums, P(m), m.toLong, tails.map(_._1),
          tails.map(_._2), rows, firstId))
      }
      .collect().sortBy(_._1)

    // phase 2 driver walk: carry (shard index, fill) into each partition
    val nParts = summaries.length
    val baseS = new Array[Long](nParts)
    val baseF = new Array[Long](nParts)
    val fpCount = summaries.map(_._7)
    val fpFirst = summaries.map(_._8)
    var s = 0L
    var f = 0L
    summaries.foreach { case (idx, headSums, posTotal, mPos, tailS, tailF, _, _) =>
      baseS(idx) = s; baseF(idx) = f
      if (mPos > 0L) {
        // j = docs joining the carry shard (head sums ≤ budget − fill)
        val room = budget - f
        var j = 0
        if (room > 0) {
          var l = 0; var h = headSums.length
          while (l < h) {
            val mid = (l + h) >>> 1
            if (headSums(mid) <= room) l = mid + 1 else h = mid
          }
          j = l
        }
        if (j >= mPos) f += posTotal // whole partition joins the carry shard
        else {
          // tail of start = j+1 (0-based index j). The tail counts its
          // first shard as newly opened — correct when the carry fill
          // is > 0 (the break rule fires) but NOT when f == 0: an
          // over-budget first doc joins the CURRENT (empty) shard
          // without a break (the rule requires fill > 0), so the
          // tail's first shard IS the carry shard, not a new one
          val firstIsBreak = f > 0 || j > 0
          s += tailS(j) - (if (firstIsBreak) 0L else 1L)
          f = tailF(j)
        }
      }
    }
    val bc = spark.sparkContext.broadcast((baseS, baseF, fpCount, fpFirst))
    counts
      .mapPartitionsWithIndex { (idx, it0) =>
        val (bs, bf, cnts, firsts) = bc.value
        val it = layoutChecked(idx, it0, cnts(idx), firsts(idx))(_._1)
        var s = bs(idx)
        var f = bf(idx)
        it.map { case (id, n) =>
          if (n > 0 && f > 0 && f + n > budget) { s += 1; f = 0 }
          val out = (id, n, s, f)
          f += n
          out
        }
      }
      .toDF("doc_id", "n_tokens", "shard", "offset")
  }

  /** Shard manifest — the artifact a training job actually consumes:
    * one row per shard with its doc count, token total, and the
    * doc_ids in layout order (comma-joined string: portable across
    * engines and safe under the driver's value-hash compare, unlike an
    * array column). Input is either packer's output. One partial-agg
    * shuffle keyed by shard; collect_list is per-shard bounded by the
    * budget's doc capacity.
    */
  def shardManifest(packed: DataFrame): DataFrame =
    packed
      .groupBy("shard")
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum("n_tokens").as("n_tokens"),
        // array_sort, not collect order: collect_list arrival order is
        // nondeterministic; doc_id order IS the layout order
        F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.col("doc_id"))),
            _.cast("string")),
          ",").as("doc_ids"))

  /** Persist a packed corpus as SHARD-PARTITIONED Parquet plus the
    * training manifest — the artifact layout a training job consumes:
    * `path/shards/shard=K/` holds shard K's documents (text joined back
    * onto either packer's layout) so a data loader reads exactly its
    * shard's files (partition pruning — spec-asserted) and never scans
    * the corpus for one shard; `path/manifest/` is [[shardManifest]]'s
    * per-shard doc/token accounting. The text join-back hash-scatters
    * each shard's docs across join tasks, so the write REPARTITIONS on
    * `shard` first: without it the dynamic-partition write opens a file
    * per (task, shard) pair — at tens of thousands of shards that is a
    * small-files blowup every pruned read then pays. One writer per
    * shard; task size is bounded by the token budget, so no skew wall.
    */
  def writeShards(packed: DataFrame, docs: DataFrame, path: String): Unit = {
    packed
      .join(docs.select(F.col("doc_id").cast("long").as("doc_id"), F.col("text")), "doc_id")
      .repartition(F.col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/shards")
    shardManifest(packed)
      .write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** 1-based rank of `key` within each `stratum` WITHOUT a per-stratum
    * window (whose rank pass is one task per stratum — a skew wall when
    * one source dominates the corpus). Range-partition by (stratum,
    * key), count each partition's per-stratum rows (a driver-small
    * map: strata × partitions longs), broadcast exclusive offsets, and
    * assign ranks in a map-side scan. Output: (key, stratum, r).
    * Pins the ranged RDD across its two jobs — release via
    * [[releasePinnedCaches]] after materializing.
    */
  def stratumRanks(df: DataFrame, key: Column, stratum: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // same two-job pinning as packTokenShards: the per-stratum count
    // pass and the rank-emitting pass must see identical partitions
    val typed = pin(df
      .select(key.cast("long").as("key"), stratum.cast("string").as("stratum"))
      .repartitionByRange(F.col("stratum"), F.col("key"))
      .sortWithinPartitions("stratum", "key")
      .select($"key".as[Long], $"stratum".as[String])
      .rdd)
    val counts = typed
      .mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        var rows = 0L; var first: (String, Long) = null
        it.foreach { case (k, s) =>
          if (rows == 0L) first = (s, k)
          rows += 1L
          m.update(s, m.getOrElse(s, 0L) + 1L)
        }
        Iterator((i, m.toMap, rows, first))
      }
      .collect().sortBy(_._1)
    val fpCount = counts.map(_._3)
    val fpFirst = counts.map(_._4)
    val nParts = counts.length
    val offsets: Array[Map[String, Long]] = {
      val run = scala.collection.mutable.Map.empty[String, Long]
      val out = new Array[Map[String, Long]](nParts)
      counts.foreach { case (i, m, _, _) =>
        out(i) = run.toMap
        m.foreach { case (s, n) => run.update(s, run.getOrElse(s, 0L) + n) }
      }
      out
    }
    val bc = spark.sparkContext.broadcast((offsets, fpCount, fpFirst))
    typed
      .mapPartitionsWithIndex { (i, it0) =>
        val (offs, cnts, firsts) = bc.value
        val it = layoutChecked(i, it0, cnts(i), firsts(i)) {
          case (k, s) => (s, k)
        }
        val run = scala.collection.mutable.Map.empty[String, Long]
        offs(i).foreach { case (s, n) => run.update(s, n) }
        it.map { case (k, s) =>
          val r = run.getOrElse(s, 0L) + 1L
          run.update(s, r)
          (k, s, r)
        }
      }
      .toDF("key", "stratum", "r")
  }

  /** Weighted generalization of [[stratumRanks]]: the EXCLUSIVE
    * per-stratum running sum of `weight` in (stratum, key) order —
    * same two-job distributed prefix sum (range shuffle, per-partition
    * stratum totals to the driver, broadcast exclusive offsets,
    * map-side emit with the layout-fingerprint guard), never a
    * per-stratum window (one task per dominant stratum). Null weights
    * count as 0. Output: (key, stratum, w, before). Pins the ranged
    * RDD across its two jobs — release via [[releasePinnedCaches]]
    * after materializing.
    */
  def stratumPrefixSums(
      df: DataFrame, key: Column, stratum: Column,
      weight: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val typed = pin(df
      .select(key.cast("long").as("key"), stratum.cast("string").as("stratum"),
        F.coalesce(weight.cast("long"), F.lit(0L)).as("w"))
      .repartitionByRange(F.col("stratum"), F.col("key"))
      .sortWithinPartitions("stratum", "key")
      .select($"key".as[Long], $"stratum".as[String], $"w".as[Long])
      .rdd)
    val counts = typed
      .mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        var rows = 0L; var first: (String, Long) = null
        it.foreach { case (k, s, w) =>
          if (rows == 0L) first = (s, k)
          rows += 1L
          m.update(s, m.getOrElse(s, 0L) + w)
        }
        Iterator((i, m.toMap, rows, first))
      }
      .collect().sortBy(_._1)
    val fpCount = counts.map(_._3)
    val fpFirst = counts.map(_._4)
    val offsets: Array[Map[String, Long]] = {
      val run = scala.collection.mutable.Map.empty[String, Long]
      val out = new Array[Map[String, Long]](counts.length)
      counts.foreach { case (i, m, _, _) =>
        out(i) = run.toMap
        m.foreach { case (s, n) => run.update(s, run.getOrElse(s, 0L) + n) }
      }
      out
    }
    val bc = spark.sparkContext.broadcast((offsets, fpCount, fpFirst))
    typed
      .mapPartitionsWithIndex { (i, it0) =>
        val (offs, cnts, firsts) = bc.value
        val it = layoutChecked(i, it0, cnts(i), firsts(i)) {
          case (k, s, _) => (s, k)
        }
        val run = scala.collection.mutable.Map.empty[String, Long]
        offs(i).foreach { case (s, n) => run.update(s, n) }
        it.map { case (k, s, w) =>
          val before = run.getOrElse(s, 0L)
          run.update(s, before + w)
          (k, s, w, before)
        }
      }
      .toDF("key", "stratum", "w", "before")
  }

  /** Per-stratum weight quotas — the mixture-building step "cap source
    * X at N tokens": keep a row iff its stratum's INCLUSIVE running
    * weight in (stratum, key) order fits the stratum's budget. The
    * running sum accumulates every row (kept or not), so the first doc
    * that would overflow truncates its stratum: nothing after it is
    * kept — the exact contract a replaying
    * `sum(w) OVER (PARTITION BY stratum ORDER BY key)` window states
    * (NOT a greedy best-fit that would skip the oversized doc and keep
    * probing). Docs are never split. Selection is deterministic on any
    * layout. Weights must be NON-NEGATIVE — a negative weight would
    * shrink the running sum and let rows after the first overflow
    * re-qualify, silently voiding the truncation guarantee — so the
    * scan fails fast (raise_error, no extra validation job) on the
    * first negative weight it sees (ADVICE r6).
    *
    * 100 TB shape: [[stratumPrefixSums]]'s two-job distributed prefix
    * sum plus a map-side budget CASE — no per-stratum window, no
    * second shuffle.
    *
    * Output: (key, stratum, w, before) for kept rows only.
    */
  def stratumWeightQuota(
      df: DataFrame, key: Column, stratum: Column, weight: Column,
      budgets: Map[String, Long], defaultBudget: Long): DataFrame = {
    require(defaultBudget >= 0, s"defaultBudget must be >= 0")
    val budgetCol = budgets.foldLeft(F.lit(defaultBudget).cast("long")) {
      case (acc, (s, b)) =>
        F.when(F.col("stratum") === s, F.lit(b).cast("long")).otherwise(acc)
    }
    val w = weight.cast("long")
    val checked = F.when(w < 0, F.raise_error(F.concat(
        F.lit("stratumWeightQuota: negative weight "), w.cast("string"),
        F.lit(" — the truncate-on-first-overflow contract assumes " +
          "non-negative weights"))).cast("long"))
      .otherwise(w)
    stratumPrefixSums(df, key, stratum, checked)
      .where(F.col("before") + F.col("w") <= budgetCol)
  }

  /** Deterministic weighted corpus interleave: stratum ranks are
    * stretched by a per-stratum stride (stride 2 → every 2nd global
    * position, stride 4 → every 4th …), and sorting by the resulting
    * `mix_key` yields a training order that mixes sources at the
    * configured ratios from the very first batch — no shuffle of the
    * payload, no RNG. Consumers materialize the order with
    * `repartitionByRange(mix_key)` + sortWithinPartitions (a
    * distributed total order, not a single-task global window). Use
    * strides with exact binary representations (2, 4, 2.5, …) so the
    * key is reproducible across engines.
    * Output: (key, stratum, mix_key).
    */
  def interleaveByStratum(
      df: DataFrame,
      key: Column,
      stratum: Column,
      strides: Map[String, Double],
      defaultStride: Double): DataFrame = {
    val strideCol = strides.foldLeft(F.lit(defaultStride)) {
      case (acc, (value, s)) => F.when(F.col("stratum") === value, F.lit(s)).otherwise(acc)
    }
    stratumRanks(df, key, stratum)
      .withColumn("mix_key", F.col("r") * strideCol)
      .select("key", "stratum", "mix_key")
  }

  /** Deterministic uniform in [0, buckets) from the md5 of a key's
    * string form — the same value on any engine that has md5 (the
    * DuckDB oracle derives it via `('0x' || substr(md5(k), 1, 8))::
    * BIGINT % buckets`), and stable across runs, partitionings, and
    * cluster sizes, unlike `rand(seed)` which is partition-dependent.
    */
  def hashBucket(key: Column, buckets: Int): Column =
    F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Exact deterministic k-per-stratum sample: the k rows with the
    * smallest (md5-hash, key) per stratum — a reservoir sample whose
    * membership is a pure function of the data (any engine, any
    * layout, any cluster size reproduces it), unlike rng reservoirs.
    * Selection goes through [[graft.scale.Skew.saltedTopKPerKey]], so
    * a stratum holding half the corpus still bounds every task: per-
    * (stratum, salt) top-k first, then top-k of the ≤ salt·k
    * survivors — never one task per stratum. The key tiebreak makes
    * hash collisions harmless. Output: (key, stratum, hkey), the
    * sampled rows.
    */
  def sampleKPerStratum(
      df: DataFrame, key: Column, stratum: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val typed = df.select(
      key.cast("long").as("key"), stratum.cast("string").as("stratum"))
      .withColumn("hkey", hashBucket(F.col("key"), 1 << 30))
    graft.scale.Skew
      .saltedTopKPerKey(
        typed, "stratum", Seq(F.col("hkey").asc, F.col("key").asc), k)
      .select("key", "stratum", "hkey")
  }

  /** WEIGHTED k-per-stratum sample without replacement — the
    * Efraimidis–Spirakis A-ES scheme (2006), derandomized: each row's
    * selection key is ln(u)/w where u is the md5-hash uniform of the
    * row key (so membership is a pure function of the data, like
    * every sampler here — any engine/layout/cluster reproduces it)
    * and w its weight; the k LARGEST keys per stratum are exactly a
    * weight-proportional sample without replacement (u^(1/w) max-k is
    * the paper's scheme; ln is monotone and sign-stable since
    * u ∈ (0,1)). The use case [[sampleKPerStratum]] can't serve:
    * quality-weighted curation — sample k docs per source with
    * probability tilted toward high quality scores, reproducibly.
    *
    * Weights must be > 0 — the first nonpositive weight fails the job
    * (same fail-fast contract as [[stratumWeightQuota]]); selection
    * runs through the salted two-phase rank, so a dominant stratum
    * still bounds every task. Output: (key, stratum, w, akey round-6),
    * (stratum, akey DESC, key) ordered.
    */
  def weightedSamplePerStratum(
      df: DataFrame, key: Column, stratum: Column, weight: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = weight.cast("double")
    val typed = df.select(
      key.cast("long").as("key"),
      stratum.cast("string").as("stratum"),
      F.when(w.isNull || w <= 0.0,
        F.raise_error(F.concat(
          F.lit("weightedSamplePerStratum: nonpositive weight "),
          w.cast("string"),
          F.lit(" — A-ES needs w > 0"))).cast("double"))
        .otherwise(w).as("w"))
    val u = (F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8),
      16, 10).cast("long") + 1L) / F.lit(4294967296.0)
    val keyed = typed.withColumn("akey", F.log(u) / F.col("w"))
    graft.scale.Skew
      .saltedTopKPerKey(
        keyed, "stratum", Seq(F.col("akey").desc, F.col("key").asc), k)
      .select(F.col("key"), F.col("stratum"), F.col("w"),
        F.round(F.col("akey"), 6).as("akey"))
      .orderBy(F.col("stratum"), F.col("akey").desc, F.col("key"))
  }

  /** Length-bucketed batch assignment — the padding-minimizing batch
    * layout for sequence training: docs are bucketed by token count
    * (`bucket = n_tokens div width`) and numbered within their bucket
    * in doc_id order, so consecutive `batchSize` ranks form a batch of
    * near-equal lengths. Ranks come from [[stratumRanks]]'s two-phase
    * distributed count (no per-bucket window task, no skew wall when
    * one length class dominates — which it always does). Output:
    * (doc_id, n_tokens, bucket, batch_idx, pos_in_batch).
    */
  def lengthBucketBatches(
      docs: DataFrame, width: Int, batchSize: Int): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val withLen = docs.select(
      F.col("doc_id").cast("long").as("doc_id"),
      F.coalesce(
        F.size(TextOps.tokens(F.col("text"))).cast("long"),
        F.lit(0L)).as("n_tokens"))
      .withColumn("bucket", F.expr(s"n_tokens div $width"))
    val ranks = stratumRanks(withLen, F.col("doc_id"), F.col("bucket"))
      .withColumnRenamed("key", "doc_id")
      .drop("stratum")
    withLen
      .join(ranks, "doc_id")
      .select(
        F.col("doc_id"), F.col("n_tokens"), F.col("bucket"),
        F.expr(s"(r - 1) div $batchSize").as("batch_idx"),
        F.expr(s"(r - 1) % $batchSize").as("pos_in_batch"))
  }

  /** Temperature-based source rebalancing — the `count^α` sampling rule
    * multilingual / multi-source training mixes use (mBERT/XLM-R style):
    * stratum s gets sampling weight w_s = n_s^α / Σ n_t^α, and the
    * realized per-stratum rate is min(1, w_s · target·N / n_s), so the
    * expected output size is ≈ `targetFraction`·N with small sources
    * up-weighted (α < 1 flattens the distribution; α = 1 degenerates to
    * a uniform `targetFraction` for every stratum; α = 0 equalizes
    * strata). Membership is the same md5 filter as
    * [[stratifiedHashSample]] — a pure function of the data.
    * Plan shape: one tiny per-stratum count aggregate, a 1-row totals
    * cross join, a BROADCAST join of the rates back onto the corpus,
    * then a stateless filter — no corpus shuffle, no driver collect of
    * anything larger than the stratum list. Output: the input rows that
    * survive, original columns unchanged.
    */
  def temperatureSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      alpha: Double,
      targetFraction: Double): DataFrame =
    applySampleRates(df, key, stratum,
      temperatureRates(df, stratum, alpha, targetFraction))

  /** The per-stratum rate table behind [[temperatureSample]], exposed
    * so a STREAM can apply batch-derived rates: compute the rates on a
    * batch snapshot (streams can't run the global count aggregate),
    * then [[applySampleRates]] on the live stream — the stream-static
    * broadcast join + stateless filter is fully streaming-safe, and
    * batch/stream membership is identical by construction (spec:
    * PipelineLawsSpec). Output: (stratum, rate) with rate in [0, 1].
    */
  def temperatureRates(
      df: DataFrame,
      stratum: Column,
      alpha: Double,
      targetFraction: Double): DataFrame = {
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0, 1], got $targetFraction")
    val counts = df
      .groupBy(stratum.cast("string").as("stratum"))
      .agg(F.count(F.lit(1)).cast("double").as("__n_s"))
    val totals = counts.agg(
      F.sum("__n_s").as("__n_tot"),
      F.sum(F.pow(F.col("__n_s"), alpha)).as("__sum_pow"))
    counts.crossJoin(totals).select(
      F.col("stratum"),
      F.least(
        F.lit(1.0),
        F.pow(F.col("__n_s"), alpha) / F.col("__sum_pow") *
          (F.lit(targetFraction) * F.col("__n_tot")) / F.col("__n_s"))
        .as("rate"))
  }

  /** md5-membership filter against a (stratum, rate) table — the apply
    * half of [[temperatureSample]], usable on batch frames AND streams
    * (broadcast stream-static join, no state). Rows whose stratum is
    * absent from `rates` are DROPPED (rate 0): for sampling, an
    * unlisted source must not leak through at full rate. The join is
    * NULL-SAFE (`<=>`): a null stratum is a real group —
    * [[temperatureRates]] counts it and assigns it a rate, so dropping
    * those rows here would silently shrink the realized fraction below
    * target (and break the α=1 ≡ uniform law on corpora with null
    * sources).
    */
  def applySampleRates(
      df: DataFrame, key: Column, stratum: Column,
      rates: DataFrame): DataFrame =
    df.join(
        F.broadcast(rates.select(
          F.col("stratum").as("__stratum"), F.col("rate").as("__rate"))),
        stratum.cast("string") <=> F.col("__stratum"))
      .where(hashBucket(key, 10000) < F.round(F.col("__rate") * 10000))
      .drop("__stratum", "__rate")

  /** Deterministic stratified sample: keep a row iff its md5 bucket
    * (out of 10 000) falls below the stratum's rate. A stateless
    * map-side filter — no count pass, no sampling shuffle, reproducible
    * on any cluster layout; rates are exact in expectation per stratum.
    */
  def stratifiedHashSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    // round, don't truncate: 0.3 * 10000 is 2999.999... in doubles, so
    // a cast/toLong floors to 2999 and the realized rate is 29.99%
    val threshold = rates.foldLeft(F.lit(math.round(defaultRate * 10000))) {
      case (acc, (value, rate)) =>
        F.when(stratum === value, F.lit(math.round(rate * 10000))).otherwise(acc)
    }
    df.where(hashBucket(key, 10000) < threshold)
  }

  /** Deterministic train/val/test split assignment: bucket =
    * md5(key) % 10000 compared against cumulative per-split thresholds
    * in the given order; the LAST split absorbs the rounding remainder,
    * so every row lands in exactly one split (total + disjoint by
    * construction). Membership is a pure function of the key — stable
    * across runs, layouts, engines, and corpus growth: a doc's split
    * never flips when new data arrives, the property an eval holdout
    * needs to stay uncontaminated over the life of a training program
    * (an rng or modulo-on-row-position split has neither).
    *
    * 100 TB shape: MAP-ONLY column algebra over the scan (one
    * codegen'd md5 + a CASE per row) — no shuffle, no count pass, no
    * state.
    *
    * Output: the input columns plus `split`.
    */
  def splitAssign(
      df: DataFrame, key: Column, splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "splitAssign needs at least 2 splits")
    require(splits.forall(_._2 >= 0.0), "split fractions must be >= 0")
    require(splits.map(_._1).distinct.size == splits.size,
      "split names must be distinct")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split fractions must sum to 1.0 (got $total)")
    // round, don't truncate — same double-representation hazard as
    // stratifiedHashSample's thresholds
    val cuts = splits.init
      .scanLeft(0L) { case (acc, (_, f)) => acc + math.round(f * 10000) }
      .tail
    val bucket = hashBucket(key, 10000)
    val assigned = splits.init.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc match {
          case None    => F.when(bucket < cut, F.lit(name))
          case Some(c) => c.when(bucket < cut, F.lit(name))
        })
    }.get.otherwise(F.lit(splits.last._1))
    df.withColumn("split", assigned)
  }

  /** Leakage-free split: [[splitAssign]] keyed by the near-duplicate
    * CLUSTER instead of the document — the split a held-out eval set
    * actually needs. A per-doc hash split scatters a near-dup pair
    * across train and test with probability 2·p·(1−p); every such
    * pair is soft test-set contamination (the model saw an
    * ~identical doc in training), and on web corpora near-dup rates
    * make that the rule, not the tail. Keying the hash by the
    * cluster representative sends every member of a dup cluster to
    * the SAME split; singletons key by themselves, so their
    * assignment is IDENTICAL to plain [[splitAssign]] — growing the
    * corpus or re-running dedup never flips a clean doc's split.
    *
    * `pairs` is any (doc_a, doc_b) near-dup pair frame (e.g.
    * `Dedup.minhashNearDupPairs(...).where(jaccard ≥ t)`); closure to
    * clusters is [[Dedup.dupClusters]]' GraphX CC, representative =
    * cluster min. 100 TB shape: the CC runs on the PAIR graph (dup
    * pairs, not the corpus), the join back is one shuffle keyed by
    * doc_id, and the split itself stays map-only.
    *
    * Output: input columns + `split_key` (the cluster-or-self key) +
    * `split`.
    */
  def leakFreeSplit(
      docs: DataFrame, pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val clusters = Dedup.dupClusters(pairs)
      .select(F.col("doc_id"), F.col("keeper"))
    val keyed = docs
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("split_key",
        F.coalesce(F.col("keeper"), F.col("doc_id")))
      .drop("keeper")
    splitAssign(keyed, F.col("split_key"), splits)
  }

  /** Executor-side replica of [[hashBucket]]'s EXACT convention (first
    * 8 hex chars of md5 as an unsigned int, mod buckets) for compiled
    * loops — the cross-path law is spec-asserted so the two can't
    * drift. The first 8 hex chars are the first 4 digest bytes,
    * big-endian.
    */
  private[graft] def hashBucketOf(key: String, buckets: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % buckets
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4 reconstructed
    * from the published objective: mask contiguous token spans, replace
    * each with a numbered sentinel in the input, and emit the masked
    * spans after their sentinels — plus a terminal sentinel — as the
    * target), made DETERMINISTIC and layout-independent: instead of an
    * rng + sequential greedy walk, tokens are cut into fixed blocks of
    * `blockSize`, block j of doc d is masked iff
    * md5(d:j) % selectEvery == 0, and the span is the block's first
    * 1 + md5(d:j:len) % maxSpan tokens. Masking is a pure function of
    * (doc_id, position) — any engine, any partitioning, any run
    * reproduces it bit-for-bit (the property rng-based corruption
    * cannot give a distributed pipeline), spans can never overlap by
    * construction, and the expected corruption rate is
    * (1 + (maxSpan-1)/2) / (blockSize · selectEvery) tokens.
    *
    * 100 TB shape: MAP-ONLY over the corpus scan — no shuffle, no
    * state, no rng coordination; composes with [[chunkTokenWindows]]
    * upstream and the packers downstream.
    *
    * Sentinels are `<extra_id_K>` with K dense per doc in block order;
    * the target always ends with the terminal sentinel (equal to
    * n_spans). Null text → (null, null, 0).
    *
    * Output: (doc_id, input, target, n_spans).
    */
  def spanCorrupt(
      docs: DataFrame, blockSize: Int = 8, selectEvery: Int = 4,
      maxSpan: Int = 3): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    require(selectEvery >= 1, s"selectEvery must be >= 1, got $selectEvery")
    require(maxSpan >= 1 && maxSpan <= blockSize,
      s"maxSpan must be in [1, blockSize], got $maxSpan")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        if (text == null) (docId, null: String, null: String, 0L)
        else {
          val ts = TextOps.tokensOf(text)
          val n = ts.length
          val nBlocks = (n + blockSize - 1) / blockSize
          val inParts = scala.collection.mutable.ArrayBuffer.empty[String]
          val tgtParts = scala.collection.mutable.ArrayBuffer.empty[String]
          var k = 0
          var j = 0
          while (j < nBlocks) {
            val start = j * blockSize
            val end = math.min(start + blockSize, n)
            if (hashBucketOf(s"$docId:$j", selectEvery) == 0L) {
              val len = math.min(
                1L + hashBucketOf(s"$docId:$j:len", maxSpan),
                (end - start).toLong).toInt
              val sent = s"<extra_id_$k>"
              val rest = ts.slice(start + len, end)
              inParts +=
                (if (rest.isEmpty) sent else sent + " " + rest.mkString(" "))
              tgtParts += sent + " " + ts.slice(start, start + len).mkString(" ")
              k += 1
            } else inParts += ts.slice(start, end).mkString(" ")
            j += 1
          }
          val input = inParts.filter(_.nonEmpty).mkString(" ")
          val target = (tgtParts :+ s"<extra_id_$k>").mkString(" ")
          (docId, input, target, k.toLong)
        }
      }
      .toDF("doc_id", "input", "target", "n_spans")
  }
}
