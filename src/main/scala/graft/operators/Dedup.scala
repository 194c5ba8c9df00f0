package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for 100 TB-scale corpora (SURVEY.md §7.2
  * step 11): exact (hash groupBy), MinHash+LSH near-dup (shingle →
  * signature → band → bucket join → exact-Jaccard verify), and
  * SimHash. A document's shingles and signature come from one compiled
  * per-document kernel ([[signed]]: one split of the text, no explode,
  * no interpreted higher-order function), so the only shuffles are the
  * band-bucket join and the final aggregation — the shape that
  * survives a 1000× scale-up.
  */
object Dedup {

  /** Materialize `result` eagerly (localCheckpoint stores the rows and
    * truncates the plan), then release the operator-internal caches.
    * Long-lived sessions (Verify runs all 202 queries in one JVM)
    * must not accumulate signature caches; the checkpointed output is
    * bounded by near-dup pair density, not corpus size.
    */
  private def materializeAndRelease(result: DataFrame, caches: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    caches.foreach(_.unpersist(blocking = false))
    out
  }

  /** Exact duplicate groups by normalized-text fingerprint.
    * Output: (fp, n_docs, keeper) — keeper is the smallest doc_id.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(F.col("doc_id"), TextOps.fingerprint(F.col("text")).as("fp"))
      .groupBy("fp")
      .agg(F.count("*").as("n_docs"), F.min("doc_id").as("keeper"))

  /** Word n-gram shingle set (distinct, first-occurrence order): the
    * shingles [[signed]] signs ([[shingleSet]]), null for null text. */
  def shingles(text: Column, n: Int): Column =
    Shim.column(ShingleSet(Shim.expression(text.cast("string")), n))

  /** Signature from pre-hashed shingles (array<long>) — materialize
    * the base hashes in a column first so the string hashing runs
    * once; the function family re-hashes the 8-byte longs with
    * xxhash64(h, i) (no multiply — ANSI mode rejects wraparound).
    */
  def minhashFromHashes(hashCol: Column, numHashes: Int): Column =
    F.array((0 until numHashes).map { i =>
      F.array_min(F.transform(hashCol, h => F.xxhash64(h, F.lit(i))))
    }: _*)

  /** (doc_id, sig) signature frame: the lanes of [[signed]] in a
    * per-partition loop. Bit-identical to
    * `minhashFromHashes(transform(shingles(text), xxhash64))` — Spark's
    * `xxhash64(h, lit(j))` is `XXH64.hashInt(j, XXH64.hashLong(h, 42))`
    * and both statics are called here directly — but the lane loop runs
    * compiled instead of through the interpreted higher-order-function
    * evaluator (measured ~3× faster end-to-end on the near-dup join).
    */
  def minhashSignatures(
      docs: DataFrame, shingleLen: Int, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // null text carries no signature: the row is excluded from
      // near-dup entirely (the compiled loop would NPE; the Column
      // formulation's null signature would band on hash(null) — both
      // wrong answers for "this document has no content to compare")
      .where(F.col("text").isNotNull)
      .select(F.col("doc_id").cast("long"), F.col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, signed(text, shingleLen, numHashes)._1)
      })
      .toDF("doc_id", "sig")
  }

  /** The per-document kernel: one split of `text` ([[TextOps.tokensOf]],
    * the Column path's exact trim/split) gives its distinct
    * `shingleLen`-word shingles ([[shingleSet]]) and their `numHashes`
    * min-lanes. Run on the executors by [[minhashSignatures]] and
    * [[minhashSigned]], and on the driver by the streaming gates'
    * bounded path, so every path signs a document with the same code. */
  private[graft] def signed(text: String, shingleLen: Int,
      numHashes: Int): (Array[Long], Array[UTF8String]) = {
    val sh = shingleSet(text, shingleLen)
    // inner xxhash64 state per shingle (string hash, then the long-lane
    // rehash with the default seed) — shared by lanes
    val inner = sh.map(u => XXH64.hashLong(XXH64.hashUTF8String(u, 42L), 42L))
    val sig = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      var mn = Long.MaxValue
      var i = 0
      while (i < inner.length) {
        val v = XXH64.hashInt(j, inner(i))
        if (v < mn) mn = v
        i += 1
      }
      sig(j) = mn
      j += 1
    }
    (sig, sh)
  }

  /** The distinct `shingleLen`-word shingles of `text`, in
    * first-occurrence order (the order `array_distinct` keeps). Text of
    * fewer than `shingleLen` tokens is one shingle, its tokens joined. */
  private def shingleSet(text: String, shingleLen: Int): Array[UTF8String] = {
    val toks = TextOps.tokensOf(text)
    val seen = new java.util.HashSet[UTF8String]
    val sh = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    def add(s: String): Unit = {
      val u = UTF8String.fromString(s)
      if (seen.add(u)) sh += u
    }
    if (toks.length < shingleLen) add(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + shingleLen <= toks.length) {
        sb.setLength(0)
        var t = i
        while (t < i + shingleLen) {
          if (t > i) sb.append(' ')
          sb.append(toks(t))
          t += 1
        }
        add(sb.toString)
        i += 1
      }
    }
    sh.toArray
  }

  /** [[shingleSet]] as an array column value: [[shingles]]' kernel. */
  private[graft] def shingleData(text: UTF8String, n: Int): ArrayData =
    shArray(shingleSet(text.toString, n))

  private[graft] def shArray(sh: Array[UTF8String]): ArrayData =
    new GenericArrayData(sh.asInstanceOf[Array[Any]])

  /** The stored per-document row of a minhash layout: (doc_id, sig, sh),
    * sig and sh null for null text. */
  private[graft] val SignedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false)),
    StructField("sh", ArrayType(StringType, containsNull = false))))

  /** (doc_id, sig, sh) of every document of `docs` from one [[signed]]
    * pass: the rows a minhash layout stores once per document. */
  private[graft] def minhashSigned(
      docs: DataFrame, shingleLen: Int, numHashes: Int): DataFrame = {
    val in = docs.select(F.col("doc_id").cast("long"), F.col("text").cast("string"))
    Shim.ofRows(docs.sparkSession, in.queryExecution.toRdd.mapPartitions(_.map { r =>
      val id = if (r.isNullAt(0)) null else r.getLong(0)
      if (r.isNullAt(1)) InternalRow(id, null, null)
      else {
        val (sig, sh) = signed(r.getUTF8String(1).toString, shingleLen, numHashes)
        InternalRow(id, UnsafeArrayData.fromPrimitiveArray(sig), shArray(sh))
      }
    }), SignedSchema)
  }

  /** LSH band keys for a (doc_id, sig) frame: explode `bands` rows per
    * doc keyed by (band index, hash of that band's signature slice).
    * Shared by the batch near-dup join and the streaming corpus gate so
    * the banding scheme cannot silently diverge between them.
    */
  def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs
      .withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
      .withColumn("bh", bandHash(F.col("band"), F.col("sig"), rows))
  }

  /** The band key of [[bandKeys]]: hash of (band, that band's `rows`
    * signature lanes). Evaluated per band row by [[bandKeys]] and per
    * document over all bands by [[bandHashes]]. */
  private def bandHash(band: Column, sig: Column, rows: Int): Column =
    F.hash(band, F.slice(sig, band * rows + 1, F.lit(rows)))

  /** Every band key of a signature, in band order, as one array — the
    * [[bandKeys]] explosion folded into a projection, so a driver-local
    * frame evaluates it at planning time. */
  private[graft] def bandHashes(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
      b => bandHash(b, sig, numHashes / bands))
  }

  /** Signature-agreement Jaccard estimate: fraction of matching
    * minhash lanes, rounded to 4. */
  def sigAgreement(sigA: Column, sigB: Column, numHashes: Int): Column =
    F.round(
      F.aggregate(
        F.zip_with(sigA, sigB, (x, y) => F.when(x === y, 1.0).otherwise(0.0)),
        F.lit(0.0), (acc, v) => acc + v) / numHashes, 4)

  /** Candidate-id sets at or below this row count are broadcast into
    * the shingle semi-joins; above it the semi-join shuffles (the
    * candidate set scales with near-dup density — on a boilerplate-
    * heavy corpus an unconditional broadcast is a driver OOM, not a
    * plan choice). The count is measured on the checkpointed candidate
    * frame, so the gate costs a metadata scan, not a recompute.
    */
  private val BroadcastMaxCandidates = 2_000_000L

  /** Shared candidate stage of [[minhashNearDupPairs]] and
    * [[minhashNearDupAgainst]]: banded equi-join of two SLIM
    * (band, bh, id) frames, optional pair predicate (`doc_a < doc_b`
    * for the self-join; none for the cross join), pair-dedup of the
    * 16-byte collision rows, then ONE signature join per side to
    * compute the agreement estimate and apply the floor;
    * localCheckpoint'ed — the candidate set feeds three consumers
    * (the id semi-joins and the verify join), so it materializes once
    * instead of re-running the band shuffle per consumer. Output:
    * (idA, idB, est_jaccard).
    *
    * Why the signatures do NOT ride the band join (changed r9 after a
    * measured spill cliff): the earlier form carried both 64-long sig
    * arrays through the ×bands explosion so the estimate could be
    * computed map-side before the pair dedup — that is
    * corpus × bands × ~520 B of shuffle per side (~7.5 GB/side at the
    * 160× bench), and the moment it stops fitting execution memory
    * the join goes sort-merge-with-spill: the candidates stage
    * measured 13.3 s → 150.6 s at 2× docs WITH exactly-linear
    * collision mass (742k pairs by band occupancy). The slim
    * form shuffles corpus × bands × 24 B band rows plus the
    * collision PAIRS (16 B each — the occupancy-measured linear
    * term), and the sig frames join once per side at corpus size,
    * never ×bands. The trade: low-similarity collisions are now
    * exchanged before the floor prunes them — bounded by the same
    * Σ C(n_bucket, 2) the occupancy diagnostic measures, which is
    * the quantity a sane banding keeps near-linear by construction.
    * The floor-passing output is IDENTICAL (est is a pure pair
    * function, applied per deduped pair).
    */
  private def bandedCandidates(
      a: DataFrame, b: DataFrame, idA: String, idB: String,
      pairFilter: Column, sigsA: DataFrame, sigsB: DataFrame,
      numHashes: Int, estFloor: Double,
      label: String): DataFrame =
    graft.core.Debug.timed(label)(
      a.select("band", "bh", idA)
        .join(b.select("band", "bh", idB), Seq("band", "bh"))
        .where(pairFilter)
        .select(idA, idB)
        .dropDuplicates(idA, idB)
        .join(sigsA.select(F.col("doc_id").as(idA), F.col("sig").as("sig_a")), idA)
        .join(sigsB.select(F.col("doc_id").as(idB), F.col("sig").as("sig_b")), idB)
        .withColumn(
          "est_jaccard",
          sigAgreement(F.col("sig_a"), F.col("sig_b"), numHashes))
        .where(F.col("est_jaccard") >= estFloor)
        .select(idA, idB, "est_jaccard")
        .localCheckpoint())

  /** Shingle only the docs whose ids appear in `ids` (semi-join,
    * broadcast when the candidate count cleared
    * [[BroadcastMaxCandidates]]): the exact-Jaccard verify is bounded
    * by candidate density, never by corpus size — at 100 TB the full
    * corpus is shingled exactly once (in the signature pass), not
    * three times. Output: (doc_id, sh).
    */
  private def shinglesFor(
      docs: DataFrame, ids: DataFrame, broadcastIds: Boolean,
      shingleLen: Int): DataFrame =
    docs
      .join(if (broadcastIds) F.broadcast(ids) else ids,
        Seq("doc_id"), "left_semi")
      .select(F.col("doc_id"), shingles(F.col("text"), shingleLen).as("sh"))

  /** Shared verify stage: join each candidate pair back to its two
    * shingle sets and compute the exact Jaccard, sorted by exact
    * Jaccard descending with the pair ids as the tiebreak. `shA`/`shB`
    * are (doc_id, sh) frames from [[shinglesFor]].
    */
  private def verifyExactJaccard(
      candidates: DataFrame, idA: String, idB: String,
      shA: DataFrame, shB: DataFrame): DataFrame =
    candidates
      .join(shA.select(F.col("doc_id").as(idA), F.col("sh").as("sh_a")), idA)
      .join(shB.select(F.col("doc_id").as(idB), F.col("sh").as("sh_b")), idB)
      .select(
        F.col(idA),
        F.col(idB),
        F.col("est_jaccard"),
        exactJaccard(F.col("sh_a"), F.col("sh_b")).as("jaccard"))
      .orderBy(F.col("jaccard").desc, F.col(idA).asc, F.col(idB).asc)

  /** Exact shingle-set Jaccard, rounded to 4 — the verify of every
    * MinHash near-dup face. */
  private[graft] def exactJaccard(shA: Column, shB: Column): Column =
    F.round(
      F.size(F.array_intersect(shA, shB)).cast("double") /
        F.size(F.array_union(shA, shB)), 4)

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * shingle(n) → signature(numHashes) → `bands` bands of
    * numHashes/bands rows → equi-join on (band, band-hash) → distinct
    * candidate pairs → exact Jaccard on the shingle sets. The band
    * join is the single shuffle; skewed buckets are bounded by AQE
    * (SURVEY.md §7.4). Output: (doc_a, doc_b, est_jaccard, jaccard)
    * sorted by exact Jaccard descending.
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      estFloor: Double = 0.0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // The banded join carries ONLY (band, bh, doc_id): neither the
    // fat shingle arrays NOR the 64-long signatures ride the ×bands
    // explosion (sigs through the band join measured as a spill
    // cliff at the 160× bench — see bandedCandidates). Signatures
    // join back once per side at corpus size for the agreement
    // estimate; shingle sets are recomputed for the final verify
    // join rather than cached — tokenization is cheap, the cache is
    // not. Only the slim (doc_id, 64 longs) signature frame is
    // persisted (the band explosion and both est joins read it).
    val sigs = minhashSignatures(docs, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fill the cache with ONE pass before the self-join: both band-join
    // sides read `sigs`, and two un-materialized scans inside one job
    // race to compute each partition — doubling the signature pass AND
    // everything upstream of `docs` (dedupCorpus feeds a join here)
    graft.core.Debug.timed("minhash signatures")(sigs.count())
    val verified =
      minhashNearDupPairsFromSigs(docs, sigs, shingleLen, numHashes,
        bands, estFloor)
    sigs.unpersist(blocking = false)
    verified
  }

  /** [[minhashNearDupPairs]] with a caller-owned, already-materialized
    * (doc_id, sig) frame — the streaming gate computes ONE signature
    * pass per micro-batch and shares it across the within-batch
    * self-join, the against-state probe, and the append segment
    * (previously three identical passes per batch). `sigs` must be the
    * signatures of exactly `docs` at the same shingleLen/numHashes;
    * the caller persists and releases it.
    */
  private[graft] def minhashNearDupPairsFromSigs(
      docs: DataFrame, sigs: DataFrame, shingleLen: Int,
      numHashes: Int, bands: Int, estFloor: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandKeys(sigs, numHashes, bands)
    val a = banded.select(
      F.col("band"), F.col("bh"), F.col("doc_id").as("doc_a"))
    val b = banded.select(
      F.col("band"), F.col("bh"), F.col("doc_id").as("doc_b"))

    val candidates = bandedCandidates(
      a, b, "doc_a", "doc_b", F.col("doc_a") < F.col("doc_b"),
      sigs, sigs, numHashes, estFloor, "minhash candidates")
    val candIds = candidates.select(F.col("doc_a").as("doc_id"))
      .unionByName(candidates.select(F.col("doc_b").as("doc_id")))
      .distinct()
    val small = candidates.count() <= BroadcastMaxCandidates
    val shTable = shinglesFor(docs, candIds, small, shingleLen)
    val verified = verifyExactJaccard(candidates, "doc_a", "doc_b", shTable, shTable)
    graft.core.Debug.timed("minhash verify")(materializeAndRelease(verified))
  }

  /** End-to-end corpus dedup: drop exact duplicates (keep the smallest
    * doc_id per normalized fingerprint), then drop MinHash near-dups
    * with exact Jaccard ≥ `jaccardThreshold` (keeping the smaller id
    * of each pair). Returns the surviving documents.
    */
  def dedupCorpus(
      docs: DataFrame,
      jaccardThreshold: Double = 0.8,
      shingleLen: Int = 3): DataFrame = {
    val keepers = docs
      .select(F.col("doc_id"), TextOps.fingerprint(F.col("text")).as("fp"))
      .groupBy("fp").agg(F.min("doc_id").as("doc_id"))
      .select("doc_id")
    val exactDeduped = docs.join(keepers, "doc_id")
    // the near-dup stage reads the exact-deduped corpus twice
    // (signatures + shingle verify); cache it for that span only —
    // minhashNearDupPairs materializes its pairs eagerly, so the cache
    // can be dropped as soon as the call returns
    val exactCached = exactDeduped
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 16 bands x 4 rows, not 8x8: at the 0.8 threshold the 8x8
    // S-curve centers too high - a true j=0.89 pair is MISSED with
    // probability (1-0.89^8)^8 ~ 1.8%, i.e. 8x8 silently drops real
    // near-dups. 16x4 bounds the miss at (1-j^4)^16 <= 2e-4 for
    // j >= 0.8 (1e-7 at 0.89); the extra low-sim candidates are
    // pruned map-side by the estFloor before any shuffle.
    // estFloor 3/4·t: the signature-agreement estimate over 64
    // independent lanes has σ = √(j(1−j)/64) ≈ 0.05 at j = t = 0.8, so
    // a true ≥ t pair fails est ≥ 0.6 only at 4σ (P ≈ 3e-5) — while the
    // mass of mid-similarity band collisions (est ≈ 0.3–0.5) is pruned
    // map-side before the dedup shuffle and the fat shingle-verify join
    // (measured ~2.5× less candidate-verify work than floor t/2).
    val pairsDf = minhashNearDupPairs(
      exactCached, shingleLen, numHashes = 64, bands = 16,
      estFloor = 0.75 * jaccardThreshold)
    val nearDupLosers = graft.core.Debug.timed("dedupCorpus losers")(
      pairsDf
        .where(F.col("jaccard") >= jaccardThreshold)
        .select(F.col("doc_b").as("doc_id"))
        .distinct()
        .localCheckpoint())
    exactCached.unpersist(blocking = false)
    exactDeduped.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** [[dedupCorpus]] staged for the streaming gate: returns
    * (survivors, exactCached, sigs) where `exactCached` (the
    * exact-deduped batch) and `sigs` (its signature frame) are LEFT
    * PERSISTED for the caller to reuse — the gate's against-state
    * probe and append segment read both, and recomputing them per
    * consumer was three signature passes and four fingerprint
    * shuffles per micro-batch. Decisions are identical to
    * [[dedupCorpus]] (same stages, same parameters); the caller owns
    * both caches and must unpersist them when the batch is done.
    */
  private[graft] def dedupCorpusSharedSigs(
      docs: DataFrame,
      jaccardThreshold: Double,
      shingleLen: Int,
      numHashes: Int = 64,
      bands: Int = 16): (DataFrame, DataFrame, DataFrame) = {
    val keepers = docs
      .select(F.col("doc_id"), TextOps.fingerprint(F.col("text")).as("fp"))
      .groupBy("fp").agg(F.min("doc_id").as("doc_id"))
      .select("doc_id")
    val exactCached = docs.join(keepers, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = minhashSignatures(exactCached, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Debug.timed("minhash signatures")(sigs.count())
    // same banding + floor as dedupCorpus (16×4 S-curve, 3/4·t floor —
    // see the rationale comments there)
    val pairsDf = minhashNearDupPairsFromSigs(
      exactCached, sigs, shingleLen, numHashes, bands,
      estFloor = 0.75 * jaccardThreshold)
    val nearDupLosers = graft.core.Debug.timed("dedupCorpus losers")(
      pairsDf
        .where(F.col("jaccard") >= jaccardThreshold)
        .select(F.col("doc_b").as("doc_id"))
        .distinct()
        .localCheckpoint())
    (exactCached.join(nearDupLosers, Seq("doc_id"), "left_anti"),
      exactCached, sigs)
  }

  /** Cross-corpus MinHash near-dups: every (corpus doc, reference doc)
    * pair with exact shingle Jaccard computed — the candidate engine
    * behind [[dedupAgainst]], the continual-pretraining shape: new data
    * is deduplicated AGAINST the existing training set, not against
    * itself (the self-join form is [[minhashNearDupPairs]]; both share
    * [[bandKeys]], so the banding schemes cannot diverge). Same scale
    * story as the self-join: slim (id, sig) band frames ride the
    * ×bands explosion, the cross join is a banded EQUI-join, the
    * est-floor prunes map-side before the pair-dedup shuffle, and the
    * exact verify re-joins shingles once per surviving candidate.
    * Output: (doc_id, ref_id, est_jaccard, jaccard) — doc_id from
    * `corpus`, ref_id from `reference`; the id spaces may overlap
    * (different tables), pairs are keyed by the (doc_id, ref_id)
    * combination.
    */
  def minhashNearDupAgainst(
      corpus: DataFrame,
      reference: DataFrame,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      estFloor: Double = 0.0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigsC = minhashSignatures(corpus, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigsR = minhashSignatures(reference, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one-pass cache fill per side (the band join reads each once, the
    // verify join once more — unmaterialized, the scans would race)
    graft.core.Debug.timed("cross-minhash signatures") {
      sigsC.count(); sigsR.count()
    }
    val a = bandKeys(sigsC, numHashes, bands).select(
      F.col("band"), F.col("bh"), F.col("doc_id"))
    val b = bandKeys(sigsR, numHashes, bands).select(
      F.col("band"), F.col("bh"), F.col("doc_id").as("ref_id"))
    val candidates = bandedCandidates(
      a, b, "doc_id", "ref_id", F.lit(true),
      sigsC, sigsR, numHashes, estFloor, "cross-minhash candidates")
    // same measured broadcast gate as the self-join: candidates are
    // checkpointed, so the count is cheap, and a tiny candidate set
    // must not force a full shuffle of a multi-TB reference table
    val small = candidates.count() <= BroadcastMaxCandidates
    val shC = shinglesFor(
      corpus, candidates.select("doc_id").distinct(), small, shingleLen)
    val shR = shinglesFor(
      reference, candidates.select(F.col("ref_id").as("doc_id")).distinct(),
      small, shingleLen)
    val verified = verifyExactJaccard(candidates, "doc_id", "ref_id", shC, shR)
    graft.core.Debug.timed("cross-minhash verify")(
      materializeAndRelease(verified, sigsC, sigsR))
  }

  /** Drop every corpus doc with a reference near-dup at exact Jaccard ≥
    * `jaccardThreshold` — dedup new data against the existing training
    * set (the reference itself is never modified). estFloor at 3/4·t,
    * same σ-reasoning as [[dedupCorpus]]. Returns the surviving corpus
    * rows unchanged.
    */
  def dedupAgainst(
      corpus: DataFrame,
      reference: DataFrame,
      jaccardThreshold: Double = 0.8,
      shingleLen: Int = 3): DataFrame = {
    val losers = minhashNearDupAgainst(
        corpus, reference, shingleLen, numHashes = 64, bands = 16,
        estFloor = 0.75 * jaccardThreshold)
      .where(F.col("jaccard") >= jaccardThreshold)
      .select("doc_id").distinct()
    corpus.join(losers, Seq("doc_id"), "left_anti")
  }

  /** A persisted MinHash band index over a reference corpus — the form
    * a continuously-ingesting pipeline keeps BETWEEN dedup runs, so
    * each new drop pays one signature pass over the NEW docs only,
    * never a re-shingle of the multi-TB training set:
    *
    *   - `bandRows`: (band, bh, doc_id) — the banded join side,
    *     precomputed once (the only state the candidate join touches)
    *   - `refShingles`: (doc_id, sig, sh) — each document's signature
    *     and shingle set, stored once: the agreement estimate and the
    *     exact-Jaccard verify read it for candidate ids only (bounded
    *     semi-join). Null text is stored with a null sig and sh and no
    *     band rows.
    *
    * LSH banding indexes the bands of ONE signature per document
    * (Leskovec, Rajaraman and Ullman, Mining of Massive Datasets
    * §3.4), so no band row carries the signature. Unlike
    * [[graft.operators.Similarity.ivfAppend]] (frozen centroids →
    * recall decays as the distribution drifts), appending here is
    * EXACT: signatures are per-document, so
    * `build(A ∪ B) ≡ append(build(A), B)` — spec-pinned. Build with
    * [[minhashIndexBuild]], query with [[minhashNearDupAgainstIndex]]
    * / [[dedupAgainstIndex]], persist with [[minhashIndexSave]].
    */
  final case class MinhashIndex(
      bandRows: DataFrame, refShingles: DataFrame,
      numHashes: Int, bands: Int, shingleLen: Int)

  /** Band rows (band, bh, doc_id) of a (doc_id, sig, ...) frame; a
    * null signature (null text) bands nowhere. */
  private def bandRowsOf(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandKeys(sigs.where(F.col("sig").isNotNull), numHashes, bands)
      .select("band", "bh", "doc_id")

  def minhashIndexBuild(
      reference: DataFrame, shingleLen: Int = 3, numHashes: Int = 64,
      bands: Int = 16, persist: Boolean = true): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def p(df: DataFrame) =
      if (persist)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val docs = p(minhashSigned(reference, shingleLen, numHashes))
    MinhashIndex(p(bandRowsOf(docs, numHashes, bands)), docs, numHashes,
      bands, shingleLen)
  }

  def minhashIndexRelease(index: MinhashIndex): Unit = {
    index.bandRows.unpersist(blocking = false)
    index.refShingles.unpersist(blocking = false)
  }

  /** Exact incremental maintenance: band rows and shingles of the new
    * docs are unioned in — per-document state, no refit, no drift.
    * The widened frames materialize before the input index's caches
    * drop, so repeated appends hold one copy (same discipline as
    * [[graft.operators.Similarity.ivfAppend]]).
    */
  def minhashIndexAppend(index: MinhashIndex, newDocs: DataFrame): MinhashIndex = {
    val add = minhashIndexBuild(
      newDocs, index.shingleLen, index.numHashes, index.bands,
      persist = false)
    val rows = index.bandRows.unionByName(add.bandRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = index.refShingles.unionByName(add.refShingles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count(); sh.count()
    minhashIndexRelease(index)
    MinhashIndex(rows, sh, index.numHashes, index.bands, index.shingleLen)
  }

  /** Exact removal — the other half of incremental maintenance (an
    * index that can only grow accumulates ghosts of deleted/changed
    * docs and dedups new data against content that no longer exists):
    * one anti join per stored frame keyed by doc_id. Per-document
    * state makes this EXACT too, so the full maintenance law holds —
    *
    *   build(C') ≡ append(remove(build(C), changed ∪ removed),
    *                      changed' ∪ added)
    *
    * for any snapshot transition C → C' (spec-pinned, driven by
    * [[graft.operators.Cdc.corpusDiff]]'s statuses). IVF cannot offer
    * the same law: its centroids were FIT on the removed docs, so
    * removal leaves a quantizer the remaining data never chose.
    */
  def minhashIndexRemove(index: MinhashIndex, ids: DataFrame): MinhashIndex = {
    val key = ids.select(F.col("doc_id").cast("long"))
    val rows = index.bandRows.join(key, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = index.refShingles.join(key, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count(); sh.count()
    minhashIndexRelease(index)
    MinhashIndex(rows, sh, index.numHashes, index.bands, index.shingleLen)
  }

  /** Persist: band rows PARTITIONED BY band (a probe for one band
    * prunes to its partition on the saved layout) + the per-document
    * (doc_id, sig, sh) rows in `shingles` + a meta sidecar stamped with
    * [[LayoutFormat]]. */
  def minhashIndexSave(index: MinhashIndex, path: String): Unit = {
    index.bandRows.select("band", "bh", "doc_id").write.mode("overwrite")
      .partitionBy("band").parquet(s"$path/bands")
    index.refShingles.select("doc_id", "sig", "sh").write.mode("overwrite")
      .parquet(s"$path/shingles")
    graft.api.ArrowSpaceModel.writeSidecar(
      index.bandRows.sparkSession, s"$path/meta.json",
      s"""{"numHashes":${index.numHashes},"bands":${index.bands},""" +
        s""""shingleLen":${index.shingleLen},"format":$LayoutFormat}""")
  }

  def minhashIndexLoad(
      spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex =
    loadBase(spark, path, layoutMeta(spark, path))

  /** The layout [[minhashIndexSave]] writes: band rows (band, bh,
    * doc_id), each signature stored once beside its shingles. A
    * format-1 layout (meta.json without "format") carried the whole
    * signature in every band row; it still loads for the batch faces
    * ([[formatOneFrames]]), and every writer refuses it
    * ([[writableMeta]]). */
  private val LayoutFormat = 2

  private final case class LayoutMeta(
      numHashes: Int, bands: Int, shingleLen: Int, format: Int)

  private def layoutMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): LayoutMeta = {
    val txt = graft.api.ArrowSpaceModel.sidecarText(spark, s"$path/meta.json")
    def intOf(name: String): Option[Int] =
      ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toInt)
    LayoutMeta(intOf("numHashes").get, intOf("bands").get,
      intOf("shingleLen").get, intOf("format").getOrElse(1))
  }

  /** The meta of a layout `who` may write: the gate's appends, the
    * fold and the takedown refuse a format-1 layout, so one layout
    * never mixes formats. */
  private def writableMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, who: String): LayoutMeta = {
    val m = layoutMeta(spark, path)
    require(m.format == LayoutFormat,
      s"$who: $path is a format-${m.format} minhash layout (every band row " +
        "carries the whole signature), and writing to it would mix two " +
        "formats in one layout. Migrate it first, append segments " +
        "included, with minhashIndexSave(minhashIndexLoadWithAppends(" +
        "spark, oldPath), newPath) and point the writer at newPath.")
    m
  }

  private def loadBase(spark: org.apache.spark.sql.SparkSession,
      path: String, m: LayoutMeta): MinhashIndex = {
    val bands = spark.read.parquet(s"$path/bands")
    val docs = spark.read.parquet(s"$path/shingles")
    val (b, d) =
      if (m.format == LayoutFormat) (bands, docs)
      else formatOneFrames(bands, docs, Nil)
    MinhashIndex(b, d, m.numHashes, m.bands, m.shingleLen)
  }

  /** A format-1 layout's frames in the current shape: band 0 holds each
    * signed document's signature once, joined to its shingles on
    * `doc_id` and `keys`; null text has no band rows and keeps a null
    * sig. */
  private def formatOneFrames(bands: DataFrame, shingles: DataFrame,
      keys: Seq[String]): (DataFrame, DataFrame) =
    (bands.select(("band" +: "bh" +: "doc_id" +: keys).map(F.col): _*),
      shingles.join(
          bands.where(F.col("band") === 0)
            .select((("doc_id" +: keys) :+ "sig").map(F.col): _*),
          "doc_id" +: keys, "left")
        .select(("doc_id" +: "sig" +: "sh" +: keys).map(F.col): _*))

  // ---- streamed append segments: the growing-gate state ------------
  //
  // A continuously-ingesting dedup gate must dedup each arrival against
  // EVERYTHING admitted so far — the base corpus AND earlier stream
  // survivors. The saved layout grows the same way the IVF one does
  // ([[graft.streaming.StreamingOps.ivfAppendStream]]): each micro-batch
  // lands its survivors' band rows and (doc_id, sig, sh) rows as a
  // `seg=<batchId>` partition beside the base `bands`/`shingles` dirs,
  // written with dynamic partition overwrite so a REPLAYED batch
  // rewrites its own leaves instead of duplicating them. Unlike IVF
  // there is no frozen model to drift: band rows are per-document, so
  // the appended state is EXACT at any size and a rebuild is never
  // semantically required — compaction ([[minhashCompactAppends]]) is
  // purely a small-files fold.

  /** Rows per file/task for the band-aligned layout writes (append
    * segments and folds): one fold task per 4M rows of a band's history
    * (guide §2.5). A band row is 16 B before compression (band, bh,
    * doc_id), so a full file is ~64 MB. */
  private val bandFoldTargetRows = 4000000L

  /** Write the (doc_id, text) `docs` as append segment `seg` beside a
    * saved [[minhashIndexSave]] layout, signed and shingled in one
    * [[minhashSigned]] pass. Idempotent under replay: dynamic partition
    * overwrite replaces exactly the leaves a previous attempt of the
    * SAME batch wrote (the computation is deterministic, so the
    * rewritten leaves carry identical rows). `docRows`, when the caller
    * has already counted `docs`, bounds the band rows (≤ `bands` per
    * document) so the salted band write skips its own count job.
    */
  private[graft] def minhashAppendSegment(
      docs: DataFrame, path: String, seg: Long,
      shingleLen: Int, numHashes: Int, bands: Int,
      docRows: Option[Long] = None): Unit = {
    val rows = minhashSigned(docs, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashAppendSigned(rows, path, seg, numHashes, bands, docRows)
    finally rows.unpersist(blocking = false)
  }

  /** [[minhashAppendSegment]] over rows already signed as
    * (doc_id, sig, sh) — the driver-decided gate batch hands over the
    * rows it decided on, so an admitted document is shingled once. */
  private[graft] def minhashAppendSigned(
      rows: DataFrame, path: String, seg: Long, numHashes: Int,
      bands: Int, docRows: Option[Long]): Unit = {
    // SHINGLES FIRST: a crash between the two writes must leave the
    // invariant "bands_appends exists ⇒ shingles_appends exists" —
    // [[minhashIndexLoadWithAppends]] keys the has-appends decision on
    // the bands dir, so a first-batch crash after a bands-first write
    // would strand a layout whose load (and therefore the REPLAY that
    // would repair it) throws on the missing shingles dir. This order
    // makes the partial state invisible instead: the replay's own
    // seg < batchId filter already excludes the half-written segment.
    rows.select("doc_id", "sig", "sh")
      .withColumn("seg", F.lit(seg))
      .coalesce(4)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("seg")
      .parquet(s"$path/shingles_appends")
    // band-aligned shuffle before the partitioned write: without it
    // every one of the ~cores input tasks emits a file into every
    // band leaf (cores × bands small files PER BATCH — the untimed
    // majority of the gate's per-batch wall was exactly this file
    // churn); aligned, each leaf gets one file and the state the
    // NEXT batch joins against stays one-file-per-band. Salted within
    // band (guide §2.5, same as the fold): identical one-file-per-band
    // layout at micro-batch sizes, but a backfill replayed through the
    // gate no longer serializes each band's write behind a single task
    SegmentTiers.saltedRepartition(
        bandRowsOf(rows, numHashes, bands), "band", Seq("doc_id"),
        bandFoldTargetRows, knownRows = docRows.map(_ * bands))
      .withColumn("seg", F.lit(seg))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", bandFoldTargetRows)
      .partitionBy("seg", "band")
      .parquet(s"$path/bands_appends")
  }

  /** [[minhashIndexLoad]] plus the streamed append segments: the
    * returned index's band rows / shingles are base ∪ appends with
    * `seg < maxSegExclusive` — called from the gate's foreachBatch with
    * the CURRENT batch id so a replayed batch never dedups against its
    * own partial first-attempt write. Honors the compaction swap
    * marker the same way [[graft.operators.Similarity.ivfLoad]] does:
    * an absent appends dir with the marker present means a fold is
    * mid-swap — wait for it rather than silently serve base-only.
    */
  def minhashIndexLoadWithAppends(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxSegExclusive: Long = Long.MaxValue): MinhashIndex = {
    val m = layoutMeta(spark, path)
    loadWithAppends(spark, path, loadBase(spark, path, m), m.format, None,
      maxSegExclusive, "minhashIndexLoadWithAppends")
  }

  /** Per-epoch cache of the gate's BASE layout — the meta sidecar
    * parse and the two base directory listings (`bands`, `shingles`),
    * all pure functions of the saved base index, which only changes
    * when an offline maintenance op ([[minhashIndexSave]] /
    * [[minhashLayoutRemove]]) rewrites or rename-swaps the dirs.
    * Through r14 every gate micro-batch re-listed both base dirs and
    * re-read meta.json (guide §5 driver work, §6 listing I/O); the
    * appends dirs stay PER-BATCH reads (a new segment commits each
    * batch) but read with the cached explicit schemas, skipping
    * per-batch footer inference. Fingerprint = (mtime, len) of
    * meta.json + mtimes of both base dirs: every rewrite/swap path
    * produces fresh objects, so a takedown between triggers is picked
    * up on the next batch's three getFileStatus probes. Decisions are
    * byte-identical — everything cached is a deterministic function of
    * on-disk state the batch would otherwise re-derive. A format-1
    * layout is refused here, before the batch decides or writes.
    */
  private final case class GateMinhashBase(
      fp: String, base: MinhashIndex,
      bandsAppSchema: org.apache.spark.sql.types.StructType,
      shinglesAppSchema: org.apache.spark.sql.types.StructType)

  private val gateMinhashCache =
    new java.util.concurrent.ConcurrentHashMap[String, GateMinhashBase]()

  private def gateMinhashBase(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : GateMinhashBase = {
    val conf = spark.sessionState.newHadoopConf()
    val mp = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = mp.getFileSystem(conf)
    val mst = fs.getFileStatus(mp)
    val bmt = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$path/bands")).getModificationTime
    val smt = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$path/shingles")).getModificationTime
    val fp = s"${mst.getModificationTime}:${mst.getLen}:$bmt:$smt"
    val cached = gateMinhashCache.get(path)
    if (cached != null && cached.fp == fp) cached
    else graft.core.Debug.timed("mgate state-cache build") {
      val base = loadBase(spark, path,
        writableMeta(spark, path, s"minhashGateStream($path)"))
      val entry = GateMinhashBase(fp, base,
        base.bandRows.schema.add(
          "seg", org.apache.spark.sql.types.LongType),
        base.refShingles.schema.add(
          "seg", org.apache.spark.sql.types.LongType))
      if (gateMinhashCache.size > 8) gateMinhashCache.clear()
      gateMinhashCache.put(path, entry)
      entry
    }
  }

  /** [[minhashIndexLoadWithAppends]] for the gate's per-batch hot
    * path: identical union (base ∪ appends with `seg <
    * maxSegExclusive`), but the base half comes from the per-epoch
    * cache above and the appends reads skip schema inference. Same
    * swap-marker wait and zero-segment handling as the uncached load.
    */
  private[graft] def minhashIndexLoadWithAppendsCached(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxSegExclusive: Long): MinhashIndex = {
    val entry = gateMinhashBase(spark, path)
    loadWithAppends(spark, path, entry.base, LayoutFormat,
      Some((entry.bandsAppSchema, entry.shinglesAppSchema)),
      maxSegExclusive, "minhashIndexLoadWithAppendsCached")
  }

  /** The body of both loads: `base` ∪ the append segments below
    * `maxSegExclusive`, read with the `(bands, shingles)` appends
    * schemas when the caller holds them (skipping footer inference).
    * "Appends present" = BOTH dirs hold seg= leaves: a compaction
    * between its two swap renames leaves bands_appends merged while
    * shingles_appends is briefly absent, and a zero-survivor batch
    * leaves either dir with only _SUCCESS inside. A format-1 layout's
    * segments are read in the current shape ([[formatOneFrames]]). */
  private def loadWithAppends(
      spark: org.apache.spark.sql.SparkSession, path: String,
      base: MinhashIndex, format: Int,
      schemas: Option[(org.apache.spark.sql.types.StructType,
        org.apache.spark.sql.types.StructType)],
      maxSegExclusive: Long, reader: String): MinhashIndex = {
    val bp = new org.apache.hadoop.fs.Path(s"$path/bands_appends")
    val sp = new org.apache.hadoop.fs.Path(s"$path/shingles_appends")
    val fs = bp.getFileSystem(spark.sessionState.newHadoopConf())
    val segs = SegmentTiers.awaitSwap(
        fs, SegmentTiers.swapMarker(s"$path/bands"), s"$reader($path)") {
      val b = SegmentTiers.segLeaves(fs, bp)
      if (b.nonEmpty && SegmentTiers.hasSegs(fs, sp)) b else Nil
    }
    if (segs.isEmpty) base
    else {
      // read-side backstop, same contract as ivfLoad / the sidecar
      // readers (VERDICT r13 #6)
      SegmentTiers.warnUncompacted(bp.toString, segs.size, reader)
      def read(p: org.apache.hadoop.fs.Path,
          schema: Option[org.apache.spark.sql.types.StructType]) =
        schema.fold(spark.read)(spark.read.schema).parquet(p.toString)
          .where(F.col("seg").cast("long") < maxSegExclusive)
      val (b, d) = {
        val (b, d) = (read(bp, schemas.map(_._1)), read(sp, schemas.map(_._2)))
        if (format == LayoutFormat) (b, d) else formatOneFrames(b, d, Seq("seg"))
      }
      MinhashIndex(
        base.bandRows.select("band", "bh", "doc_id").unionByName(
          b.select("band", "bh", "doc_id")),
        base.refShingles.select("doc_id", "sig", "sh").unionByName(
          d.select("doc_id", "sig", "sh")),
        base.numHashes, base.bands, base.shingleLen)
    }
  }

  /** Fold the gate's append segments below `maxSegExclusive` into one
    * merged segment — a small-files compaction, semantics-free (band
    * rows are per-document; queries before and after read the same
    * set). The shared [[SegmentTiers.fold]], as for
    * [[graft.operators.Similarity.ivfCompactAppends]]: the in-flight
    * batch's segment is never folded, the merged segment takes a
    * NEGATIVE id no real batch can rewrite, and both directory swaps
    * happen under `bands_swap_marker`, which
    * [[minhashIndexLoadWithAppends]] waits on. The band fold's salted
    * write takes its row bound from the folded files' Parquet footers,
    * so it runs no count job. Returns the merged band-file count (0 =
    * nothing eligible).
    */
  def minhashCompactAppends(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxSegExclusive: Long = Long.MaxValue,
      tiered: Boolean = false): Int = {
    val who = s"minhashCompactAppends($path)"
    writableMeta(spark, path, who)
    // a segment weighs its band rows: a band leaf holds 16-B rows, so
    // by size a few-document segment is mostly per-file overhead
    SegmentTiers.fold(spark, who, SegmentTiers.swapMarker(s"$path/bands"),
      minhashFoldDirs(spark, path), maxSegExclusive, tiered, byRows = true)
  }

  /** The two dirs [[minhashCompactAppends]] folds, with their writers. */
  private[graft] def minhashFoldDirs(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Seq[SegmentTiers.FoldDir] = {
    def dir(name: String)(
        write: (DataFrame, Long, String, Long => Option[Long]) => Unit) =
      SegmentTiers.FoldDir(new org.apache.hadoop.fs.Path(s"$path/$name"),
        new org.apache.hadoop.fs.Path(s"$path/${name}_tmp"),
        new org.apache.hadoop.fs.Path(s"$path/${name}_old"), write)
    Seq(
      // band-aligned shuffle so each band leaf gets one file — the same
      // reasoning as the IVF fold's cluster repartition. Salted within
      // band (guide §2.5): the band key space is only `bands` values
      // wide, so an unsalted fold of a big corpus runs on ≤ bands tasks
      // with each band's whole history behind one of them.
      dir("bands_appends") { (cur, merged, tmp, rowsUpTo) =>
        SegmentTiers.saltedRepartition(
            cur.select("band", "bh", "doc_id"), "band", Seq("doc_id"),
            bandFoldTargetRows, knownRows = rowsUpTo(bandFoldTargetRows))
          .withColumn("seg", F.lit(merged))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", bandFoldTargetRows)
          .partitionBy("seg", "band")
          .parquet(tmp)
      },
      dir("shingles_appends") { (cur, merged, tmp, _) =>
        cur.select("doc_id", "sig", "sh")
          .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
          .withColumn("seg", F.lit(merged))
          .write.mode("overwrite").partitionBy("seg")
          .parquet(tmp)
      })
  }

  /** Remove documents from a PERSISTED layout in place — the takedown
    * operator (GDPR erasure, licensing retraction, contaminated-drop
    * rollback): anti-join every stored frame — base bands, base
    * shingles, and every streamed append segment — on `doc_id`,
    * rewrite into staging siblings, then swap the changed directories
    * under one marker ([[SegmentTiers.removeRows]]). Band rows are
    * per-document, so removal
    * is EXACT: the post-removal layout equals a cold
    * [[minhashIndexBuild]] over the surviving corpus (the same law
    * [[minhashIndexRemove]] pins for the in-memory form), and removed
    * content can never dedup future arrivals. Append-segment
    * partition values (seg, band) are PRESERVED row-for-row, so the
    * gate's replay contract is untouched — a replayed batch still
    * overlays its own (now thinner) leaves.
    *
    * Run it with the gate stream STOPPED (or between triggers): the
    * swap makes the base dirs briefly absent, which a concurrent load
    * fails on loudly — this is an offline maintenance operator, like
    * [[graft.operators.Similarity.ivfRebuild]]. One deliberate
    * boundary: a gate batch REPLAYED from before the takedown
    * recomputes deterministically and would re-admit a removed
    * survivor — streaming checkpoints never replay committed batches,
    * so this arises only if the checkpoint itself is reset, in which
    * case re-run the takedown after the reprocess. Returns the number
    * of band rows removed.
    */
  def minhashLayoutRemove(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    writableMeta(spark, path, s"minhashLayoutRemove($path)")
    SegmentTiers.removeRows(spark, s"minhashLayoutRemove($path)", path,
      SegmentTiers.swapMarker(s"$path/bands"), ids, "doc_id",
      Seq(("bands", Seq("band")), ("shingles", Nil),
        ("bands_appends", Seq("seg", "band")),
        ("shingles_appends", Seq("seg"))),
      // the scaladoc promises "number of band rows removed" — only the
      // two bands dirs feed that count, so only they pay the
      // before-count job (ADVICE r14: counting the shingles dirs too
      // was a wasted Spark job per removal)
      counted = _.startsWith("bands"),
      guard = ("bands", s"minhashLayoutRemove($path): removal would empty " +
        "the base index — delete the layout instead of removing every document"))
  }

  /** [[minhashNearDupAgainst]] with the reference side PREBUILT: the
    * corpus pays its signature pass, the reference contributes its
    * stored band rows to the candidate equi-join and its stored
    * signatures and shingles to the estimate and the bounded verify. Output contract identical to the
    * two-frame operator (same candidate scheme by construction — the
    * index stores [[bandKeys]] rows).
    */
  def minhashNearDupAgainstIndex(
      corpus: DataFrame, index: MinhashIndex,
      estFloor: Double = 0.0,
      broadcastProbe: Boolean = false): DataFrame = {
    val sigsC = minhashSignatures(corpus, index.shingleLen, index.numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Debug.timed("index-minhash signatures")(sigsC.count())
    val verified = minhashNearDupAgainstIndexFromSigs(
      corpus, sigsC, index, estFloor, broadcastProbe)
    sigsC.unpersist(blocking = false)
    verified
  }

  /** [[minhashNearDupAgainstIndex]] with caller-owned, materialized
    * probe signatures — the gate's share of its single per-batch
    * signature pass. `sigsC` must be the signatures of exactly
    * `corpus` at the index's shingleLen/numHashes. */
  private[graft] def minhashNearDupAgainstIndexFromSigs(
      corpus: DataFrame, sigsC: DataFrame, index: MinhashIndex,
      estFloor: Double = 0.0,
      broadcastProbe: Boolean = false): DataFrame = {
    // broadcastProbe: the probe corpus is known-small (a streaming
    // micro-batch) — broadcasting its slim band keys turns the
    // candidate join into ONE SCAN of the stored band state with NO
    // shuffle of it. Without the hint Catalyst has no stats for
    // either side and sort-merges, re-shuffling the ENTIRE
    // accumulated index every call — the cost that grows with state,
    // not with the batch. Caller opts in because only the caller
    // knows the probe is bounded (a multi-TB drop must NOT broadcast).
    val aRaw = bandKeys(sigsC, index.numHashes, index.bands).select(
      F.col("band"), F.col("bh"), F.col("doc_id"))
    val a = if (broadcastProbe) F.broadcast(aRaw) else aRaw
    val b = index.bandRows.select(
      F.col("band"), F.col("bh"), F.col("doc_id").as("ref_id"))
    val candidates = bandedCandidates(
      a, b, "doc_id", "ref_id", F.lit(true), sigsC,
      index.refShingles.select("doc_id", "sig"), index.numHashes, estFloor,
      "index-minhash candidates")
    val small = candidates.count() <= BroadcastMaxCandidates
    val shC = shinglesFor(
      corpus, candidates.select("doc_id").distinct(), small,
      index.shingleLen)
    val candRef = candidates.select(F.col("ref_id").as("doc_id")).distinct()
    val shR = index.refShingles.select("doc_id", "sh").join(
      if (small) F.broadcast(candRef) else candRef,
      Seq("doc_id"), "left_semi")
    val verified = verifyExactJaccard(candidates, "doc_id", "ref_id", shC, shR)
    graft.core.Debug.timed("index-minhash verify")(
      materializeAndRelease(verified))
  }

  /** [[dedupAgainst]] with a prebuilt index — the incremental-drop
    * shape: estFloor defaults to the same 3/4·t prune. */
  def dedupAgainstIndex(
      corpus: DataFrame, index: MinhashIndex,
      jaccardThreshold: Double = 0.8,
      broadcastProbe: Boolean = false): DataFrame = {
    val losers = minhashNearDupAgainstIndex(
        corpus, index, estFloor = 0.75 * jaccardThreshold,
        broadcastProbe = broadcastProbe)
      .where(F.col("jaccard") >= jaccardThreshold)
      .select("doc_id").distinct()
    corpus.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Asymmetric containment detection — the near-dup class SYMMETRIC
    * Jaccard is blind to: a short document quoted inside a long one
    * has |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but containment |A∩B|/|A| ≈ 1.
    * Quote farms, scraped snippets, and doc-inside-boilerplate all
    * live here, and a MinHash pipeline tuned for Jaccard ≥ 0.8 keeps
    * every one of them. Finds (doc, container) pairs where ≥
    * `minContainment` of doc's distinct n-grams appear in container.
    *
    * Shape: distinct n-grams per doc (one explode), document-
    * frequency prune at `maxDf` (grams in more docs carry no
    * discriminative signal and quadratic join cost — per-gram pair
    * fan-out is bounded by maxDf², the knob that keeps the self-join
    * linear-ish on boilerplate-heavy corpora), one gram equi-join,
    * one pair-count aggregate. CONTRACT: the containment denominator
    * is the doc's KEPT (post-prune) gram count — both sides of every
    * pair see the same prune, and a doc made entirely of >maxDf
    * boilerplate grams has no discriminative content to match on
    * (it drops out with n_grams = 0 rather than fabricating
    * containment from stop-phrases).
    *
    * Output: (doc_id, container_id, shared, n_grams, containment
    * round-4) — both orientations when two docs contain each other;
    * (containment DESC, doc_id, container_id) ordered.
    */
  def containmentPairs(
      docs: DataFrame, n: Int = 6, minContainment: Double = 0.8,
      maxDf: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1; got $n")
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1]; got $minContainment")
    require(maxDf >= 2, s"maxDf must be >= 2 (a df-1 gram can never be shared); got $maxDf")
    // work in gram-HASH space: the df aggregate, the prune join and the
    // pair self-join below only need gram IDENTITY, never the text, so
    // shuffling 8-byte xxhash64 keys instead of ~n·8-byte gram strings
    // cuts every exchange in this operator several-fold (guide: shuffle
    // fewer bytes / narrower types). Same hash-space contract as the
    // minhash band keys (bandKeys' 32-bit bucket hash); 64-bit keys
    // make a colliding gram pair ~2^-64 per comparison.
    val grams = explodedGrams(docs, n)
      .select(F.col("doc_id"), F.xxhash64(F.col("g")).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfOk = grams.groupBy("g")
      .agg(F.count(F.lit(1)).as("df"))
      .where(F.col("df") <= maxDf)
      .select("g")
    val kept = grams.join(dfOk, "g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).as("n_grams"))
    val shared = kept.select(F.col("doc_id"), F.col("g"))
      .join(kept.select(F.col("doc_id").as("container_id"), F.col("g")), "g")
      .where(F.col("doc_id") =!= F.col("container_id"))
      .groupBy("doc_id", "container_id")
      .agg(F.count(F.lit(1)).as("shared"))
    val out = shared.join(sizes, "doc_id")
      .withColumn("containment",
        F.round(F.col("shared").cast("double") / F.col("n_grams"), 4))
      .where(F.col("containment") >= minContainment)
      .select("doc_id", "container_id", "shared", "n_grams", "containment")
      .orderBy(F.col("containment").desc, F.col("doc_id"), F.col("container_id"))
    materializeAndRelease(out, grams, kept)
  }

  /** Transitive near-duplicate clusters: connected components over the
    * near-dup pair graph. Pairwise "drop doc_b" dedup is not transitive
    * (A~B and B~C does not imply A~C — dropping per pair can drop a
    * whole chain or keep conflicting representatives); the standard
    * pipeline contract is "keep ONE doc per duplicate CLUSTER", i.e.
    * per connected component. GraphX connectedComponents labels every
    * vertex with the smallest id in its component, which IS the keeper
    * under the engine's min-id convention. Input: (doc_a, doc_b) pairs
    * (any extra columns ignored); output: (doc_id, keeper) for every
    * document that appears in some pair.
    */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val a = pairs.select(
      F.col("doc_a").cast("long").as("src"),
      F.col("doc_b").cast("long").as("dst"))
    val edges = a
      .unionByName(a.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .withColumn("weight", F.lit(1.0))
    graft.graph.GraphAnalytics.connectedComponents(edges)
      .select(F.col("id").as("doc_id"), F.col("component").as("keeper"))
  }

  /** Eval-set decontamination (the GPT-3/C4-style n-gram overlap
    * filter): drop every corpus document that shares at least one
    * exact word n-gram with any document of `evalDocs`. Shape: the
    * eval side collapses to DISTINCT n-grams (benchmarks are tiny
    * next to a training corpus, so Catalyst broadcasts them; at eval
    * sets too large for a broadcast the same plan degrades to a
    * shuffled left-semi join on the gram), the corpus side explodes
    * lazily and semi-joins — the corpus is never collected, the match
    * set is per-doc-id distinct before the anti-join. Returns the
    * surviving rows of `corpus`.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    // gram-hash keys: the overlap test needs gram identity only, and a
    // 13-word gram string is ~100 B where its xxhash64 is 8 — the
    // corpus-side explode, the distinct and the semi-join all shuffle
    // an order of magnitude fewer bytes (same hash-space contract as
    // containmentPairs; the streaming sibling already accepts bloom
    // false positives, this keeps ~2^-64 instead)
    val gh = (c: Column) => F.xxhash64(c)
    val evalGrams = explodedGrams(evalDocs, n)
      .select(gh(F.col("g")).as("g")).distinct()
    val contaminated = explodedGrams(corpus, n)
      .select(F.col("doc_id"), gh(F.col("g")).as("g"))
      .join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id")
      .distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Per-eval-doc contamination report — the observability face of
    * [[decontaminate]]: for each eval/benchmark document, how many
    * DISTINCT corpus documents share at least one word n-gram with it
    * (0 for clean eval docs, which stay in the output via the left
    * join). This is the question a contamination review actually asks
    * — "which benchmark items leak, and how broadly" — where
    * [[decontaminate]] only answers "which corpus docs to drop".
    *
    * 100 TB shape: both gram sides deduplicate BEFORE the join (the
    * eval side is benchmark-sized; the corpus side's distinct is
    * bounded by distinct (doc, gram) pairs, the same worst case the
    * decontaminate scan already carries), then one equi-join on the
    * gram and a two-level distinct/count aggregation.
    *
    * Output: (eval_doc_id, n_corpus_hits), every eval doc present.
    */
  def contaminationReport(
      corpus: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    // gram-hash keys, same rationale and contract as [[decontaminate]]
    val eg = explodedGrams(evalDocs, n)
      .select(F.col("doc_id").as("eval_doc_id"),
        F.xxhash64(F.col("g")).as("g")).distinct()
    val cg = explodedGrams(corpus, n)
      .select(F.col("doc_id").as("corpus_doc_id"),
        F.xxhash64(F.col("g")).as("g")).distinct()
    val hits = eg.join(cg, "g")
      .select("eval_doc_id", "corpus_doc_id").distinct()
      .groupBy("eval_doc_id")
      .agg(F.count(F.lit(1)).as("n_corpus_hits"))
    evalDocs.select(F.col("doc_id").as("eval_doc_id"))
      .join(hits, Seq("eval_doc_id"), "left")
      .select(F.col("eval_doc_id"),
        F.coalesce(F.col("n_corpus_hits"), F.lit(0L)).as("n_corpus_hits"))
  }

  /** Repeated-span detection — the fixed-width signal of Lee et al.
    * 2021's ExactSubstr pass ("Deduplicating Training Data Makes
    * Language Models Better"): a span is a window of `n` consecutive
    * word tokens, and a span is DUPLICATED when the identical n-token
    * sequence occurs in at least `minDocs` distinct documents. Per
    * document this reports how many windows exist, how many are
    * duplicated, and how many token POSITIONS are covered by at least
    * one duplicated window — the "how much of this page is shared
    * boilerplate" number that decides between stripping spans and
    * dropping pages. Unlike [[explodedGrams]], only FULL windows
    * count: a doc with fewer than `n` tokens has zero windows (the
    * whole-text collapse would fabricate cross-doc matches between
    * short docs of unequal length).
    *
    * 100 TB shape: one window explode (rows = token count, the same
    * scan class as [[decontaminate]]), a gram-keyed distinct +
    * count >= minDocs bounded by DISTINCT grams (partial agg on the
    * slim (g, doc_id) projection), one semi-join back, then per-doc
    * interval-union coverage via a running-max window over sorted
    * start positions (`covered += max(0, n - overlap(prevEnd, s))`) —
    * never a per-token explosion for coverage. Clean docs stay in the
    * output with zeros via the left join from the corpus.
    *
    * Output: (doc_id, n_tokens, n_windows, n_dup_windows,
    * n_dup_tokens), every corpus doc present.
    */
  def dupSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"span width n must be >= 2, got $n")
    require(minDocs >= 2,
      s"minDocs must be >= 2 (a span trivially occurs in its own doc), got $minDocs")
    val t = TextOps.tokens(F.col("text"))
    val toks = docs.where(F.col("text").isNotNull)
      .select(F.col("doc_id"), t.as("t"))
    val wins = toks
      .select(
        F.col("doc_id"), F.col("t"),
        // sequence(a, b) DESCENDS when b < a — guard zero-window docs
        // with an empty array so explode drops them instead
        F.explode(
          F.when(F.size(F.col("t")) >= n,
              F.sequence(F.lit(1), F.size(F.col("t")) - (n - 1)))
            .otherwise(F.array())).as("i"))
      .select(
        F.col("doc_id"), F.col("i"),
        F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), F.lit(n))).as("g"))
    val dupGrams = wins.select("g", "doc_id").distinct()
      .groupBy("g").agg(F.count(F.lit(1)).as("nd"))
      .where(F.col("nd") >= minDocs)
      .select("g")
    val dupWins = wins.join(dupGrams, Seq("g"), "left_semi")
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
      .rowsBetween(Long.MinValue, -1)
    val perDoc = dupWins
      .withColumn("pe", F.max(F.col("i") + (n - 1)).over(sweep))
      .groupBy("doc_id")
      .agg(
        F.count(F.lit(1)).as("n_dup_windows"),
        F.sum(F.greatest(
          F.lit(0L),
          F.lit(n.toLong) - F.greatest(
            F.lit(0L),
            F.coalesce(F.col("pe"), F.lit(0L)) - F.col("i") + 1L)))
          .as("n_dup_tokens"))
    docs
      .select(
        F.col("doc_id"),
        F.when(F.col("text").isNull, 0L)
          .otherwise(F.size(t).cast("long")).as("n_tokens"))
      .withColumn("n_windows",
        F.greatest(F.col("n_tokens") - (n - 1), F.lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        F.col("doc_id"), F.col("n_tokens"), F.col("n_windows"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0L)).as("n_dup_windows"),
        F.coalesce(F.col("n_dup_tokens"), F.lit(0L)).as("n_dup_tokens"))
  }

  /** One-call curation recipe with FIRST-FAIL attribution — the
    * ingest composition a pretraining pipeline actually runs (quality
    * gate → exact dedup → eval-set decontamination), evaluated
    * SEQUENTIALLY: dedup keepers are chosen among quality-passing
    * docs only, and contamination is checked for surviving keepers
    * only — so every doc is charged to the FIRST stage that would
    * have dropped it, the semantics a funnel report needs (group the
    * output by `first_fail` for the attrition table).
    *
    * `qualityPred` is the caller's per-row quality column (compose
    * [[TextOps.gopherFlags]]' `passes`, [[TextOps.qualityFilter]]'s
    * conditions, or any predicate); nulls count as failing.
    *
    * Output: (doc_id, first_fail) for EVERY corpus doc; first_fail ∈
    * {'quality', 'exact_dup', 'contaminated'} or NULL for survivors.
    *
    * 100 TB shape: no new shuffle class beyond the component
    * operators — one fingerprint groupBy over quality survivors, one
    * gram semi-join of keepers against the DISTINCT eval grams (eval
    * side collapses like [[decontaminate]]), and slim doc_id
    * equi-joins to assemble the attribution.
    */
  def curateCorpus(
      corpus: DataFrame, evalDocs: DataFrame, qualityPred: Column,
      n: Int = 13): DataFrame = {
    val q = corpus.select(
      F.col("doc_id"), F.col("text"),
      F.coalesce(qualityPred, F.lit(false)).as("q_ok"))
    val passed = q.where(F.col("q_ok"))
      .select(F.col("doc_id"), F.col("text"),
        TextOps.fingerprint(F.col("text")).as("fp"))
    val keepers = passed.groupBy("fp").agg(F.min("doc_id").as("keeper"))
    val withKeeper = passed.join(keepers, "fp")
      .select("doc_id", "text", "keeper")
    val keeperDocs = withKeeper
      .where(F.col("doc_id") === F.col("keeper"))
      .select("doc_id", "text")
    val evalGrams = explodedGrams(evalDocs, n).select("g").distinct()
    val contaminated = explodedGrams(keeperDocs, n)
      .join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("contam", F.lit(true))
    q.select("doc_id", "q_ok")
      .join(withKeeper.select("doc_id", "keeper"), Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.when(!F.col("q_ok"), "quality")
          .when(F.col("doc_id") =!= F.col("keeper"), "exact_dup")
          .when(F.col("contam"), "contaminated")
          .as("first_fail"))
  }

  /** (doc_id, gram) with one row per word n-gram occurrence — the
    * exploded counterpart of [[shingles]] (docs with < n tokens
    * collapse to one whole-text gram the same way). explode + slice +
    * concat_ws stay in whole-stage codegen, unlike the higher-order
    * `transform` lambda in [[shingles]], which is interpreted per row
    * (measured ~2× on the decontamination scan). Multiplicity is NOT
    * deduplicated — downstream joins must be set-shaped (semi/anti).
    */
  def explodedGrams(docs: DataFrame, n: Int): DataFrame = {
    val t = TextOps.tokens(F.col("text"))
    docs
      // null text carries no grams: without the filter, greatest(null-
      // size - (n-1), 1) = 1 (greatest SKIPS nulls) and concat_ws over
      // a null slice emits one "" gram — a null eval doc would then
      // poison the match set and drop every null/blank corpus doc
      .where(F.col("text").isNotNull)
      .select(F.col("doc_id"), t.as("t"))
      .select(
        F.col("doc_id"), F.col("t"),
        F.explode(F.sequence(
          F.lit(1),
          F.greatest(F.size(F.col("t")) - (n - 1), F.lit(1)))).as("i"))
      .select(
        F.col("doc_id"),
        F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), F.lit(n))).as("g"))
  }

  /** SimHash bit width. 60 (not 64) so every value — hashes, chunk
    * masks, bit shifts — stays strictly below bit 63: no sign games in
    * Spark and no `1 << 63` overflow in the DuckDB oracle.
    */
  val SimhashBits = 60

  /** Deterministic 60-bit token hash: the first 15 hex digits of
    * md5(token). md5 is bit-identical across Spark, the JVM, and
    * DuckDB (`('0x' || substr(md5(t), 1, 15))::BIGINT`), which makes
    * every downstream SimHash value oracle-expressible — unlike
    * xxhash64, which DuckDB cannot evaluate.
    */
  def tokenHash60(token: Column): Column =
    F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash per document from md5-hashed tokens. Tokens are
    * exploded and re-aggregated into 60 ±1 bit-count lanes (one
    * shuffle keyed by doc_id; partial aggregation keeps it map-side-
    * combining, so the exchange carries O(docs × 60 ints) regardless
    * of token count). Measured faster than the no-shuffle higher-order-
    * function formulation — HOF lambdas are interpreted while this
    * whole pipeline stays in whole-stage codegen.
    * Output: (doc_id, simhash: Long).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(
      F.col("doc_id"),
      F.explode(TextOps.tokens(F.col("text"))).as("token"))
      .withColumn("h", tokenHash60(F.col("token")))
    val bitAggs = (0 until SimhashBits).map { b =>
      F.sum(
        F.when(F.shiftright(F.col("h"), b).bitwiseAND(1L) === 1L, 1)
          .otherwise(-1)).as(s"b$b")
    }
    val counted = tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val hashExpr = (0 until SimhashBits)
      .map(b => F.when(F.col(s"b$b") > 0, F.shiftleft(F.lit(1L), b)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    counted.select(F.col("doc_id"), hashExpr.as("simhash"))
  }

  /** Hamming distance between two SimHash values. */
  def hammingDist(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs within Hamming distance
    * `maxDist`, blocked Manku-style (Manku, Jain & Das Sarma 2007,
    * "Detecting near-duplicates for web crawling" §3): the 60 bits
    * split into `nBlocks` chunks, and a candidate key is the
    * CONCATENATION of a (nBlocks − maxDist)-subset of chunk values.
    * Completeness is the same pigeonhole as the classic maxDist+1
    * scheme — ≤ maxDist differing bits touch ≤ maxDist blocks, so at
    * least nBlocks − maxDist blocks are bit-identical and in
    * particular SOME emitted subset is — but the key is now
    * `(nBlocks − maxDist) · 60/nBlocks` bits wide instead of
    * `60/(maxDist+1)`: at the r7 default (7 chunks of ~8.5 bits) a
    * 212k-doc corpus put ~500 docs in every bucket and the candidate
    * join exploded superlinearly (106.8 s at the 40× scale bench,
    * VERDICT r7 #5); the default here (nBlocks = maxDist + 3 → 3-chunk
    * ~20-bit keys, C(9,3)=84 keys/doc at maxDist=6) trades an 84×
    * slim-row key fan-out — a fixed constant, shuffle-friendly — for
    * buckets ~4000× more selective, which is the right side of the
    * trade whenever candidate verification dominates (it does: the
    * verify carries the full simhash per row).
    *
    * `nBlocks` ≤ 0 means the default maxDist + 3 (capped at
    * SimhashBits); nBlocks = maxDist + 1 recovers the classic
    * single-chunk scheme exactly. maxDist = -1 (the default) picks the
    * radius density-aware — UNLESS nBlocks is given, which pins the
    * radius to the long-standing default 6 that the caller's blocking
    * was tuned against (an nBlocks-only call keeps its pre-auto
    * meaning). Output is blocking-independent:
    * (doc_a, doc_b, hamming), hamming ≤ maxDist, deduped, ordered.
    */
  def simhashNearDupPairs(
      docs: DataFrame, maxDist: Int = -1, nBlocks: Int = 0,
      maxCandidatePairs: Long = 2000000000L,
      autoPairsPerDoc: Int = 32): DataFrame = {
    require(maxDist == -1 || (maxDist >= 0 && maxDist < SimhashBits),
      s"maxDist must be in [0, $SimhashBits), or -1 for the " +
        s"density-aware default, got $maxDist")
    require(autoPairsPerDoc > 0,
      s"autoPairsPerDoc must be positive; got $autoPairsPerDoc")
    // DENSITY-AWARE DEFAULT (VERDICT r9 #4): maxDist = -1 measures the
    // candidate mass the gate already computes — the operator has the
    // number in hand BEFORE it chooses to explode — and picks the
    // radius from it: the comfortable d = 6 while the mass stays
    // linear in the corpus (≤ autoPairsPerDoc emitted candidates per
    // doc), falling over to the published billion-doc operating point
    // d = 3 (Manku et al. 2007 run d = 3 on 8B docs) once d = 6's
    // buckets go dense. Measured (history/SCALE_BENCH_r09.json,
    // history/SCALE_BENCH_r09_s80.json): d = 6 walls
    // output-superlinearly on dense corpora (45→143 s at 2× docs)
    // while d = 3 tracks 1.94× at 3× output — the default a naive
    // user gets should be the radius that survives their corpus, with
    // the explicit override untouched. The extra cost of the probe is
    // one aggregation over the persisted signatures per considered
    // radius (no join, no pair emission).
    // nBlocks tunes ONE radius's blocking, so it pins the radius: a
    // caller passing only nBlocks was tuning against the long-standing
    // default maxDist = 6, and that call keeps meaning exactly that
    // (ADVICE r10 — the r10 auto default must not turn a previously
    // valid call into a throw). The density-aware auto applies only
    // when the radius is genuinely unconstrained.
    val auto = maxDist < 0 && nBlocks == 0
    // C(n, k) without overflow drama: acc stays a binomial at each step
    def nChooseK(n: Int, k: Int): Long =
      (0 until k).foldLeft(1L)((acc, i) => acc * (n - i) / (i + 1))
    // the key fan-out is C(nBlocks, nBlocks − maxDist) structs PER ROW,
    // enumerated driver-side into the expression tree — unbounded it is
    // a driver OOM for legal-looking arguments (maxDist=57, default
    // blocks → C(60,3) = 34,220 expressions; explicit nBlocks=60 with
    // maxDist=6 → C(60,54) ≈ 5.0e7 Scala-side before Spark is even
    // involved). 1024 keys/row is ~12× the default's cost; an EXPLICIT
    // nBlocks beyond the cap fails loudly. The DEFAULT uses the wide
    // 3-subset scheme only while it stays a good TRADE, not merely a
    // legal one: past maxDist=8 the subsets get numerous AND the keys
    // narrow (maxDist=16 → 969 keys of ~9.5 bits — 57× the classic
    // scheme's join input with most of the selectivity gone), so
    // larger radii degrade to the classic maxDist+1 single-chunk
    // scheme (always maxDist+1 keys/row).
    val MaxSubsets = 1024L
    // persist the signatures: both sides of the self-join read the
    // cached frame instead of re-evaluating the per-row 64-lane
    // aggregate (higher-order functions are interpreted, not codegen'd)
    val sh = simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    /** Blocking-key rows for one radius: (doc_id, simhash, k) where k
      * is ONE xxhash64 long over (subset index, subset block values).
      * Through r14 the key was a (ss int, kv array<long>) struct —
      * ~56+ B of UnsafeRow per exploded row where 8 B carries the same
      * information (guide §2.3 narrower types/shuffle fewer bytes), on
      * an explosion that emits C(nBlocks, nBlocks−maxDist) (default
      * 84) rows per document; the hashed long also joins/aggregates as
      * a primitive instead of a struct comparison. Completeness is
      * unchanged: equal (ss, kv) ⇒ equal hash, so every true candidate
      * still collides. A cross-subset hash collision (~2⁻⁶⁴ per pair)
      * only ADDS a candidate, which the exact Hamming verify below
      * filters — pair output is identical, not merely
      * almost-identical. (The candidate-mass probe groups by the
      * hashed key, so a collision could in principle merge two
      * buckets' masses — a conservative, ~2⁻⁶⁴ overcount on a bound
      * that is documented as approximate.)
      */
    def keyedAt(d: Int): DataFrame = {
      val b0 =
        if (nBlocks > 0) nBlocks
        else if (d <= 8) math.min(SimhashBits, d + 3)
        else math.min(SimhashBits, d + 1)
      require(b0 > d && b0 <= SimhashBits,
        s"nBlocks must be in ($d, $SimhashBits], got $b0 for maxDist=$d")
      val nSubsets = nChooseK(b0, b0 - d)
      require(nSubsets <= MaxSubsets,
        s"simhashNearDupPairs: C($b0, ${b0 - d}) = $nSubsets blocking keys " +
          "per row would be enumerated into the plan (driver-side). Lower " +
          "nBlocks toward maxDist+1 (wider subsets, fewer keys per row).")
      val base = SimhashBits / b0
      val rem = SimhashBits % b0
      def blockVal(i: Int): Column = {
        val start = i * base + math.min(i, rem)
        val len = base + (if (i < rem) 1 else 0)
        val mask = if (len >= 64) -1L else (1L << len) - 1L
        F.shiftrightunsigned(F.col("simhash"), start).bitwiseAND(F.lit(mask))
      }
      val keyHashes = (0 until b0).combinations(b0 - d).toSeq
        .zipWithIndex.map { case (subset, si) =>
          F.xxhash64((F.lit(si) +: subset.map(blockVal)): _*)
        }
      sh.select(
        F.col("doc_id"), F.col("simhash"),
        F.explode(F.array(keyHashes: _*)).as("k"))
    }
    /** The pre-join bucket pair mass Σ C(n_bucket, 2) — an upper bound
      * on scored candidates (duplicate subset collisions count once
      * per subset — conservative by design). ONE aggregation over the
      * persisted signatures; no join, no pair emission.
      */
    def massOf(keyed: DataFrame): Long = keyed.groupBy("k")
      .agg(F.count(F.lit(1)).as("n"))
      .where(F.col("n") > 1)
      .agg(F.coalesce(F.sum(F.expr("n * (n - 1) DIV 2")), F.lit(0L)))
      .head.getLong(0)
    // pick the radius; remember its mass so the gate below never pays
    // the probe twice for the same blocking
    var knownMass = Option.empty[Long]
    val chosenDist =
      if (!auto) { if (maxDist < 0) 6 else maxDist } // nBlocks-only ⇒ the radius it was tuned for
      else {
        val m6 = massOf(keyedAt(6))
        val budget = autoPairsPerDoc.toLong * math.max(1L, sh.count())
        if (m6 <= budget) { knownMass = Some(m6); 6 }
        else {
          graft.core.Debug.log(
            s"simhash auto: d=6 candidate mass $m6 > $budget " +
              s"(${autoPairsPerDoc}/doc) — falling over to d=3")
          3
        }
      }
    val keyed = keyedAt(chosenDist)
    // CANDIDATE-MASS GATE (VERDICT r8 #1): the operator's cost — and,
    // on dense corpora, its OUTPUT — is bounded below by the bucket
    // pair mass, which grows quadratically in bucket occupancy while
    // the corpus only grows linearly (measured: 4.07× pairs at 2× docs
    // at the 80× scale bench, maxDist = 6). Rather than wall silently
    // at scale, measure the mass BEFORE the join and fail actionably.
    // Long.MaxValue disables the gate (auto mode still measures — the
    // probe is its decision input, the gate is a separate contract).
    if (maxCandidatePairs < Long.MaxValue) {
      val mass = knownMass.getOrElse(massOf(keyed))
      if (mass > maxCandidatePairs) {
        sh.unpersist(blocking = false)
        throw new IllegalArgumentException(
          s"simhashNearDupPairs: blocking buckets hold ~$mass candidate " +
            s"pairs (> maxCandidatePairs=$maxCandidatePairs) at " +
            s"maxDist=$chosenDist — on a corpus this dense the pair " +
            "emission itself is the bottleneck (output grows " +
            "superlinearly in doc count). Tighten the radius toward the " +
            "published billion-doc operating point maxDist=3 (Manku et " +
            "al. 2007), raise maxCandidatePairs explicitly if the cost " +
            "is truly acceptable, or pass Long.MaxValue to disable the " +
            "probe.")
      }
    }
    val a = keyed.select(F.col("k"),
      F.col("doc_id").as("doc_a"), F.col("simhash").as("ha"))
    val b = keyed.select(F.col("k"),
      F.col("doc_id").as("doc_b"), F.col("simhash").as("hb"))
    // Hamming-filter BEFORE deduplicating: the filter is a cheap
    // map-side bit_count on the joined row, while dropDuplicates is a
    // shuffle — the shuffle must only see surviving pairs (near-equal
    // docs match on MANY subsets, so duplicates scale with dup mass).
    val pairs = a.join(b, Seq("k"))
      .where(F.col("doc_a") < F.col("doc_b"))
      .withColumn("hamming", hammingDist(F.col("ha"), F.col("hb")))
      .where(F.col("hamming") <= chosenDist)
      .select("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(F.col("hamming").asc, F.col("doc_a").asc, F.col("doc_b").asc)
    materializeAndRelease(pairs, sh)
  }

  /** Top-N bucket-occupancy core of [[gramOccupancy]] (VERDICT r8
    * #6): given the (key → doc) rows a blocking join would bucket by,
    * report the hottest buckets and the total candidate-pair mass
    * Σ C(n, 2) they imply. Singleton buckets emit no pairs and are
    * dropped BEFORE the ranking (they are the overwhelming majority
    * and carry zero join cost). `keyCols` only orders ties
    * deterministically; the output carries sizes, not keys. One
    * partial-agg shuffle on the slim key projection + a window over
    * the collected top N.
    */
  private def bucketOccupancy(
      keyedDocs: DataFrame, keyCols: Seq[String], topN: Int): DataFrame = {
    require(topN > 0, s"topN must be positive; got $topN")
    val sizes = keyedDocs
      .groupBy(keyCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n_docs"))
      .where(F.col("n_docs") > 1)
      .withColumn("cand_pairs", F.expr("n_docs * (n_docs - 1) DIV 2"))
    val tot = sizes.agg(
      F.coalesce(F.sum("cand_pairs"), F.lit(0L)).as("total_pairs"),
      F.count(F.lit(1)).as("n_hot_buckets"))
    val ord = F.col("n_docs").desc +: keyCols.map(F.col(_).asc)
    val top = sizes.orderBy(ord: _*).limit(topN)
    // the window runs over ≤ topN collected rows — bounded, not a
    // global sort of the bucket table (that happened in the limit)
    val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    top
      .withColumn("rnk", F.row_number().over(w).cast("long"))
      .withColumn("cum_pairs", F.sum("cand_pairs").over(
        w.rowsBetween(Long.MinValue, 0)))
      .crossJoin(F.broadcast(tot))
      .select("rnk", "n_docs", "cand_pairs", "cum_pairs",
        "total_pairs", "n_hot_buckets")
      .orderBy("rnk")
  }

  /** Bucket-occupancy diagnostic for gram-blocked joins
    * ([[containmentPairs]], [[decontaminate]]): the hottest n-grams by
    * document frequency and the candidate-pair mass they imply. This
    * is the measurement that justifies (or sizes) `maxDf`: the top of
    * this table is exactly what the df-prune drops. Output: (rnk,
    * n_docs, cand_pairs, cum_pairs, total_pairs, n_hot_buckets).
    */
  def gramOccupancy(
      docs: DataFrame, n: Int = 6, topN: Int = 20): DataFrame =
    bucketOccupancy(
      explodedGrams(docs, n).distinct(), Seq("g"), topN)

  /** Arbitrary-length exact substring dedup — the FULL ExactSubstr
    * semantics of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): remove every token position that lies
    * inside ANY ≥ `minLen`-token sequence occurring at least
    * `minCount` times across the corpus (within-document repeats
    * count — a page that repeats its own boilerplate twice is a
    * duplicate of itself). Where [[dupSpans]] reports fixed-width
    * per-doc statistics, this emits the actual REMOVAL LIST: maximal
    * spans of duplicated positions, one row per span.
    *
    * Correctness of the windowed reduction (why fixed-`minLen` windows
    * compute the arbitrary-length answer exactly): a position is
    * covered by a repeated span of length s ≥ minLen iff it is covered
    * by a repeated span of length EXACTLY minLen — every length-s
    * repeat contains minLen-windows covering all of its positions,
    * each of which repeats wherever the long span does; conversely a
    * repeated minLen-window is itself a qualifying span. So the
    * covered-position set is the union of duplicated minLen-windows,
    * and the maximal removal spans are that union's contiguous runs
    * (merged with a gaps-and-islands pass). No suffix array needed —
    * the distributed shape is one window explode (rows = token count),
    * one gram-count shuffle bounded by distinct grams, one semi-join
    * back, and a per-doc sort window bounded by the doc's own windows.
    *
    * Output: (doc_id, span_start, span_end, n_tokens) — 1-based
    * inclusive token positions, ordered by (doc_id, span_start).
    * Dropping these spans from each document is exactly the paper's
    * dedup; docs with no duplicated span emit no rows.
    */
  def substringDedupSpans(
      docs: DataFrame, minLen: Int = 50, minCount: Int = 2): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(minCount >= 2,
      s"minCount must be >= 2 (a span trivially occurs once), got $minCount")
    val t = TextOps.tokens(F.col("text"))
    val toks = docs.where(F.col("text").isNotNull)
      .select(F.col("doc_id"), t.as("t"))
    val wins = toks
      .select(
        F.col("doc_id"),
        // sequence(a, b) DESCENDS when b < a — guard sub-window docs
        // with an empty array so explode drops them (same as dupSpans)
        F.explode(
          F.when(F.size(F.col("t")) >= minLen,
              F.sequence(F.lit(1), F.size(F.col("t")) - (minLen - 1)))
            .otherwise(F.array())).as("i"),
        F.col("t"))
      .select(
        F.col("doc_id"), F.col("i").cast("long").as("i"),
        F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), F.lit(minLen))).as("g"))
    // TOTAL occurrences, not distinct docs: Lee et al. count any repeat
    val dupGrams = wins.groupBy("g")
      .agg(F.count(F.lit(1)).as("nocc"))
      .where(F.col("nocc") >= minCount)
      .select("g")
    val dupWins = wins.join(dupGrams, Seq("g"), "left_semi")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    val sweep = byDoc.rowsBetween(Long.MinValue, -1)
    // gaps-and-islands on the covered-position union: window starts
    // sorted per doc; a window opens a NEW island iff its start sits
    // past the furthest covered position so far plus one
    val islands = dupWins
      .withColumn("pe", F.max(F.col("i") + (minLen - 1)).over(sweep))
      .withColumn("new_span",
        F.when(F.col("pe").isNull || F.col("i") > F.col("pe") + 1L, 1L)
          .otherwise(0L))
      .withColumn("span_id",
        F.sum("new_span").over(byDoc.rowsBetween(Long.MinValue, 0)))
    islands
      .groupBy("doc_id", "span_id")
      .agg(
        F.min("i").as("span_start"),
        (F.max("i") + (minLen - 1)).as("span_end"))
      .select(
        F.col("doc_id"), F.col("span_start"), F.col("span_end"),
        (F.col("span_end") - F.col("span_start") + 1L).as("n_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** SemDeDup-style semantic near-dup pairs — the CLUSTER-BLOCKED scale
    * path for embedding-cosine dedup (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic
    * deduplication"): deterministic k-means partitions the corpus into
    * `nClusters` semantic cells, and exact cosine runs only WITHIN a
    * cell. Candidate generation is a shuffled EQUI-join on the cluster
    * id — never a cartesian, never a driver broadcast of the table —
    * so unlike [[Similarity.cosineNearDupPairs]] (exact, gated at
    * [[Similarity.ExactPairsMaxRows]]) this shape survives corpus
    * scale: per-task work is bounded by the largest cell, and the
    * SemDeDup recall contract is explicit — near-dups split across two
    * cells are missed by design (raise `nClusters` for smaller, purer
    * cells; the paper runs K≈11k on 233M docs, i.e. cells of ~20k).
    * Determinism: [[graft.scale.DeterministicKMeans]] (farthest-point
    * seeding from min id, ascending-id sums) makes the cells — and so
    * the answer — a pure function of the data, replayable by the
    * DuckDB oracle.
    * Output: (id_a, id_b, score) with id_a < id_b, cosine ≥ threshold.
    */
  def semanticNearDupPairs(
      emb: DataFrame, threshold: Double, nClusters: Int,
      iters: Int = 10): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val model = graft.scale.DeterministicKMeans.fit(
      emb, nClusters, iters, idCol = "id", vecCol = "vec")
    val assigned = graft.scale.DeterministicKMeans
      .assign(emb, model, idCol = "id", vecCol = "vec")
    val a = assigned.select(F.col("cluster"),
      F.col("id").as("id_a"), F.col("vec").as("vec_a"))
    val b = assigned.select(F.col("cluster"),
      F.col("id").as("id_b"), F.col("vec").as("vec_b"))
    a.join(b, "cluster")
      .where(F.col("id_a") < F.col("id_b"))
      .withColumn("score",
        F.round(graft.functions.VectorFunctions.cosine(
          F.col("vec_a"), F.col("vec_b")), 4))
      .where(F.col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** Prototype pruning (Sorscher et al. 2022, "Beyond neural scaling
    * laws"; the D4 recipe's SSL-prototypes stage): cluster the
    * embedding space with the engine's deterministic k-means, rank
    * each item by squared-L2 distance to its own centroid, and mark
    * the `dropFrac` MOST PROTOTYPICAL items of every cluster (the
    * closest — the easy, redundant examples) for removal, keeping the
    * informative tail. The complement of [[semanticNearDupPairs]]:
    * SemDeDup removes near-identical PAIRS, prototype pruning thins
    * dense cluster CORES even when no pair crosses a similarity
    * threshold.
    *
    * 100 TB shape: k-means fit/assign are the engine's existing
    * scale-path primitives (driver-sized model, broadcast to
    * executors); distance is one broadcast equi-join on the cluster id
    * + a codegen zip_with/aggregate fold; ranking is a per-cluster
    * window — size `nClusters` so clusters stay sort-spill-friendly
    * (~corpus_rows / 10M clusters keeps a cluster's sort inside one
    * task's spillable buffer). Ties (equal distance) break by id, so
    * the verdict is deterministic and oracle-replayable.
    *
    * Output: (id, cluster, dist [squared L2, rounded 4dp], rnk [1 =
    * most prototypical], n_in_cluster, keep) — every input row
    * present; `keep = rnk > ceil(dropFrac * n_in_cluster)`.
    */
  def prototypePrune(
      emb: DataFrame, dropFrac: Double = 0.2, nClusters: Int = 8,
      iters: Int = 10): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"dropFrac must be in [0, 1), got $dropFrac")
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val spark = emb.sparkSession
    import spark.implicits._
    val model = graft.scale.DeterministicKMeans.fit(
      emb, nClusters, iters, idCol = "id", vecCol = "vec")
    val assigned = graft.scale.DeterministicKMeans
      .assign(emb, model, idCol = "id", vecCol = "vec")
    val cents = model.centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cluster", "cvec")
    val d2 = F.aggregate(
      F.zip_with(F.col("vec"), F.col("cvec"), (a, b) => (a - b) * (a - b)),
      F.lit(0.0), (acc, x) => acc + x)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(F.col("d2").asc, F.col("id").asc)
    val cwin = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    assigned
      .join(F.broadcast(cents), "cluster")
      .withColumn("d2", d2)
      .withColumn("rnk", F.row_number().over(win).cast("long"))
      .withColumn("n_in_cluster", F.count(F.lit(1)).over(cwin))
      .select(
        F.col("id"), F.col("cluster"),
        F.round(F.col("d2"), 4).as("dist"),
        F.col("rnk"), F.col("n_in_cluster"),
        (F.col("rnk") > F.ceil(F.lit(dropFrac) * F.col("n_in_cluster")))
          .as("keep"))
  }
}

/** [[Dedup.shingles]] as a Catalyst expression: the shingles of
  * [[Dedup.signed]], compiled into the generated code (the kernel is a
  * static call), null for null text. */
private[graft] final case class ShingleSet(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(text: Any): Any =
    Dedup.shingleData(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.operators.Dedup$$.MODULE$$.shingleData($t, $n)")

  override protected def withNewChildInternal(c: Expression): ShingleSet =
    copy(child = c)
}
