package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import graft.api.ArrowSpaceModel.{readSidecar, sidecarText}
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import scala.reflect.runtime.universe.TypeTag

/** Similarity-search operators over an embedding column
  * (SURVEY.md §7.2 step 11): brute-force cosine top-k as the exact
  * baseline and an LSH-bucketed variant as the scale path. Scoring
  * runs through the native codegen'd cosine kernel
  * (graft.functions.CosineSimilarity), and top-k compiles to
  * TakeOrderedAndProject — partial top-k per partition, no full sort.
  */
object Similarity {

  /** Row bound for the EXACT all-pairs operators (topCosinePairs,
    * cosineNearDupPairs, GraphAnalytics.cosineThresholdEdges). They
    * broadcast the whole table and do N² distance work per call —
    * correct and fast on verification-sized inputs, a driver OOM plus
    * an unpayable FLOP bill on a corpus. The gate is measured (one
    * column-pruned count), mirrors KnnGraph.BruteForceMaxRows, and the
    * error names the scale path; it is a per-call parameter, not a
    * silent fallback, because the scale paths are approximate and an
    * "exact" operator must never quietly change its answer.
    */
  val ExactPairsMaxRows = 100000L

  /** Measured gate for the exact all-pairs operators: throws past
    * `maxRows` with the operator's scale alternative spelled out.
    *
    * The probe is BOUNDED — `limit(maxRows+1).count()` reads at most
    * maxRows+1 rows instead of re-executing the full upstream lineage
    * for an exact count (which doubled the cost of every call on
    * expensive inputs). Callers that already know the row count pass
    * `knownRows` and skip the probe entirely; `maxRows ≥ Int.MaxValue`
    * is the explicit "I accept the cost" opt-out and also skips it.
    */
  private[graft] def requireExactPairsBound(
      df: org.apache.spark.sql.Dataset[_], maxRows: Long, op: String,
      alternative: String, knownRows: Option[Long] = None): Unit = {
    if (maxRows >= Int.MaxValue.toLong) return
    val over = knownRows match {
      case Some(n) => n > maxRows
      case None => df.limit(maxRows.toInt + 1).count() > maxRows
    }
    require(!over,
      s"$op is an EXACT all-pairs operator (broadcast + N² distance " +
        s"work) and is gated at maxRows=$maxRows; input exceeds it. At " +
        s"this scale use $alternative, or raise maxRows explicitly if " +
        "the driver and the N² cost are truly acceptable.")
  }

  /** Exact cosine top-k of `emb` (id, vec) against one query vector.
    * Output: (id, score) descending. One scan, no shuffle beyond the
    * final k-row merge — the right physical shape at any scale.
    */
  def annTopK(emb: DataFrame, query: Array[Double], k: Int): DataFrame = {
    val q = F.typedLit(query)
    emb
      .select(F.col("id"), F.round(cosine(F.col("vec"), q), 4).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** Approximate cosine top-k via BucketedRandomProjectionLSH on
    * L2-normalized vectors (Euclidean distance is monotone in cosine
    * on the unit sphere: d² = 2−2cos). The scale path: candidate set
    * bounded per bucket instead of scanning all N.
    *
    * bucketLength sizing: unit vectors project into [-1, 1], so each
    * table has ~2/bucketLength buckets. The 2.0 default keeps recall
    * high on corpora with little cosine structure (near-orthogonal
    * vectors — nearly a full scan); for CLUSTERED corpora, where LSH
    * actually prunes, size it down (~0.1-0.5) to probe a fraction of
    * the table at the same recall.
    */
  def annTopKLsh(
      emb: DataFrame, query: Array[Double], k: Int, seed: Long = 42L,
      bucketLength: Double = 2.0): DataFrame = {
    val normed = emb
      .select(F.col("id"), l2normalize(F.col("vec")).as("vn"))
      .withColumn("features", array_to_vector(F.col("vn")))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features")
      .setOutputCol("hashes")
      .setBucketLength(bucketLength)
      .setNumHashTables(3)
      .setSeed(seed)
    val model = lsh.fit(normed)
    val qn = {
      val n = math.sqrt(query.map(x => x * x).sum)
      if (n == 0.0) query else query.map(_ / n)
    }
    import org.apache.spark.ml.linalg.Vectors
    model
      .approxNearestNeighbors(normed, Vectors.dense(qn), k)
      .select(
        F.col("id"),
        F.round(F.lit(1.0) - F.col("distCol") * F.col("distCol") / 2.0, 4).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
  }

  /** ±1 sign for signed-random-projection plane `j`, feature `f`:
    * parity of the first hex character of md5("j_f"). Hex digits are
    * uniform over 16 values, 8 of each ascii parity, so the planes are
    * balanced Rademacher — and the SQL oracle derives the identical
    * sign via `ascii(substr(md5(j || '_' || f), 1, 1)) % 2`.
    */
  private def planeSign(j: Int, f: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s"${j}_${f}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0).toInt % 2 == 0) 1L else -1L
  }

  /** Per-dimension (min, max) of an (id, vec) frame in ONE
    * treeAggregate pass — 2·d doubles to the driver, no explode, no
    * shuffle of N·d rows (the posexplode/groupBy(dim) formulation
    * shuffles the corpus re-keyed by dimension; at 100 TB that is the
    * whole table again). min/max are order-independent, so the result
    * is deterministic on any layout.
    */
  def dimStats(emb: DataFrame, dims: Int): (Array[Double], Array[Double]) = {
    val vecs = emb.select(F.col("vec").cast("array<double>"))
      .rdd.map(_.getSeq[Double](0))
    vecs.treeAggregate(
      (Array.fill(dims)(Double.PositiveInfinity),
        Array.fill(dims)(Double.NegativeInfinity)))(
      seqOp = { case ((mn, mx), v) =>
        require(v != null && v.length == dims,
          s"dimStats: expected rectangular $dims-dim vectors")
        var j = 0
        while (j < dims) {
          val x = v(j)
          if (x < mn(j)) mn(j) = x
          if (x > mx(j)) mx(j) = x
          j += 1
        }
        (mn, mx)
      },
      combOp = { case ((a1, b1), (a2, b2)) =>
        var j = 0
        while (j < dims) {
          if (a2(j) < a1(j)) a1(j) = a2(j)
          if (b2(j) > b1(j)) b1(j) = b2(j)
          j += 1
        }
        (a1, b1)
      })
  }

  /** A materialized SQ8 index: `codes` is (id, codes BINARY) — ONE
    * byte per dimension, 8× denser than the float64 vector column —
    * plus the per-dimension (min, max) sidecar the codes were encoded
    * under. At cluster scale the codes table is what lives in memory
    * (or a slim parquet column co-partitioned with the corpus) while
    * the exact vectors stay on parquet, touched only by the bounded
    * rerank join. Build with [[sq8Encode]], query with [[sq8TopK]],
    * drop with [[sq8Release]].
    */
  final case class Sq8Index(
      codes: DataFrame, mins: Array[Double], maxs: Array[Double])

  /** Encode (id, vec) to a materialized SQ8 index (see the faiss-style
    * codec contract on [[sq8TopK]]): one [[dimStats]] treeAggregate
    * pass for the (min, max) sidecar — 2·d doubles on the driver —
    * then one map-only codegen scan ([[graft.functions.Sq8EncodeVec]])
    * producing the d-byte BINARY codes column. `persist=true` (the
    * default) caches the codes for repeated queries — the in-memory
    * analogue of writing them as a parquet sidecar table; one-shot
    * callers pass false and the encode fuses into the query scan.
    * `decode(encode(x))` is bit-identical to the expression-algebra
    * quantizer the DuckDB oracle replays (encode rounds with the same
    * decimal HALF_UP as `F.round` — see [[graft.functions.Sq8Kernels]]).
    */
  def sq8Encode(emb: DataFrame, persist: Boolean = true): Sq8Index = {
    val first = emb.select(F.col("vec")).limit(1).collect()
    require(first.nonEmpty, "sq8Encode: empty corpus — nothing to quantize")
    val dims = first(0).getSeq[Any](0).length
    val (mins, maxs) = dimStats(emb, dims)
    val codes = emb.select(
      F.col("id"),
      graft.functions.VectorFunctions.sq8Encode(
        F.col("vec"), F.typedLit(mins), F.typedLit(maxs)).as("codes"))
    val out =
      if (persist)
        codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else codes
    Sq8Index(out, mins, maxs)
  }

  /** Release an in-memory index's cached codes (no-op when built with
    * persist=false or already released). */
  def sq8Release(index: Sq8Index): Unit =
    index.codes.unpersist(blocking = false)

  /** SQ8 top-k over a materialized index: candidates ranked by
    * asymmetric dequantized cosine — ONE codegen scan over the d-byte
    * codes ([[graft.functions.Sq8CosineDeq]]; the query stays
    * full-precision, dequant is fused into the cosine loop, no
    * intermediate array) — cut to `rerank` by TakeOrderedAndProject,
    * then re-scored against the EXACT vectors in `emb` via a broadcast
    * candidate join. This is the memory-bound scale shape: the scan
    * touches only codes (d bytes/row), and full-precision vectors are
    * read for just `rerank` rows.
    *
    * Approx scores round to 4 decimals BEFORE the candidate cut (ties
    * then break on id), so the candidate set is stable across engines
    * — the contract that makes the operator oracle-replayable.
    * Constant dimensions (max == min) dequantize to the constant.
    *
    * Output: (id, score) — exact cosines of the reranked top-k.
    */
  def sq8TopK(
      index: Sq8Index, emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int): DataFrame =
    codecTopK(sq8Codec(index), emb, query, k, rerank)

  /** SQ8's share of the codec pipeline: the asymmetric dequantized
    * cosine of the d-byte codes against the full-precision query. */
  private[operators] final case class Sq8Query(q: Array[Double])

  private def sq8Codec(index: Sq8Index): Codec[Sq8Query] =
    Codec(index.codes, index.mins.length, hamming = false,
      graft.functions.VectorFunctions.sq8Cosine(F.col("codes"), F.col("q"),
        F.typedLit(index.mins), F.typedLit(index.maxs)),
      q => { val p = Sq8Query(q); _ => p })

  /** Persist an SQ8 index: the codes table as Parquet (a BINARY column
    * compresses to ~d bytes/row — the slim sidecar a 100 TB corpus
    * keeps hot while the float vectors stay cold) plus the per-dim
    * (min, max) stats as a JSON sidecar on the SAME filesystem (see
    * [[ivfSave]] for why not java.nio).
    */
  def sq8Save(index: Sq8Index, path: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    def arr(a: Array[Double]) = a.mkString("[", ",", "]")
    graft.api.ArrowSpaceModel.writeSidecar(
      index.codes.sparkSession, s"$path/stats.json",
      s"""{"dims":${index.mins.length},"mins":${arr(index.mins)},""" +
        s""""maxs":${arr(index.maxs)}}""")
  }

  def sq8Load(spark: org.apache.spark.sql.SparkSession, path: String): Sq8Index = {
    val txt = sidecarText(spark, s"$path/stats.json")
    def arr(name: String): Array[Double] =
      ("\"" + name + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(txt).get
        .group(1).split(",").map(_.toDouble)
    Sq8Index(spark.read.parquet(s"$path/codes"), arr("mins"), arr("maxs"))
  }

  /** MANY queries against one SQ8 index — the batch face of
    * [[sq8TopK]], completing the batch matrix (exact `searchBatch`,
    * IVF `ivfTopKBatch`, SQ8 here): ONE scan of the d-byte codes
    * column scores every (code row × query) pair — the query side is
    * a BROADCAST (bounded by the batch, never a shuffle of the codes)
    * — then the salted two-phase top-k bounds every task and the
    * exact rerank joins `emb` once for all queries' survivors.
    * Candidates are cut per query on round-4 approx scores with id
    * tie-break (the engine's batch parity convention), so the result
    * for each qid equals the single-query [[sq8TopK]] at the same
    * rerank. Queries need (qid, qvec); output (qid, id, score) —
    * exact round-4 cosines, (score DESC, id ASC) per qid.
    */
  def sq8TopKBatch(
      index: Sq8Index, emb: DataFrame, queries: DataFrame, k: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(sq8Codec(index), emb, queries, k, rerank)

  // ------------------------------------------------------- binary codec

  /** 1-bit binary quantization index: one SIGN bit per dimension,
    * packed 64 dims/long — the smallest codec of the public ANN
    * family (64× smaller than the float64 vectors; "binary hashing" /
    * sign-random-projection with the identity projection, the
    * standard first-stage filter in binary-quantization retrieval).
    * codes: (id, bits ARRAY<LONG>), word w bit i = vec(64w+i) > 0.
    */
  final case class BinaryIndex(codes: DataFrame, dims: Int)

  /** Sign-bit packing as a pure-builtin Column (element_at + when +
    * bitwise OR — stays in whole-stage codegen; encode is a one-time
    * map-only pass so expression size, 1 term/dim, is fine). The bit
    * predicate is `x > 0` under SQL ordering semantics, which all
    * three packers share exactly: NULL packs as 0 (the `when` falls
    * through), and NaN packs as 1 — both Spark SQL and DuckDB order
    * NaN above every numeric, so `NaN > 0` is TRUE in both (Java's
    * `>` disagrees; [[packSignBits]] compensates explicitly).
    */
  private def signBitsCol(vec: Column, dims: Int): Column = {
    val words = (dims + 63) / 64
    F.array((0 until words).map { w =>
      val lo = w * 64
      (0 until math.min(64, dims - lo)).map { i =>
        F.when(F.element_at(vec, lo + i + 1) > 0.0, F.lit(1L << i))
          .otherwise(F.lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Driver-side packer — the same SQL-semantics sign predicate as
    * [[signBitsCol]]: Java's `NaN > 0.0` is false, so the NaN case is
    * raised explicitly to match Spark SQL / DuckDB's NaN-above-all
    * ordering (a silent Java-semantics packer would give the query
    * side different bits than the corpus side packed for the same
    * vector).
    */
  private[graft] def packSignBits(v: Array[Double]): Array[Long] = {
    val out = new Array[Long]((v.length + 63) / 64)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0.0 || v(i).isNaN) out(i / 64) |= 1L << (i % 64)
      i += 1
    }
    out
  }

  /** Hamming distance between two packed bit arrays — builtins only
    * (zip_with + xor + bit_count + aggregate), codegen'd end to end. */
  private def hammingCol(bits: Column, qbits: Column): Column =
    F.aggregate(
      F.zip_with(bits, qbits,
        (a, b) => F.bit_count(a.bitwiseXOR(b)).cast("long")),
      F.lit(0L), (acc, x) => acc + x)

  def binaryEncode(emb: DataFrame, persist: Boolean = true): BinaryIndex = {
    // dims from the SMALLEST id (TakeOrderedAndProject, one cheap
    // job) — a bare limit(1) reads whichever partition answers first,
    // so on a ragged corpus the probed width itself was nondeterministic
    val first = emb.select(F.col("id"), F.col("vec"))
      .orderBy(F.col("id").asc).limit(1).collect()
    require(first.nonEmpty, "binaryEncode: empty corpus — nothing to quantize")
    val dims = first(0).getSeq[Any](1).length
    val vecd = F.col("vec").cast("array<double>")
    // per-row width check INSIDE the encode (ADVICE r9): element_at
    // past the end yields NULL, which the sign predicate would pack as
    // 0 — a ragged corpus produced silently corrupt codes where the
    // query faces fail loudly. raise_error keeps the check codegen'd
    // and names the offending row.
    val codes = emb.select(
      F.col("id"),
      F.when(F.size(vecd) === dims, signBitsCol(vecd, dims))
        .otherwise(F.raise_error(F.concat(
          F.lit("binaryEncode: vector for id "),
          F.col("id").cast("string"),
          F.lit(" has "), F.size(vecd).cast("string"),
          F.lit(s" dims but the corpus is encoded at $dims"))))
        .as("bits"))
    val out =
      if (persist)
        codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else codes
    BinaryIndex(out, dims)
  }

  def binaryRelease(index: BinaryIndex): Unit =
    index.codes.unpersist(blocking = false)

  /** Binary-quantized top-k: candidates ranked by HAMMING distance on
    * the packed sign bits — the scan reads dims/8 bytes per row (ONE
    * long at 64 dims) and the distance is xor+popcount, the cheapest
    * candidate filter of the codec family — cut to `rerank` by
    * TakeOrderedAndProject on (hamming ASC, id ASC), then re-scored
    * against the exact vectors like every other codec here. Hamming
    * is an INTEGER, so unlike the rounded-cosine codecs the candidate
    * cut is exactly replayable at ANY operating point — the oracle
    * runs the production (rerank, k), not a degenerate one.
    * Output: (id, score) — exact round-4 cosines.
    *
    * MEASURED CAVEAT (modal corpora): sign bits carry zero
    * information WITHIN a mode — every member of a tight cluster
    * packs the same (or near-same) code, the Hamming cut's k-th
    * distance ties across the whole mode, and the (ham, id) cut is
    * then arbitrary-but-deterministic inside the tie: the 80k-vector
    * scale corpus (32 modes) measured recall@10 of just 0.07 at
    * rerank = 100 and 0.34 at rerank = 1000 while every multi-bit
    * codec read ≥ 0.58 at the same budget. If the corpus is modal,
    * either size `rerank` to the expected tie-class size (≈ N /
    * modes), call [[binaryTopKTieAware]] (detects the tie and widens
    * the cut itself), or — usually best at the same scan cost —
    * encode RESIDUAL signs instead ([[binaryResidualEncode]] +
    * [[ivfBinaryResidualTopK]]: 0.53/0.42 recall@10 at the same r100
    * budget across the 80k/320k points where this codec reads
    * 0.07/0.01 and the tie-aware widening 0.30/0.40). Uniform/spread
    * corpora are unaffected — the same artifacts measure 1.00 recall
    * for this codec on the near-orthogonal oracle corpus.
    */
  def binaryTopK(
      index: BinaryIndex, emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int): DataFrame =
    codecTopK(binaryCodec(index), emb, query, k, rerank)

  /** The 1-bit codecs' payload: the query's packed sign bits — raw
    * signs once per query, or residual signs once per probed list. */
  private[operators] final case class BitsQuery(qbits: Array[Long])

  private def binaryCodec(index: BinaryIndex): Codec[BitsQuery] =
    Codec(index.codes, index.dims, hamming = true,
      hammingCol(F.col("bits"), F.col("qbits")),
      q => { val p = BitsQuery(packSignBits(q)); _ => p })

  /** [[binaryTopK]] with the measured modal-corpus trap defused: when
    * the Hamming cut's LAST distance ties beyond the cut (the whole
    * candidate frontier shares one code — exactly the case where the
    * fixed cut is near-random within the tie and recall collapsed to
    * 0.07 at r100 on the 32-mode scale corpus), the candidate set
    * widens to the FULL tie class before the exact rerank, up to
    * `expandCap` rows (default [[DefaultExpandCapMultiple]]·rerank;
    * ≤ 0 means that default).
    * Detection costs two bounded jobs on the ham frame (the
    * rerank-th distance, then one count at ≤ it); a corpus with no
    * frontier tie pays those probes and returns [[binaryTopK]]'s
    * answer unchanged (spec-pinned). If even the cap cannot hold the
    * tie class, the cut inside the tie stays deterministic-by-id and
    * a warning names the honest fixes (raise the cap, or use a
    * multi-bit codec — 1-bit codes cannot rank within a mode).
    * Output: (id, score) — exact round-4 cosines, like every codec
    * face.
    *
    * MEASURED at scale (history/SCALE_BENCH_r12_recall{40,80,160v}.json,
    * cap = 2× the
    * expected tie class): recall@10 at the r100 budget reads 0.30 at
    * 80k vecs and 0.40 at 320k where the fixed cut reads 0.068 and
    * 0.012 — the widening buys MORE back as tie classes grow with the
    * corpus. Against the 10× blind rerank (0.34 / 0.22 / 0.13 at
    * 80k/160k/320k) it trails slightly at the smallest point and wins
    * from 160k up, at a tenth of the blind rerank's guaranteed
    * candidate volume on tie-free queries.
    */
  def binaryTopKTieAware(
      index: BinaryIndex, emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int, expandCap: Int = 0): DataFrame =
    codecTopK(binaryCodec(index), emb, query, k, rerank,
      widen = Some(Widen(expandCap, "binaryTopKTieAware")))

  // ------------------------------------------- codec search pipeline

  /** What one ANN codec contributes to the shared IVFADC pipeline
    * (Jégou et al. TPAMI'11: probe the lists, scan the codes, cut to
    * `rerank`, rerank with exact cosine, take top k). Every other step
    * lives once, in [[codecTopK]] and [[codecTopKBatch]].
    *  - `codes`: (id, code columns), or (id, cluster, code columns) for
    *    list-relative codes, which then serve as their own lists;
    *  - `dims`: the query width the codes were encoded for;
    *  - `hamming`: the approx score is an integer Hamming distance cut
    *    ascending; otherwise a cosine estimate, rounded to 4 decimals
    *    before the descending cut so candidate sets are stable across
    *    engines (ties break on id either way);
    *  - `approx`: the score over the code columns and payload fields;
    *  - `payload`: per-query state, built once per query, then the
    *    payload row of one probed list given its centroid (null on
    *    flat faces, whose codecs ignore it). Payload classes are
    *    `private[operators]`, not `private`: Spark's generated
    *    serializer calls their accessors, which `private` hides.
    */
  private final case class Codec[P <: Product](
      codes: DataFrame, dims: Int, hamming: Boolean, approx: Column,
      payload: Array[Double] => Array[Double] => P)

  /** IVF scope of a codec search: `nprobe` of `ivf`'s lists,
    * intersected with an optional predicate-kept id set. */
  private final case class Probe(
      ivf: IvfIndex, nprobe: Int, kept: Option[DataFrame] = None)

  /** Tie-aware widening of the candidate cut; `face` names the public
    * entry point in the capped-tie warning. */
  private final case class Widen(expandCap: Int, face: String) {
    /** The widening cap: `expandCap`, or ≤ 0 for the measured default. */
    def cap(rerank: Int): Int = {
      val cap = if (expandCap > 0) expandCap
        else DefaultExpandCapMultiple * rerank
      require(cap >= rerank, s"expandCap ($cap) must be >= rerank ($rerank)")
      cap
    }
  }

  private def requireCut(k: Int, rerank: Int, probe: Option[Probe]): Unit = {
    require(k > 0, s"k must be positive; got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    probe.foreach(p => require(p.nprobe > 0 && p.nprobe <= p.ivf.k,
      s"need 0 < nprobe <= nLists; got nprobe=${p.nprobe} nLists=${p.ivf.k}"))
  }

  // a wrong-width query must fail loudly: the scoring kernels truncate
  // to the shorter array and would return a silently wrong answer
  private def requireDims(label: String, n: Int, dims: Int): Unit =
    require(n == dims, s"$label has $n dims but index was encoded for $dims")

  // centroids are index-ordered by construction (ivfBuild / ivfLoad
  // both emit 0..k-1); fall back to a scan if a construction breaks that
  private def centroidOf(
      cents: Array[(Int, Array[Double])], c: Int): Array[Double] =
    if (c < cents.length && cents(c)._1 == c) cents(c)._2
    else cents.find(_._1 == c).get._2

  /** The codes attached to the (kept) lists — a corpus-sized id join on
    * the slim (id, cluster) lists, done ONCE before any probe join. */
  private def listCodes(c: Codec[_], p: Probe): DataFrame =
    if (c.codes.columns.contains("cluster")) withKept(c.codes, p.kept)
    else withKept(p.ivf.assigned.select("id", "cluster"), p.kept)
      .join(c.codes, "id")

  private def approxCol(c: Codec[_]): Column =
    (if (c.hamming) c.approx else F.round(c.approx, 4)).as("approx")

  /** Single-query core of every codec face: the payload rides as a
    * broadcast row (one per probed list for IVF faces, whose list
    * filter sits below the code scan), candidates are cut by
    * TakeOrderedAndProject (or widened over the frontier tie class),
    * then re-scored against the EXACT vectors through a broadcast
    * candidate join. Output: (id, score) — exact round-4 cosines,
    * (score DESC, id ASC).
    */
  private def codecTopK[P <: Product : TypeTag](
      c: Codec[P], emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int, probe: Option[Probe] = None,
      widen: Option[Widen] = None): DataFrame = {
    requireCut(k, rerank, probe)
    requireDims("query", query.length, c.dims)
    val spark = c.codes.sparkSession
    import spark.implicits._
    val pay = c.payload(query)
    val scan = probe match {
      case None => c.codes.crossJoin(F.broadcast(Seq(pay(null)).toDF()))
      case Some(p) =>
        val probes = ivfProbes(p.ivf, query, p.nprobe)
        val rows = probes.toSeq
          .map(l => (l, pay(centroidOf(p.ivf.centroids, l))))
          .toDF("cluster", "p").select(F.col("cluster"), F.col("p.*"))
        listCodes(c, p).where(F.col("cluster").isin(probes.toSeq: _*))
          .join(F.broadcast(rows), "cluster")
    }
    val scored = scan.select(F.col("id"), approxCol(c))
    val cand = widen match {
      case Some(w) => tieAwareCandidates(scored, rerank, w)
      case None =>
        scored.orderBy(
          if (c.hamming) F.col("approx").asc else F.col("approx").desc,
          F.col("id").asc)
          .limit(rerank).select("id")
    }
    emb.join(F.broadcast(cand), "id")
      .select(F.col("id"),
        F.round(cosine(F.col("vec"), F.typedLit(query)), 4).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** Batch core of every codec face. Queries need (qid, qvec); output
    * (qid, id, score) — exact round-4 cosines, (score DESC, id ASC)
    * per qid, each qid equal to the single-query core at the same
    * parameters whenever the probe selectors agree (batch probes
    * auto-route hierarchically, see [[autoProbesFor]]).
    *
    * SAME physical shape as the proven [[ivfTopKBatch]]: probe
    * selection and the per-query payload run in ONE executor flatMap,
    * and the payload rides THROUGH the probe rows (row-local access in
    * the fan-out join's projection); the codes attach to the lists
    * corpus-side BEFORE the one cluster join, which scores in its own
    * projection. Flat faces cross-join a broadcast payload side
    * instead. Candidates are born in that join and never shuffle before
    * the bounded-heap per-qid cut (or the widened tie-aware cut); one
    * exact rerank join serves all queries' survivors. Earlier cuts that
    * joined (probed × lists) first, shuffled the Q×candidate rows by id
    * to fetch codes, and read the payload from a broadcast relation per
    * candidate row measured 2× (SQ8) to 10× (PQ) SLOWER at the 40×
    * bench than the scans they exist to beat.
    */
  private def codecTopKBatch[P <: Product : TypeTag](
      c: Codec[P], emb: DataFrame, queries: DataFrame, k: Int,
      rerank: Int, probe: Option[Probe] = None,
      widen: Option[Widen] = None): DataFrame = {
    requireCut(k, rerank, probe)
    val spark = c.codes.sparkSession
    import spark.implicits._
    val qs = idVec(queries, "qid", "qvec")
    val typed = qs.as[(Long, Array[Double])]
    val dims = c.dims
    val pay = c.payload
    val scan = probe match {
      case None =>
        val rows = typed.map { case (qid, qv) =>
            requireDims(s"query $qid", qv.length, dims)
            (qid, pay(qv)(null))
          }
          .toDF("qid", "p").select(F.col("qid"), F.col("p.*"))
        c.codes.crossJoin(F.broadcast(rows))
      case Some(p) =>
        val rows = fanOut(typed, identity[(Long, Array[Double])], dims,
            quantizer(p.ivf), p.nprobe)(
            q => { val perList = pay(q._2); (l, cent) => (q._1, l, perList(cent)) })
          .toDF("qid", "cluster", "p")
          .select(F.col("qid"), F.col("cluster"), F.col("p.*"))
        rows.join(listCodes(c, p), "cluster")
    }
    val scored = scan.select(F.col("qid"), F.col("id"), approxCol(c))
    val cand = widen match {
      case Some(w) => tieAwareCandidatesBatch(scored, rerank, w)
      case None =>
        graft.scale.Skew.heapTopKPerKey(
          scored, "qid", "approx", "id", rerank, desc = !c.hamming)
          .select("qid", "id")
    }
    val rescored = cand
      .join(emb.select(F.col("id"), F.col("vec")), "id")
      .join(F.broadcast(qs), "qid")
      .select(F.col("qid"), F.col("id"),
        F.round(cosine(F.col("vec"), F.col("qvec")), 4).as("score"))
    graft.scale.Skew.heapTopKPerKey(rescored, "qid", "score", "id", k)
      .orderBy(F.col("qid"), F.col("score").desc, F.col("id").asc)
  }

  /** Default tie-class widening cap, as a multiple of `rerank`
    * (VERDICT r12 #7 — the last unmeasured knob in the codec family,
    * now measured): sweeping {4, 16, 64}×rerank at the r100 budget on
    * the 32-mode scale corpus reads recall@10 0.213/0.308/0.308 at
    * 80k vectors and 0.131/0.222/0.277 at 320k, with wall FLAT across
    * the sweep (3.0–4.9 s — the bits×queries scan dominates, and
    * [[tieAwareCandidates]] bounds the widening by the TRUE tie-class
    * size, so an oversized cap costs nothing on tie-free corpora).
    * 64× therefore dominates the old 16× default: same cost, +0.055
    * recall where tie classes outgrow 16·rerank. When the tie class
    * outgrows even this (N/modes ≫ 64·rerank), the capped-tie warning
    * fires — set `expandCap` toward N/modes explicitly (the
    * `recall_binary_tieaware_r100` scale row runs there and reads
    * 0.40 at 320k). */
  private[graft] val DefaultExpandCapMultiple = 64

  /** Widened cut of the single-query core ([[binaryTopKTieAware]],
    * [[ivfBinaryTopKTieAware]]) — frontier probe and tie-class
    * expansion over whichever (id, approx Hamming) frame the core
    * scoped (the whole corpus, or the probed lists). */
  private def tieAwareCandidates(
      ham: DataFrame, rerank: Int, w: Widen): DataFrame = {
    val cap = w.cap(rerank)
    // the rerank-th distance: max ham inside the would-be cut (one
    // TakeOrdered job over rerank rows)
    val dMaxRow = ham.orderBy(F.col("approx").asc, F.col("id").asc)
      .limit(rerank).agg(F.max("approx")).head
    if (dMaxRow.isNullAt(0)) ham.select("id") // corpus smaller than rerank
    else {
      val dMax = dMaxRow.getLong(0)
      val nLe = ham.where(F.col("approx") <= dMax).count()
      if (nLe <= rerank) {
        // no frontier tie beyond the cut — the plain cut is exact
        ham.orderBy(F.col("approx").asc, F.col("id").asc)
          .limit(rerank).select("id")
      } else {
        val take = math.min(nLe, cap.toLong).toInt
        if (nLe > cap)
          org.apache.logging.log4j.LogManager.getLogger("graft").warn(
            s"${w.face}: the Hamming frontier at distance " +
              s"$dMax ties across $nLe rows but expandCap=$cap — the " +
              "cut inside the tie is deterministic-by-id, not " +
              "similarity-ranked. Raise expandCap toward the tie-class " +
              "size, or use sq8/PQ codes: 1-bit signs cannot rank " +
              "within a mode.")
        ham.where(F.col("approx") <= dMax)
          .orderBy(F.col("approx").asc, F.col("id").asc)
          .limit(take).select("id")
      }
    }
  }

  /** Widened cut of the batch core (every tie-aware batch face):
    * per-qid frontier distance = max ham inside the would-be rerank
    * cut, widened cut keeps every row at/inside the frontier capped at
    * `cap`, cut-inside-the-tie deterministic by id. Takes the
    * UNPERSISTED (qid, id, approx Hamming) frame, owns its
    * persist/unpersist (released in a finally — a throw mid-probe must
    * not leak the largest frame in the face), and emits the capped-tie
    * diagnostic from the already-materialized candidate frame
    * (≤ cap·|queries| rows — never an extra pass over ham).
    */
  private def tieAwareCandidatesBatch(
      hamRaw: DataFrame, rerank: Int, w: Widen): DataFrame = {
    val cap = w.cap(rerank)
    val ham = hamRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand =
      try {
        val dmax = graft.scale.Skew
          .heapTopKPerKey(ham, "qid", "approx", "id", rerank, desc = false)
          .groupBy("qid").agg(F.max("approx").as("dmax"))
          .localCheckpoint()
        val inFront = ham.join(F.broadcast(dmax), "qid")
          .where(F.col("approx") <= F.col("dmax"))
        graft.scale.Skew
          .heapTopKPerKey(inFront, "qid", "approx", "id", cap, desc = false)
          .select("qid", "id")
          .localCheckpoint()
      } finally ham.unpersist(blocking = false)
    val nAtCap = cand.groupBy("qid")
      .agg(F.count(F.lit(1)).as("n")).where(F.col("n") >= cap).count()
    if (nAtCap > 0)
      org.apache.logging.log4j.LogManager.getLogger("graft").warn(
        s"${w.face}: $nAtCap queries' Hamming frontiers " +
          s"tie up to (or beyond) expandCap=$cap — their cut inside " +
          "the tie is deterministic-by-id, not similarity-ranked. " +
          "Raise expandCap toward the tie-class size, or use sq8/PQ " +
          "codes: 1-bit signs cannot rank within a mode.")
    cand
  }

  /** Batch face of [[binaryTopK]]: ONE scan of the bits column scores
    * every (code row × query) pair against a BROADCAST query side,
    * per-query candidate cut through the bounded-heap top-k
    * ((hamming ASC, id ASC) — exact integer order), one exact-rerank
    * join for all survivors. Queries need (qid, qvec); output
    * (qid, id, score), (score DESC, id ASC) per qid — each qid equals
    * the single-query [[binaryTopK]] at the same rerank (spec-pinned).
    * [[binaryTopK]]'s modal-corpus caveat applies per query; batch
    * workloads on modal corpora should size rerank to the tie-class
    * size (≈ N / modes — see [[binaryTopKTieAware]]).
    */
  def binaryTopKBatch(
      index: BinaryIndex, emb: DataFrame, queries: DataFrame, k: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(binaryCodec(index), emb, queries, k, rerank)

  /** Batch face of [[binaryTopKTieAware]] — the production shape for
    * mining workloads on modal corpora, where the fixed-rerank batch
    * cut collapses hardest (measured,
    * history/SCALE_BENCH_r12_recall{40,80,160v}.json: plain
    * r100 recall@10 reads 0.068 at 80k vecs and 0.012 at 320k as the
    * per-mode tie class grows, while this face reads 0.30 / 0.40 at
    * the SAME r100 budget — just under the 10× blind rerank's 0.34 at
    * 80k, 3× above its 0.13 at 320k). Per qid the output equals the single-query face at
    * the same (k, rerank, expandCap) — spec-pinned: the per-qid
    * frontier distance is the rerank-th (ham ASC, id ASC) element,
    * the widened cut keeps every row at/inside the frontier capped at
    * `expandCap` (≤ 0 means the measured default,
    * [[DefaultExpandCapMultiple]]·rerank), and the exact rerank runs on
    * raw vectors. Cost: the one bits×queries scan is re-read for the
    * frontier probe and the widened cut (persisted between passes);
    * candidates are bounded by cap·|queries|.
    */
  def binaryTopKBatchTieAware(
      index: BinaryIndex, emb: DataFrame, queries: DataFrame, k: Int,
      rerank: Int, expandCap: Int = 0): DataFrame =
    codecTopKBatch(binaryCodec(index), emb, queries, k, rerank,
      widen = Some(Widen(expandCap, "binaryTopKBatchTieAware")))

  /** Persist / load a binary index: codes Parquet + a dims sidecar
    * (same filesystem rules as [[sq8Save]]). */
  def binarySave(index: BinaryIndex, path: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    graft.api.ArrowSpaceModel.writeSidecar(
      index.codes.sparkSession, s"$path/stats.json",
      s"""{"dims":${index.dims}}""")
  }

  def binaryLoad(
      spark: org.apache.spark.sql.SparkSession, path: String): BinaryIndex =
    BinaryIndex(spark.read.parquet(s"$path/codes"),
      binaryDims(spark, path, residual = false))

  /** The dims of a saved binary layout, refusing the other sign family:
    * a residual layout's bits are signs of (vec − centroid), not raw
    * signs, so the two must never load as each other. */
  private def binaryDims(
      spark: org.apache.spark.sql.SparkSession, path: String,
      residual: Boolean): Int = {
    val txt = readSidecar(spark, s"$path/stats.json").getOrElse(
      throw new IllegalArgumentException(
        s"no stats.json sidecar under $path — not a saved binary layout"))
    require(txt.contains("\"residual\":true") == residual,
      if (residual)
        s"$path holds a RAW-sign layout (binarySave) — load with binaryLoad"
      else s"$path holds a RESIDUAL-sign layout (binaryResidualSave) — its " +
        "bits are signs of (vec − centroid), not raw signs; load with " +
        "binaryResidualLoad and query through ivfBinaryResidualTopK")
    intField(txt, "dims")
  }

  /** The integer `"name":N` field of a JSON sidecar. */
  private def intField(txt: String, name: String): Int =
    ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(txt).get.group(1).toInt

  /** Every number after the `"name":` key of a JSON sidecar — the
    * row-major matrix fields (PQ codebooks, rotations). */
  private def numbersAfter(txt: String, name: String): Array[Double] =
    "-?\\d+(?:\\.\\d+(?:[eE][+-]?\\d+)?)?".r
      .findAllIn(txt.substring(txt.indexOf("\"" + name + "\":")))
      .map(_.toDouble).toArray

  /** Residual-sign binary index: `codes` is (id, cluster, bits) —
    * sign bits of the RESIDUAL `vec − centroid(cluster)` under a
    * frozen IVF quantizer. The principled fix for the 1-bit codec's
    * measured modal-corpus collapse (see [[binaryTopK]]'s caveat):
    * raw sign bits carry zero information WITHIN a tight mode (every
    * member packs the same code and the Hamming cut ties across the
    * whole mode — recall@10 read 0.07 at r100 on the 32-mode scale
    * corpus), but a mode's members differ exactly in their residuals,
    * whose signs are informative — the same centroid-relative move
    * that takes PQ to residual-PQ (Jégou et al.'s IVFADC), applied to
    * the cheapest codec. Same dims/8 bytes/row scan, same integer cut
    * key (exactly replayable at ANY operating point), but the Hamming
    * distance now RANKS within modes instead of tying. Honest limit:
    * 1 bit/dim is a COARSE ranker — the best same-mode neighbor's
    * residual correlation is small (≈ 2/√dims by chance alignment),
    * so expect "recovers meaningful recall where raw signs read ~0",
    * not multi-bit quality; spec-pinned at raw=0 vs residual≥3 of 10
    * on an 8-mode fixture, measured at scale in the recall rows. For
    * real within-mode quality use SQ8/PQ — this face is for budgets
    * where only dims/8 bytes/row is affordable. The quantizer is
    * frozen (the layout contract shared with every composed face);
    * queries must probe through the SAME `ivf` the encode used.
    */
  final case class BinaryResidualIndex(codes: DataFrame, dims: Int)

  def binaryResidualEncode(
      ivf: IvfIndex, persist: Boolean = true): BinaryResidualIndex = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val dims = ivfDims(ivf)
    require(dims > 0, "binaryResidualEncode: index has no centroids")
    val cents = ivf.centroids.toSeq.toDF("cluster", "cvec")
    val vecd = F.col("vec").cast("array<double>")
    val resid = F.zip_with(vecd, F.col("cvec"), (a, b) => a - b)
    // same per-row width guard as binaryEncode: element_at past the
    // end yields NULL → silently corrupt codes without it
    val codes = ivf.assigned
      .join(F.broadcast(cents), "cluster")
      .select(F.col("id"), F.col("cluster"),
        F.when(F.size(vecd) === dims, signBitsCol(resid, dims))
          .otherwise(F.raise_error(F.concat(
            F.lit("binaryResidualEncode: vector for id "),
            F.col("id").cast("string"),
            F.lit(" has "), F.size(vecd).cast("string"),
            F.lit(s" dims but the index is built at $dims"))))
          .as("bits"))
    val out =
      if (persist)
        codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else codes
    BinaryResidualIndex(out, dims)
  }

  def binaryResidualRelease(index: BinaryResidualIndex): Unit =
    index.codes.unpersist(blocking = false)

  /** Persist / load the residual layout — the [[binarySave]] shape
    * (`codes/` + stats sidecar, so [[codesLayoutRemove]] covers its
    * takedown too) with a `residual` marker so the raw and residual
    * families cannot be confused at load time. */
  def binaryResidualSave(index: BinaryResidualIndex, path: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    graft.api.ArrowSpaceModel.writeSidecar(
      index.codes.sparkSession, s"$path/stats.json",
      s"""{"dims":${index.dims},"residual":true}""")
  }

  def binaryResidualLoad(
      spark: org.apache.spark.sql.SparkSession,
      path: String): BinaryResidualIndex =
    BinaryResidualIndex(spark.read.parquet(s"$path/codes"),
      binaryDims(spark, path, residual = true))

  /** IVF + residual-sign binary: the probed lists bound WHICH rows
    * scan, the residual sign bits bound WHAT the scan reads AND rank
    * within each mode. Per probed list the query packs its OWN
    * residual signs against that list's centroid (nprobe driver-side
    * packs riding a broadcast — query-independent state never
    * reships), candidates cut on (hamming ASC, id ASC) — exact
    * integer order, oracle-replayable at PRODUCTION pruning like
    * [[ivfBinaryTopK]] — then the usual exact rerank.
    * Output: (id, score) — exact round-4 cosines.
    */
  def ivfBinaryResidualTopK(
      ivf: IvfIndex, index: BinaryResidualIndex, emb: DataFrame,
      query: Array[Double], k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopK(residualBinaryCodec(index), emb, query, k, rerank,
      Some(Probe(ivf, nprobe)))

  private def residualBinaryCodec(
      index: BinaryResidualIndex): Codec[BitsQuery] =
    Codec(index.codes, index.dims, hamming = true,
      hammingCol(F.col("bits"), F.col("qbits")),
      q => cv => BitsQuery(
        packSignBits(Array.tabulate(q.length)(i => q(i) - cv(i)))))

  /** Batch face of [[ivfBinaryResidualTopK]] — the
    * [[ivfBinaryTopKBatch]] shape with per-(qid, probed list)
    * residual query bits packed on the EXECUTORS in the probe
    * selection flatMap; one codes join on cluster scores every
    * (candidate, query) pair, bounded-heap per-qid cut, one exact
    * rerank join. Per qid equals the single-query face at the same
    * (k, nprobe, rerank) whenever the two probe selectors agree: the
    * single face probes flat ([[ivfProbes]]) while this face routes
    * hierarchically when the index carries a [[TwoLevelHier]]
    * ([[autoProbesFor]]) — so parity is unconditional on flat-built
    * indexes and on hierarchies with ≤ [[DefaultCoarseCells]]
    * non-empty coarse cells (the spec-pinned configurations), and
    * approximate beyond that where cell pruning may drop a list the
    * flat scan would have probed.
    */
  def ivfBinaryResidualTopKBatch(
      ivf: IvfIndex, index: BinaryResidualIndex, emb: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopKBatch(residualBinaryCodec(index), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** Tie-aware batch face of the residual codec — the fifth column of
    * the tie-aware matrix (VERDICT r13 #4): the
    * [[ivfBinaryResidualTopKBatch]] probe shape (the shared
    * [[codecTopKBatch]] core, so the plain and widened faces cannot
    * drift) feeds the SAME batch widening core as every other
    * tie-aware face ([[tieAwareCandidatesBatch]]): per-qid Hamming
    * frontier + capped tie-class widening, cut-inside-the-tie
    * deterministic by id, then the exact rerank. Residual signs
    * already rank WITHIN a mode, so the frontier tie classes widening
    * exploits are far rarer than under raw signs — whether widening
    * buys recall at the r-budget was measured in
    * history/SCALE_BENCH_r13_recall{40,160v}_b.json before anything
    * could default to it; this face exists for corpora whose
    * residual distributions still tie. Same expandCap contract (≤ 0
    * means [[DefaultExpandCapMultiple]]·rerank) and the same
    * probe-selector parity caveat as the plain batch face.
    */
  def ivfBinaryResidualTopKBatchTieAware(
      ivf: IvfIndex, index: BinaryResidualIndex, emb: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int,
      expandCap: Int = 0): DataFrame =
    codecTopKBatch(residualBinaryCodec(index), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)),
      Some(Widen(expandCap, "ivfBinaryResidualTopKBatchTieAware")))

  /** Composed IVF + binary: the probed lists bound WHICH rows scan,
    * the 1-bit codes bound WHAT the scan reads (dims/8 bytes/row) —
    * the same composition contract as [[ivfSq8TopK]] with the
    * cheapest codec. Candidates cut on (hamming ASC, id ASC) — exact
    * integer order, so the operator oracles at its PRODUCTION
    * pruning, then the usual exact rerank. Size `nprobe` with
    * [[suggestNprobe]]; [[binaryTopK]]'s modal-corpus tie caveat
    * applies inside the probed lists too.
    */
  def ivfBinaryTopK(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame,
      query: Array[Double], k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopK(binaryCodec(bin), emb, query, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** FILTERED [[ivfBinaryTopK]] — see [[ivfSq8TopKWhere]]: the
    * predicate-matching id set intersects the probed lists BEFORE the
    * hamming cut, so the dims/8-byte scan and the exact rerank touch
    * only matching rows. Same degenerate contract and under-return
    * rule as the codec siblings.
    */
  def ivfBinaryTopKWhere(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, query: Array[Double], k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopK(binaryCodec(bin), emb, query, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** [[ivfBinaryTopK]] with [[binaryTopKTieAware]]'s widening applied
    * INSIDE the probed lists — the composed face's documented caveat
    * ("the modal-corpus tie trap applies inside the probed lists
    * too") defused the same way: the frontier probe and tie-class
    * expansion run on the probe-bounded (id, ham) frame, so a mode
    * that dominates a probed list no longer collapses the cut. At
    * nprobe = nLists this equals [[binaryTopKTieAware]] row for row
    * (spec-pinned). Same expandCap contract (≤ 0 means
    * [[DefaultExpandCapMultiple]]·rerank).
    */
  def ivfBinaryTopKTieAware(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame,
      query: Array[Double], k: Int, nprobe: Int, rerank: Int,
      expandCap: Int = 0): DataFrame =
    codecTopK(binaryCodec(bin), emb, query, k, rerank,
      Some(Probe(ivf, nprobe)),
      Some(Widen(expandCap, "ivfBinaryTopKTieAware")))

  /** FILTERED [[ivfBinaryTopKTieAware]] — the predicate-matching id
    * set intersects the probed lists BEFORE the frontier probe (the
    * same pre-scan intersection as [[ivfBinaryTopKWhere]]), so the
    * rerank-th distance, the tie class, and the widened cut are all
    * computed over MATCHING rows only — a post-filter would instead
    * let non-matching rows consume the frontier and under-return.
    * Same degenerate contract and under-return rule as the codec
    * siblings.
    */
  def ivfBinaryTopKTieAwareWhere(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, query: Array[Double], k: Int, nprobe: Int,
      rerank: Int, expandCap: Int = 0): DataFrame =
    codecTopK(binaryCodec(bin), emb, query, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))),
      Some(Widen(expandCap, "ivfBinaryTopKTieAwareWhere")))

  /** Batch face of [[ivfBinaryTopKTieAware]] — completing the
    * tie-aware matrix (VERDICT r12 #5: mining workloads are batch,
    * and the composed single face is where the measured widening win
    * lives). The [[ivfBinaryTopKBatch]] probe shape (executor probe
    * selection, bits attached to the slim lists BEFORE the probe
    * fan-out) feeds the SAME batch widening core as the flat face
    * ([[tieAwareCandidatesBatch]] — shared so the faces cannot
    * drift): per qid the output equals the composed single face at
    * the same (k, nprobe, rerank, expandCap) whenever the probe
    * selectors agree — unconditional on flat-built indexes and on
    * hierarchies with ≤ [[DefaultCoarseCells]] non-empty coarse cells
    * (the spec-pinned configurations; this face routes
    * hierarchically via [[autoProbesFor]], the single face probes
    * flat), approximate beyond that; at nprobe = nLists it equals
    * [[binaryTopKBatchTieAware]] row for row. Same expandCap
    * contract (≤ 0 means [[DefaultExpandCapMultiple]]·rerank).
    */
  def ivfBinaryTopKBatchTieAware(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerank: Int, expandCap: Int = 0): DataFrame =
    codecTopKBatch(binaryCodec(bin), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)),
      Some(Widen(expandCap, "ivfBinaryTopKBatchTieAware")))

  /** FILTERED [[ivfBinaryTopKBatchTieAware]] — one predicate-filtered
    * id join on the slim lists before the bits attach, so every qid's
    * frontier and tie class see matching rows only. */
  def ivfBinaryTopKBatchTieAwareWhere(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int, expandCap: Int = 0): DataFrame =
    codecTopKBatch(binaryCodec(bin), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))),
      Some(Widen(expandCap, "ivfBinaryTopKBatchTieAwareWhere")))

  /** Batch face of [[ivfBinaryTopK]] — the [[ivfSq8TopKBatch]] shape
    * with bit codes: probe selection on the executors, bits attached
    * to the lists by a corpus-sized id join BEFORE the one probe
    * fan-out join (whose projection computes xor+popcount row-locally
    * against the query bits riding the probe rows), bounded-heap
    * per-query cut on (hamming ASC, id ASC), one exact rerank join.
    * Each qid equals the single-query [[ivfBinaryTopK]] at the same
    * parameters (spec-pinned).
    */
  def ivfBinaryTopKBatch(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopKBatch(binaryCodec(bin), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** Batch face of [[ivfBinaryTopKWhere]] — one predicate-filtered id
    * join on the slim lists before the bits attach; per-qid parity
    * with the single-query face spec-pinned. Same under-return
    * contract as the codec siblings.
    */
  def ivfBinaryTopKBatchWhere(
      ivf: IvfIndex, bin: BinaryIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(binaryCodec(bin), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** One-shot SQ8 cosine top-k — the memory-bound ANN scale path (the
    * standard "SQ8" codec of the public ANN literature, e.g. faiss's
    * ScalarQuantizer: per-dimension min/max, 8-bit codes, asymmetric
    * distance): each dimension is affinely mapped to a 0..255 code
    * (`round((x−min)·255/(max−min))`), candidates are ranked by
    * cosine(query, DEQUANTIZED vector) — the query stays full-
    * precision — and the top `rerank` survivors are re-scored against
    * the exact vectors.
    *
    * Convenience composition of [[sq8Encode]] (unpersisted — a single
    * query reads the corpus once either way, so the encode fuses into
    * the candidate scan) and the indexed [[sq8TopK]]; repeated-query
    * callers build the index once instead.
    */
  def sq8TopK(
      emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int = 100): DataFrame = {
    requireCut(k, rerank, None) // before the encode pays its scan
    sq8TopK(sq8Encode(emb, persist = false), emb, query, k, rerank)
  }

  /** A materialized PQ index: `codes` is (id, codes BINARY) — ONE byte
    * per SUBSPACE, i.e. m bytes/row against d·8 for the float64 column
    * (64× denser at m=8, d=64) — plus the [m][ksub][dsub] codebooks
    * (m·ksub·dsub doubles of driver-side state, e.g. 8·16·8 = 1 KiB).
    * The third member of the codec family (exact → SQ8 → PQ), the
    * standard product-quantization design of the public ANN literature
    * (Jégou et al. TPAMI'11; faiss IndexPQ). Codebooks are trained by
    * [[graft.scale.DeterministicKMeans]] per subspace, so encode and
    * scoring are exactly oracle-replayable. Build with [[pqBuild]],
    * query with [[pqTopK]], drop with [[pqRelease]].
    */
  final case class PqIndex(
      codes: DataFrame, books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ksub: Int = books.headOption.map(_.length).getOrElse(0)
    def dsub: Int =
      books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    private[operators] def flat: Array[Double] = books.flatten.flatten
  }

  /** Train per-subspace codebooks and encode the corpus: `m`
    * DeterministicKMeans fits over the sliced columns (each fit's
    * input is N×dsub — the slices ride the SAME cached corpus scan,
    * and a coarse-quantizer-sized input takes the driver-local fast
    * path), then ONE map-only codegen scan ([[graft.functions
    * .PqEncodeVec]]) producing the m-byte BINARY codes column.
    * Same normalization contract as [[ivfBuild]]: cosine scoring
    * assumes L2-normalized input at build AND query time.
    *
    * dims must divide evenly into `m` subspaces; `ksub` ≤ 256 so a
    * code fits one byte.
    */
  def pqBuild(
      emb: DataFrame, m: Int, ksub: Int, iters: Int = 10,
      persist: Boolean = true, trainPerCode: Int = 256): PqIndex = {
    require(m > 0, s"m must be positive; got $m")
    require(ksub > 0 && ksub <= 256, s"ksub must be in 1..256; got $ksub")
    val first = emb.select(F.col("vec")).limit(1).collect()
    require(first.nonEmpty, "pqBuild: empty corpus — nothing to quantize")
    val dims = first(0).getSeq[Any](0).length
    require(dims % m == 0,
      s"pqBuild: $dims dims do not split into $m equal subspaces")
    val dsub = dims / m
    val base = emb
      .select(F.col("id"), F.col("vec").cast("array<double>").as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one deterministic sample shared by all m subspace fits — the
      // codebooks must come from the SAME rows or the quantizer loses
      // its per-row product structure over the training set; the
      // filter rides the persisted base scan (trainSample contract:
      // inert at oracle scale, fit-linearizing at corpus scale)
      val fitBase = trainSample(base, trainPerCode.toLong * ksub)
      val books = Array.tabulate(m) { s =>
        val sub = fitBase.select(
          F.col("id"), F.slice(F.col("vec"), s * dsub + 1, dsub).as("x"))
        graft.scale.DeterministicKMeans.fit(sub, ksub, maxIter = iters).centers
      }
      val idx = PqIndex(null, books)
      val codes = base.select(
        F.col("id"),
        graft.functions.VectorFunctions.pqEncode(
          F.col("vec"), F.typedLit(idx.flat), m, ksub).as("codes"))
      val out =
        if (persist) {
          val p = codes.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          p.count() // materialize so `base` can be dropped on exit
          p
        } else codes.localCheckpoint() // sever lineage from the dropped cache
      idx.copy(codes = out)
    } finally base.unpersist(blocking = false)
  }

  /** Release an in-memory index's cached codes. */
  def pqRelease(index: PqIndex): Unit =
    index.codes.unpersist(blocking = false)

  /** Per-query ADC dot table: lutDot[s·ksub+j] = ⟨q_s, c_sj⟩ — m·ksub
    * doubles, computed once per query (driver-side for single
    * queries, in the probe flatMap for batches). Also the per-list
    * cross table of [[pqResidualBuild]] (q = a centroid). */
  private def lutDotOf(
      books: Array[Array[Array[Double]]], q: Array[Double]): Array[Double] = {
    val m = books.length
    val ksub = books.headOption.map(_.length).getOrElse(0)
    val dsub = books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        val c = books(s)(j)
        var d = 0.0
        var f = 0
        while (f < dsub) { d += q(s * dsub + f) * c(f); f += 1 }
        out(s * ksub + j) = d
        j += 1
      }
      s += 1
    }
    out
  }

  /** Query-independent half of the ADC tables: lutN2[s·ksub+j] =
    * ‖c_sj‖² — a pure codebook property, computed once driver-side and
    * shipped as ONE literal (m·ksub doubles) the kernel reads in
    * place. The batch paths carry only the per-query dot LUT through
    * their probe/broadcast rows — half the payload of shipping both
    * tables per query. */
  private def codebookNormsOf(
      books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val ksub = books.headOption.map(_.length).getOrElse(0)
    val dsub = books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        val c = books(s)(j)
        var n2 = 0.0
        var f = 0
        while (f < dsub) { n2 += c(f) * c(f); f += 1 }
        out(s * ksub + j) = n2
        j += 1
      }
      s += 1
    }
    out
  }

  /** PQ top-k: asymmetric-distance scoring over the m-byte codes — the
    * per-subspace dot/norm² lookup tables (m·ksub doubles) are
    * computed ONCE on the driver and ride into the codegen scan as a
    * broadcast payload row and a literal, so each row costs m
    * byte-indexed table reads, never a loop over the original dims —
    * cut to `rerank` candidates on the round-4 approx score (id
    * tie-break, the engine's stable-candidate convention), then
    * re-scored against the EXACT vectors in `emb`
    * via a broadcast candidate join. The approx score IS
    * cosine(query, reconstruction), so recall depends only on
    * quantization error, not on a separate scoring approximation.
    *
    * Output: (id, score) — exact round-4 cosines of the reranked
    * top-k, (score DESC, id ASC).
    */
  def pqTopK(
      index: PqIndex, emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int): DataFrame =
    codecTopK(pqCodec(index, None), emb, query, k, rerank)

  /** PQ's (and OPQ's) payload: the per-query ADC dot table and ‖q‖. */
  private[operators] final case class LutQuery(lutd: Array[Double], qnorm: Double)

  /** The ADC codec over `index`'s codes. `rot` (OPQ) rotates the query
    * into the codes' coordinates for the tables only: the exact rerank
    * keeps the raw query against the raw vectors (cosine is
    * rotation-invariant), so the rerank scan never computes a rotation.
    * lutN2 is query-independent ([[codebookNormsOf]]) — one literal,
    * not a per-query payload column. */
  private def pqCodec(
      index: PqIndex, rot: Option[Array[Array[Double]]]): Codec[LutQuery] = {
    val books = index.books
    Codec(index.codes, index.m * index.dsub, hamming = false,
      graft.functions.VectorFunctions.pqAdcCosine(F.col("codes"),
        F.col("lutd"), F.typedLit(codebookNormsOf(books)), F.col("qnorm")),
      q => {
        val lq = rot.fold(q)(rotateVec(q, _))
        val p = LutQuery(lutDotOf(books, lq),
          math.sqrt(graft.functions.VectorKernels.normSq(lq)))
        _ => p
      })
  }

  /** Persist a PQ index: the m-byte codes as Parquet plus the
    * codebooks as a JSON sidecar on the same filesystem. */
  def pqSave(index: PqIndex, path: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    val books = index.books.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    graft.api.ArrowSpaceModel.writeSidecar(
      index.codes.sparkSession, s"$path/books.json",
      s"""{"m":${index.m},"ksub":${index.ksub},"dsub":${index.dsub},""" +
        s""""books":$books}""")
  }

  def pqLoad(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val txt = sidecarText(spark, s"$path/books.json")
    val (m, ksub, dsub) =
      (intField(txt, "m"), intField(txt, "ksub"), intField(txt, "dsub"))
    val flat = numbersAfter(txt, "books")
    require(flat.length == m * ksub * dsub,
      s"pqLoad: sidecar has ${flat.length} codebook values, " +
        s"expected ${m * ksub * dsub}")
    val books = Array.tabulate(m, ksub)((s, j) =>
      flat.slice((s * ksub + j) * dsub, (s * ksub + j + 1) * dsub))
    PqIndex(spark.read.parquet(s"$path/codes"), books)
  }

  /** MANY queries against one PQ index — completing the batch matrix
    * (exact `searchBatch`, IVF `ivfTopKBatch`, SQ8 `sq8TopKBatch`, PQ
    * here). The ADC win in batch shape: per query the m·ksub
    * dot/norm² lookup tables are built ONCE — on the EXECUTORS via a
    * map over the query frame (never a driver loop over Q), 2·m·ksub
    * doubles per query (~8 KB at m=8/ksub=64) — then ONE scan of the
    * m-byte codes scores every (row, query) pair at m table reads
    * each, the queries riding as a broadcast. Salted per-query cut on
    * round-4 approx (id tie-break), one exact rerank join for all
    * queries' survivors: each qid's rows equal the single-query
    * [[pqTopK]] at the same rerank (spec-pinned). Queries need
    * (qid, qvec); output (qid, id, score) — exact round-4 cosines,
    * (score DESC, id ASC) per qid.
    */
  def pqTopKBatch(
      index: PqIndex, emb: DataFrame, queries: DataFrame, k: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(pqCodec(index, None), emb, queries, k, rerank)

  // ---- OPQ: rotated product quantization ---------------------------

  /** Parametric OPQ rotation (Ge et al. CVPR'13 §4, the non-iterative
    * solution; faiss OPQMatrix's PCA init): a PCA basis with its
    * dimensions PERMUTED so each of the m subspaces receives a
    * balanced share of the spectrum — eigen-dimensions (descending
    * eigenvalue) greedily assigned to the subspace with the smallest
    * running log-eigenvalue product that still has room. Any
    * orthogonal rotation preserves cosine (⟨Rx, Rq⟩ = ⟨x, q⟩,
    * ‖Rx‖ = ‖x‖), so rotated-space PQ estimates the SAME similarity,
    * with quantization error rebalanced away from the raw slicing's
    * accident of which correlated dims share a slice. The PCA basis
    * is re-orthonormalized with modified Gram-Schmidt (driver-side
    * F×F) so the rotation is orthogonal to machine precision even
    * when power iteration stopped short on a flat spectrum — cosine
    * preservation must not depend on eigensolver convergence.
    * Deterministic end to end. Returns R row-major: output dim i of a
    * rotated vector = ⟨R(i), x⟩.
    */
  def opqRotation(
      emb: DataFrame, m: Int, pcaIters: Int = 60): Array[Array[Double]] = {
    val first = emb.select(F.col("vec")).limit(1).collect()
    require(first.nonEmpty, "opqRotation: empty corpus")
    val dims = first(0).getSeq[Any](0).length
    require(dims % m == 0,
      s"opqRotation: $dims dims do not split into $m subspaces")
    rotationFromPca(graft.scale.Pca.fit(emb, "vec", dims, dims, pcaIters), m)
  }

  /** [[opqRotation]] from PERSISTED PCA moments
    * ([[graft.scale.Pca.moments]] sidecars merged with
    * [[graft.scale.Pca.mergeMoments]]) — the per-drop refit: each
    * shard's O(F²) accumulator persists beside it, and a new drop
    * refits the rotation (and anything built on it) WITHOUT
    * rescanning history. Identical to the one-shot fit up to FP
    * reassociation (the spec pins 1e-6): moment addition is the same
    * arithmetic the one-shot treeAggregate performs in
    * nondeterministic order.
    */
  def opqRotationFromMoments(
      acc: Array[Double], nFeatures: Int, m: Int,
      pcaIters: Int = 60): Array[Array[Double]] = {
    require(nFeatures % m == 0,
      s"opqRotationFromMoments: $nFeatures dims do not split into $m subspaces")
    rotationFromPca(
      graft.scale.Pca.fitFromMoments(acc, nFeatures, nFeatures, pcaIters), m)
  }

  /** OPQ rotation trained on the RESIDUAL distribution of an IVF index
    * — the published IVFADC+OPQ form (Ge et al. CVPR'13 §5 apply OPQ
    * to the residuals the PQ actually quantizes; faiss trains
    * OPQMatrix on the transformed training residuals for IVFPQ): a
    * residual index's codebooks see r = x − c(list), whose spectrum
    * differs from the raw corpus's (the coarse quantizer removes the
    * between-list variance), so a RAW-space rotation can mis-balance
    * the residual subspaces — the r11 composed point measured −5 pp
    * recall vs residual-alone for exactly that reason. Pass the
    * result to [[pqResidualBuild]]'s `rot`.
    *
    * MEASURED (r12, `history/SCALE_BENCH_r12_recall{40,80,160v}.json`):
    * on the modal scale
    * corpus at identical (m=8, ksub=64, p8, r100) budgets, recall@10
    * reads residual-alone 0.664/0.576/0.485 vs residual-trained
    * rotation 0.615/0.535/0.452 vs raw-trained 0.614/0.532/0.458
    * (40×/80×/160×v) — training on residuals does NOT close the
    * composed form's gap here, because tight-mode residuals are
    * near-isotropic and any rotation scrambles the axis-aligned
    * structure the subspace quantizers exploit. Hence the default
    * stays `rot = None`: measure per corpus before opting in (the
    * rotation DOES pay on anisotropic raw-PQ — +44–48% relative,
    * see [[opqBuild]]).
    */
  def opqRotationResidual(
      ivf: IvfIndex, m: Int, pcaIters: Int = 60): Array[Array[Double]] = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val centsByC = ivf.centroids.sortBy(_._1).map(_._2)
    require(centsByC.nonEmpty, "opqRotationResidual: IVF index has no centroids")
    val dims = centsByC.head.length
    require(dims % m == 0,
      s"opqRotationResidual: $dims dims do not split into $m subspaces")
    val centDf = centsByC.zipWithIndex
      .map { case (cv, c) => (c, cv) }.toSeq.toDF("cluster", "cvec")
    val resid = ivf.assigned
      .select(F.col("id"), F.col("cluster"),
        F.col("vec").cast("array<double>").as("vec"))
      .join(F.broadcast(centDf), "cluster")
      .select(F.col("id"),
        F.zip_with(F.col("vec"), F.col("cvec"), (a, b) => a - b).as("vec"))
    rotationFromPca(graft.scale.Pca.fit(resid, "vec", dims, dims, pcaIters), m)
  }

  /** Shared PCA-basis → balanced-permutation core of the three
    * rotation entry points (corpus / moments / residuals). */
  private def rotationFromPca(
      model: graft.scale.Pca.PcaModel, m: Int): Array[Array[Double]] = {
    val dims = model.nFeatures
    // modified Gram-Schmidt over the (near-orthogonal) PCA rows
    val basis = model.components.map(_.clone())
    var i = 0
    while (i < dims) {
      var j = 0
      while (j < i) {
        var d = 0.0; var f = 0
        while (f < dims) { d += basis(i)(f) * basis(j)(f); f += 1 }
        f = 0
        while (f < dims) { basis(i)(f) -= d * basis(j)(f); f += 1 }
        j += 1
      }
      var n2 = 0.0; var f = 0
      while (f < dims) { n2 += basis(i)(f) * basis(i)(f); f += 1 }
      val inv = 1.0 / math.sqrt(n2)
      f = 0
      while (f < dims) { basis(i)(f) *= inv; f += 1 }
      i += 1
    }
    val dsub = dims / m
    // Balancing Π λ per subspace == balancing Σ w with w = −log λ — a
    // makespan problem, solved LPT-style: items by w DESCENDING
    // (smallest eigenvalue first), each to the non-full bucket with
    // the smallest running Σ w. The naive "λ descending into the
    // min-log-product bucket" reading of the paper concentrates
    // instead of balancing whenever λ < 1 (log λ < 0 makes a bucket
    // LOOK smaller the moment it receives the largest eigenvalue, so
    // it receives the next one too — measured: all four widest dims
    // in one subspace, 0.53 of 0.58 total distortion in that slice).
    val order = model.eigenvalues.zipWithIndex
      .map { case (ev, idx) => (-math.log(math.max(ev, 1e-300)), idx) }
      .sortBy { case (w, idx) => (-w, idx) }
    val wSum = Array.fill(m)(0.0)
    val fill = Array.fill(m)(0)
    val buckets = Array.fill(m)(List.empty[Int])
    order.foreach { case (w, idx) =>
      val s = (0 until m).filter(fill(_) < dsub)
        .minBy(s => (wSum(s), s))
      wSum(s) += w
      fill(s) += 1
      buckets(s) = idx :: buckets(s)
    }
    // within a subspace, spectral order (descending eigenvalue) for
    // readability — no effect on the per-subspace quantizer
    buckets.flatMap(_.sorted.map(basis(_)))
  }

  /** Rotated-space [[PqIndex]] plus its rotation. Codes and codebooks
    * live in rotated coordinates; [[opqTopK]]/[[opqTopKBatch]] rotate
    * the query and run the whole PQ pipeline there — including the
    * exact rerank, whose cosines are IDENTICAL to raw-space ones
    * under an orthogonal R (round-4 absorbs FP reassociation). */
  final case class OpqIndex(pq: PqIndex, rot: Array[Array[Double]])

  private def rotateCol(
      vecCol: org.apache.spark.sql.Column,
      rot: Array[Array[Double]]): org.apache.spark.sql.Column =
    F.array(rot.map(r =>
      graft.functions.VectorFunctions.dot(vecCol, F.typedlit(r.toSeq))): _*)

  private def rotateVec(
      q: Array[Double], rot: Array[Array[Double]]): Array[Double] =
    rot.map { r =>
      var d = 0.0; var i = 0
      while (i < q.length) { d += r(i) * q(i); i += 1 }
      d
    }

  /** The corpus in rotated coordinates — a map-only scan of F codegen
    * dots per row (the same literal-vector form as Pca.project; no
    * shuffle, no UDF). Note the F² per-row cost is real wherever this
    * frame is SCANNED — the OPQ query faces deliberately rerank on the
    * raw frame instead (cosine is rotation-invariant), paying the
    * rotation only once at build.
    *
    * PUBLIC as the composition primitive: an orthogonal rotation
    * preserves cosine, so ANY cosine-based index in this module —
    * [[ivfBuild]], [[sq8Encode]], [[binaryEncode]],
    * [[pqResidualBuild]], the bitext miners — built over
    * `rotateEmbeddings(emb, rot)` and queried with rotated queries
    * returns the SAME exact answers as over raw vectors, with only
    * the approximation quality changed by the basis (that is the
    * whole point: faiss's OPQ+IVFPQ is exactly
    * `ivfBuild(rotateEmbeddings(e, opqRotation(e, m)))` +
    * [[pqResidualBuild]] on top). */
  def rotateEmbeddings(
      emb: DataFrame, rot: Array[Array[Double]]): DataFrame =
    emb.select(
      F.col("id"),
      rotateCol(F.col("vec").cast("array<double>"), rot).as("vec"))

  /** Rotate one query vector into `rot`'s coordinates (driver-side
    * F²) — the query-side companion of [[rotateEmbeddings]]. */
  def rotateQuery(q: Array[Double], rot: Array[Array[Double]]): Array[Double] =
    rotateVec(q, rot)

  /** [[pqBuild]] behind the parametric OPQ rotation: fit the rotation,
    * rotate the corpus, train per-subspace codebooks there. Same m /
    * ksub / training contracts as plain PQ — the rotation only changes
    * WHICH linear view of the data each subspace quantizes. */
  def opqBuild(
      emb: DataFrame, m: Int, ksub: Int, iters: Int = 10,
      trainPerCode: Int = 256, pcaIters: Int = 60): OpqIndex = {
    val rot = opqRotation(emb, m, pcaIters)
    OpqIndex(
      pqBuild(rotateEmbeddings(emb, rot), m, ksub, iters,
        persist = true, trainPerCode),
      rot)
  }

  /** [[opqBuild]] from a CALLER-SUPPLIED rotation — the build half of
    * the per-drop refit story: rotation from merged shard moments
    * ([[opqRotationFromMoments]] over [[graft.scale.Pca.mergeMoments]]
    * accumulators — no rescan of history), codes from one pass over
    * the current corpus. Also the composition point for an explicitly
    * MEASURED [[opqRotationResidual]] opt-in. Querying goes through
    * the same [[opqTopK]]/[[opqTopKBatch]] faces; an orthogonal
    * rotation keeps their exact-rerank cosines identical to raw
    * space, so the degenerate-point oracle argument carries over
    * unchanged. */
  def opqBuild(
      emb: DataFrame, rot: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int, trainPerCode: Int): OpqIndex = {
    require(rot.nonEmpty && rot.forall(_.length == rot.length),
      s"opqBuild: rotation must be square; got ${rot.length} rows of " +
        s"lengths ${rot.map(_.length).distinct.mkString(",")}")
    require(rot.length % m == 0,
      s"opqBuild: ${rot.length} dims do not split into $m subspaces")
    OpqIndex(
      pqBuild(rotateEmbeddings(emb, rot), m, ksub, iters,
        persist = true, trainPerCode),
      rot)
  }

  /** Default-argument convenience of the supplied-rotation
    * [[opqBuild]] (Scala forbids defaults on both overloads). */
  def opqBuildWithRotation(
      emb: DataFrame, rot: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int = 10, trainPerCode: Int = 256): OpqIndex =
    opqBuild(emb, rot, m, ksub, iters, trainPerCode)

  /** [[pqTopK]] against rotated codes: the ADC cut runs on the
    * rotated-space codes with the ROTATED query's lookup tables, but
    * the exact rerank joins the RAW vectors with the RAW query —
    * orthogonality makes both reranks return the same cosines, and
    * the raw form keeps the rerank scan free of any per-row rotation
    * (the corpus is never rotated at query time; only the build pays
    * the F² pass, once). */
  def opqTopK(
      index: OpqIndex, emb: DataFrame, query: Array[Double], k: Int,
      rerank: Int): DataFrame =
    codecTopK(pqCodec(index.pq, Some(index.rot)), emb, query, k, rerank)

  /** Batch face: per-query ADC tables from the rotated queries, exact
    * rerank on raw vectors — see [[opqTopK]]. */
  def opqTopKBatch(
      index: OpqIndex, emb: DataFrame, queries: DataFrame, k: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(pqCodec(index.pq, Some(index.rot)), emb, queries, k,
      rerank)

  def opqRelease(index: OpqIndex): Unit = pqRelease(index.pq)

  /** Persist: the [[pqSave]] layout (rotated-space codes + codebooks)
    * plus a `rotation.json` sidecar holding R row-major — the complete
    * state; queries against a loaded index need no re-fit. */
  def opqSave(index: OpqIndex, path: String): Unit = {
    pqSave(index.pq, path)
    rotationSave(index.pq.codes.sparkSession, index.rot, path)
  }

  /** Persist a bare rotation — the composed-index companion (an
    * OPQ+IVF layout is `ivfSave` of the rotated build plus THIS
    * sidecar; queries rotate with the loaded matrix). */
  def rotationSave(
      spark: org.apache.spark.sql.SparkSession,
      rot: Array[Array[Double]], path: String): Unit = {
    val rows = rot.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    graft.api.ArrowSpaceModel.writeSidecar(
      spark, s"$path/rotation.json",
      s"""{"dims":${rot.length},"rot":$rows}""")
  }

  def rotationLoad(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] = {
    val txt = sidecarText(spark, s"$path/rotation.json")
    val dims = intField(txt, "dims")
    val flat = numbersAfter(txt, "rot")
    require(flat.length == dims * dims,
      s"rotationLoad: sidecar has ${flat.length} values, " +
        s"expected ${dims * dims}")
    Array.tabulate(dims)(i => flat.slice(i * dims, (i + 1) * dims))
  }

  def opqLoad(
      spark: org.apache.spark.sql.SparkSession, path: String): OpqIndex =
    OpqIndex(pqLoad(spark, path), rotationLoad(spark, path))

  /** IVF+PQ — the composed scale shape (faiss IndexIVFPQ): the
    * inverted lists prune WHICH rows are scanned (`nprobe` of `k`
    * lists — the ivfTopK pruning, partition-prunable when the lists
    * are saved `partitionBy("cluster")`), and the PQ codes bound WHAT
    * the scan reads (m bytes/row through the ADC codegen expression —
    * the pqTopK memory story). At 100 TB this is the only shape where
    * both the scan fraction AND the per-row cost are sublinear in the
    * raw corpus: probes × m bytes, with full-precision vectors touched
    * by the bounded rerank join alone. Size `nprobe` with
    * [[suggestNprobe]] (constant probe fraction — see [[ivfTopK]]).
    *
    * The candidate set is (probed lists) ∩ codes, cut to `rerank` on
    * the round-4 ADC score with id tie-break — same stable-candidate
    * convention as [[pqTopK]], so the composition is oracle-replayable
    * end to end. Output: (id, score) — exact round-4 cosines,
    * (score DESC, id ASC).
    */
  def ivfPqTopK(
      ivf: IvfIndex, pq: PqIndex, emb: DataFrame, query: Array[Double],
      k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopK(pqCodec(pq, None), emb, query, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** FILTERED [[ivfPqTopK]] — see [[ivfSq8TopKWhere]]: the predicate-
    * matching id set intersects the probed lists BEFORE the ADC cut,
    * so the m-byte scan and the exact rerank touch only matching rows.
    * Same degenerate contract (nprobe = nLists, rerank ≥ corpus size
    * → exact filter-then-top-k) and under-return rule.
    */
  def ivfPqTopKWhere(
      ivf: IvfIndex, pq: PqIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, query: Array[Double], k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopK(pqCodec(pq, None), emb, query, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** IVF+SQ8 — the composed scale shape faiss calls IndexIVFScalarQuantizer:
    * the inverted lists prune WHICH rows are scanned (`nprobe` of the
    * `nLists` lists, partition-prunable on the saved layout) and the
    * SQ8 codes bound WHAT the scan reads (d bytes/row through the
    * codegen dequantized-cosine expression instead of d·8 float64
    * bytes). The middle point of the composed-codec family: better
    * recall than IVF+PQ at 8× (not 64×) scan density. Size `nprobe`
    * with [[suggestNprobe]] (see [[ivfTopK]]). Closes the
    * board's one large unpruned scan (`v_sq8_topk_batch` reads ALL
    * codes for every query batch — VERDICT r8 #5): here the codes scan
    * is bounded by the probed lists.
    *
    * Candidates are the probed lists ∩ codes, cut to `rerank` on the
    * round-4 SQ8 approx score with id tie-break (the engine's
    * stable-candidate convention, same as [[sq8TopK]]), then re-scored
    * against the EXACT vectors via a broadcast candidate join. At
    * nprobe = nLists this degenerates to [[sq8TopK]] exactly
    * (spec-pinned). Output: (id, score) — exact round-4 cosines,
    * (score DESC, id ASC).
    */
  def ivfSq8TopK(
      ivf: IvfIndex, sq8: Sq8Index, emb: DataFrame, query: Array[Double],
      k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopK(sq8Codec(sq8), emb, query, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** FILTERED [[ivfSq8TopK]] — the metadata predicate applied INSIDE
    * the code-pruned probed scan (the IDSelector face of
    * [[ivfTopKWhere]], composed with the SQ8 codec): candidates are
    * (probed lists) ∩ (ids of `meta` rows matching `pred`) BEFORE the
    * approx cut, so both the byte-bounded codes scan and the bounded
    * exact rerank touch only matching rows. At 100 TB the codes are
    * the only thing scanned, and this is the shape a "top-k where
    * lang = 'de'" query needs — a post-filter of the unfiltered top-k
    * under-returns whenever fewer than k unfiltered winners match.
    * Same selectivity contract as [[ivfTopKWhere]]: a highly selective
    * predicate empties the probed lists — raise nprobe (and rerank)
    * with 1/selectivity. At nprobe = nLists and rerank ≥ corpus size
    * this equals exact filter-then-top-k (spec-pinned).
    */
  def ivfSq8TopKWhere(
      ivf: IvfIndex, sq8: Sq8Index, emb: DataFrame, meta: DataFrame,
      pred: Column, query: Array[Double], k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopK(sq8Codec(sq8), emb, query, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** MANY queries against the composed IVF+SQ8 index — the batch cell
    * that bounds the `sq8TopKBatch` all-codes scan: probe selection on
    * the EXECUTORS (shared [[probesFor]], broadcast centroids), codes
    * attached to the lists by a corpus-sized id join, then ONE
    * cluster-keyed fan-out join that both decides WHICH rows each
    * query scores and computes the d-byte dequantized cosine in its
    * own projection — query vectors ride through the probe rows
    * (row-local access, the [[ivfTopKBatch]] shape). Salted per-query
    * cut on round-4 approx, one exact rerank join for all survivors.
    * Each qid's rows equal the single-query [[ivfSq8TopK]] at the same
    * parameters (spec-pinned).
    *
    * Queries need (qid, qvec); output (qid, id, score) — exact round-4
    * cosines, (score DESC, id ASC) per qid.
    */
  def ivfSq8TopKBatch(
      ivf: IvfIndex, sq8: Sq8Index, emb: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopKBatch(sq8Codec(sq8), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** Batch face of [[ivfSq8TopKWhere]]: one predicate-filtered id join
    * applied to the slim (id, cluster) lists BEFORE the codes attach
    * and the probe fan-out join scores — one filter join for ALL
    * queries, exactly as [[ivfTopKBatchWhere]] does on raw vectors,
    * then the usual salted cuts and bounded exact rerank (which by
    * construction only ever sees matching rows). Each qid equals the
    * single-query [[ivfSq8TopKWhere]] at the same parameters
    * (spec-pinned); same under-return contract — raise nprobe/rerank
    * with 1/selectivity.
    */
  def ivfSq8TopKBatchWhere(
      ivf: IvfIndex, sq8: Sq8Index, emb: DataFrame, meta: DataFrame,
      pred: Column, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(sq8Codec(sq8), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** MANY queries against the composed IVF+PQ index — the last cell
    * of the batch matrix and the full IndexIVFPQ serving shape: probe
    * selection AND per-query ADC lookup-table construction on the
    * EXECUTORS (shared [[ivfProbes]] selection code via the broadcast
    * centroids — can't drift from the single-query path), codes
    * attached to the lists by a corpus-sized id join, then ONE
    * cluster-keyed fan-out join that bounds WHICH rows each query
    * scores and computes the m-byte ADC score in its own projection —
    * the LUTs ride through the probe rows, row-local. Salted
    * per-query cut on round-4 approx, one exact rerank join for all
    * survivors. Each qid's rows equal the single-query [[ivfPqTopK]]
    * at the same parameters (spec-pinned).
    *
    * Queries need (qid, qvec); output (qid, id, score) — exact
    * round-4 cosines, (score DESC, id ASC) per qid.
    */
  def ivfPqTopKBatch(
      ivf: IvfIndex, pq: PqIndex, emb: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopKBatch(pqCodec(pq, None), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** Batch face of [[ivfPqTopKWhere]] — the [[ivfSq8TopKBatchWhere]]
    * composition on the m-byte ADC scan: one predicate-filtered id
    * join on the slim lists before the codes attach, so every query's
    * ADC scoring and exact rerank touch only matching rows. Per-qid
    * parity with the single-query face spec-pinned; same under-return
    * contract (raise nprobe/rerank with 1/selectivity).
    */
  def ivfPqTopKBatchWhere(
      ivf: IvfIndex, pq: PqIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(pqCodec(pq, None), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** Residual-encoded IVF+PQ — the published IVFADC composition
    * (Jégou et al., "Product quantization for nearest neighbor
    * search", TPAMI 2011 §IV; the faiss IndexIVFPQ default): the PQ
    * codebooks are trained on r = x − c(list) instead of on x, so
    * their ksub^m capacity describes the WITHIN-list spread rather
    * than re-describing the coarse structure the IVF centroids
    * already captured. At the same (m, ksub) the quantization error
    * drops and recall at fixed (nprobe, rerank) rises — the recall
    * ordering vs the raw-vector codec is spec-measured on the
    * clustered corpus, and at full probes + full rerank the
    * composition degenerates to the exact top-k (the oracle point).
    *
    * Scoring stays ONE table-sum per row. With x̂ = c + dequant(codes):
    *
    *   cos(q, x̂) = (⟨q,c⟩ + Σ_s lutDot[s,code_s]) / (‖q‖·‖x̂‖)
    *
    * where ⟨q,c⟩ is one scalar per probed list and ‖x̂‖² =
    * ‖c‖² + 2·Σ_s⟨c[s], b_s,code⟩ + Σ_s‖b_s,code‖² is QUERY-
    * INDEPENDENT — evaluated once at build time through the same
    * [[graft.functions.PqKernels.adcSum]] kernel and stored as one
    * double beside the codes (`n2hat`). Query-time cost is therefore
    * exactly the raw codec's (m byte-indexed reads + one divide), and
    * no per-cluster table ships with queries at all — the classic
    * IVFADC per-probe LUT rebuild is precomputed away.
    */
  final case class PqResidualIndex(
      codes: DataFrame, // (id, codes BINARY(m), n2hat DOUBLE)
      books: Array[Array[Array[Double]]],
      // OPQ: codes/books live in R·r coordinates (residuals rotated
      // before encoding — [[opqRotationResidual]]); None = raw
      // residual space. Optional LAST field: positional
      // PqResidualIndex(codes, books) constructions stay valid.
      rot: Option[Array[Array[Double]]] = None) {
    def m: Int = books.length
    def ksub: Int = books.headOption.map(_.length).getOrElse(0)
    def dsub: Int =
      books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    private[operators] def flat: Array[Double] = books.flatten.flatten
  }

  /** Train residual codebooks against `ivf`'s lists and encode the
    * corpus: residuals materialize through ONE broadcast centroid join
    * (zip_with subtraction — no shuffle), `m` DeterministicKMeans fits
    * over the residual slices, then one map-only encode scan that also
    * folds the query-independent reconstruction norm ‖x̂‖² into the
    * `n2hat` column via two [[graft.functions.PqKernels.adcSum]] reads
    * against the per-cluster cross tables (nLists·m·ksub doubles,
    * driver-built, broadcast once — build-time only). Same
    * normalization contract as [[ivfBuild]].
    */
  def pqResidualBuild(
      ivf: IvfIndex, m: Int, ksub: Int, iters: Int = 10,
      persist: Boolean = true, trainPerCode: Int = 256,
      rot: Option[Array[Array[Double]]] = None): PqResidualIndex = {
    require(m > 0, s"m must be positive; got $m")
    require(ksub > 0 && ksub <= 256, s"ksub must be in 1..256; got $ksub")
    val centsByC = ivf.centroids.sortBy(_._1).map(_._2)
    require(centsByC.nonEmpty, "pqResidualBuild: IVF index has no centroids")
    val dims = centsByC.head.length
    require(dims % m == 0,
      s"pqResidualBuild: $dims dims do not split into $m equal subspaces")
    rot.foreach(r => require(r.length == dims,
      s"pqResidualBuild: rotation is ${r.length}×${r.headOption
        .map(_.length).getOrElse(0)}, corpus is $dims-dimensional"))
    val dsub = dims / m
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val centDf = centsByC.zipWithIndex
      .map { case (cv, c) => (c, cv) }.toSeq.toDF("cluster", "cvec")
    // OPQ (rot defined): encode R·r, not r — with x̂ = c + Rᵀ·b the
    // score terms become ⟨q,x̂⟩ = ⟨q,c⟩ + ⟨Rq,b⟩ and ‖x̂‖² = ‖c‖² +
    // 2⟨Rc,b⟩ + ‖b‖², so the ONLY changes are: residuals rotate here,
    // cross tables use Rc, and query LUTs build from Rq. Everything
    // else (kernel, n2hat fold, probe math) is shared verbatim.
    val rawResid = ivf.assigned
      .select(F.col("id"), F.col("cluster"),
        F.col("vec").cast("array<double>").as("vec"))
      .join(F.broadcast(centDf), "cluster")
      .select(F.col("id"), F.col("cluster"),
        F.zip_with(F.col("vec"), F.col("cvec"), (a, b) => a - b).as("rvec"))
    val resid = rot.fold(rawResid)(r => rawResid.select(
        F.col("id"), F.col("cluster"),
        rotateCol(F.col("rvec"), r).as("rvec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // same shared-sample contract as pqBuild, over the residuals
      val fitResid = trainSample(resid, trainPerCode.toLong * ksub)
      val books = Array.tabulate(m) { s =>
        val sub = fitResid.select(
          F.col("id"), F.slice(F.col("rvec"), s * dsub + 1, dsub).as("x"))
        graft.scale.DeterministicKMeans.fit(sub, ksub, maxIter = iters).centers
      }
      val idx = PqResidualIndex(null, books, rot)
      val lutN2 = codebookNormsOf(books)
      // per-cluster query-independent tables: cross[s·ksub+j] =
      // ⟨c[s·dsub..], b_sj⟩ (c in the books' coordinates — Rc when
      // rotated) and ‖c‖² (rotation-invariant) — nLists·(m·ksub+1)
      // doubles total
      val clusterDf = centsByC.zipWithIndex.map { case (cv0, c) =>
        val cross = lutDotOf(books, rot.fold(cv0)(rotateVec(cv0, _)))
        var cn2 = 0.0
        var f = 0
        while (f < dims) { cn2 += cv0(f) * cv0(f); f += 1 }
        (c, cross, cn2)
      }.toSeq.toDF("cluster", "cross", "cn2")
      val codes = resid
        .select(F.col("id"), F.col("cluster"),
          graft.functions.VectorFunctions.pqEncode(
            F.col("rvec"), F.typedLit(idx.flat), m, ksub).as("codes"))
        .join(F.broadcast(clusterDf), "cluster")
        .select(F.col("id"), F.col("codes"),
          (F.col("cn2")
            + F.lit(2.0) * graft.functions.VectorFunctions.pqAdcSum(
              F.col("codes"), F.col("cross"))
            + graft.functions.VectorFunctions.pqAdcSum(
              F.col("codes"), F.typedLit(lutN2))).as("n2hat"))
      val out =
        if (persist) {
          val p = codes.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          p.count() // materialize so `resid` can be dropped on exit
          p
        } else codes.localCheckpoint() // sever lineage from the dropped cache
      idx.copy(codes = out)
    } finally resid.unpersist(blocking = false)
  }

  def pqResidualRelease(index: PqResidualIndex): Unit =
    index.codes.unpersist(blocking = false)

  /** Residual IVF+PQ top-k: probed lists bound WHICH rows scan, m-byte
    * residual codes bound WHAT the scan reads, and the score is the
    * stored-norm quotient above — candidates cut to `rerank` on the
    * round-4 approx (id tie-break, the engine's stable-candidate
    * convention), then re-scored against the EXACT vectors. At
    * nprobe = nLists and rerank ≥ corpus size this equals the exact
    * top-k (spec-pinned — and the oracle's operating point). Size
    * `nprobe` with [[suggestNprobe]] (see [[ivfTopK]]). Output:
    * (id, score) — exact round-4 cosines, (score DESC, id ASC).
    */
  def ivfPqrTopK(
      ivf: IvfIndex, pqr: PqResidualIndex, emb: DataFrame,
      query: Array[Double], k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopK(pqrCodec(pqr), emb, query, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** Residual PQ's payload: the dot table of the (rotated) query, plus
    * ⟨q, c⟩ of the probed list — one scalar per probe row. */
  private[operators] final case class ResLutQuery(
      lutd: Array[Double], qdotc: Double, qnorm: Double)

  /** The residual-ADC codec: the stored-norm quotient above. A rotated
    * index builds its tables from Rq (⟨q, Rᵀb⟩ = ⟨Rq, b⟩); probes,
    * ⟨q, c⟩ and ‖q‖ stay in raw coordinates. */
  private def pqrCodec(pqr: PqResidualIndex): Codec[ResLutQuery] = {
    val (books, rot) = (pqr.books, pqr.rot)
    Codec(pqr.codes, pqr.m * pqr.dsub, hamming = false,
      F.when(F.col("qnorm") === 0.0 || F.col("n2hat") <= 0.0, F.lit(0.0))
        .otherwise(
          (F.col("qdotc") + graft.functions.VectorFunctions.pqAdcSum(
            F.col("codes"), F.col("lutd")))
            / (F.col("qnorm") * F.sqrt(F.col("n2hat")))),
      q => {
        val lut = lutDotOf(books, rot.fold(q)(rotateVec(q, _)))
        val qnorm = math.sqrt(graft.functions.VectorKernels.normSq(q))
        cv =>
          ResLutQuery(lut, graft.functions.VectorKernels.dot(q, cv), qnorm)
      })
  }

  /** FILTERED [[ivfPqrTopK]] — see [[ivfSq8TopKWhere]]: the
    * predicate-matching id set intersects the probed lists BEFORE the
    * residual-ADC cut. Same degenerate contract and under-return rule
    * as the codec siblings.
    */
  def ivfPqrTopKWhere(
      ivf: IvfIndex, pqr: PqResidualIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, query: Array[Double], k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopK(pqrCodec(pqr), emb, query, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** MANY queries against the residual IVF+PQ index — the
    * [[ivfPqTopKBatch]] physical shape (probe selection + per-query
    * dot LUTs built in the probe flatMap on the EXECUTORS, codes
    * attached to the lists corpus-side, one cluster-keyed fan-out
    * join scoring in its own projection, salted cuts), with ⟨q,c⟩
    * riding each probe row as ONE scalar — the only per-probe state
    * the residual score needs beyond the raw codec's. Each qid's rows
    * equal the single-query [[ivfPqrTopK]] at the same parameters
    * (spec-pinned). Queries need (qid, qvec); output (qid, id, score)
    * — exact round-4 cosines, (score DESC, id ASC) per qid.
    */
  def ivfPqrTopKBatch(
      ivf: IvfIndex, pqr: PqResidualIndex, emb: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame =
    codecTopKBatch(pqrCodec(pqr), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe)))

  /** Batch face of [[ivfPqrTopKWhere]] — one predicate-filtered id
    * join on the slim lists before the residual codes attach; per-qid
    * parity with the single-query face spec-pinned. Same under-return
    * contract as the codec siblings.
    */
  def ivfPqrTopKBatchWhere(
      ivf: IvfIndex, pqr: PqResidualIndex, emb: DataFrame, meta: DataFrame,
      pred: Column, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int): DataFrame =
    codecTopKBatch(pqrCodec(pqr), emb, queries, k, rerank,
      Some(Probe(ivf, nprobe, Some(keptIds(meta, pred)))))

  /** Persist a residual index: (id, codes, n2hat) Parquet + the
    * codebook sidecar in [[pqSave]]'s format, plus a `rotation.json`
    * sidecar when the index is OPQ-rotated (residual-space rotation is
    * part of the index state — queries against a loaded index need
    * it). The IVF index saves separately ([[ivfSave]]) — the pair
    * reload independently. */
  def pqResidualSave(index: PqResidualIndex, path: String): Unit = {
    pqSave(PqIndex(index.codes, index.books), path)
    index.rot.foreach(rotationSave(index.codes.sparkSession, _, path))
  }

  def pqResidualLoad(
      spark: org.apache.spark.sql.SparkSession, path: String): PqResidualIndex = {
    val raw = pqLoad(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/rotation.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rot = if (fs.exists(p)) Some(rotationLoad(spark, path)) else None
    PqResidualIndex(raw.codes, raw.books, rot)
  }

  /** Deterministic signed-random-projection ANN (Charikar'02 SRP-LSH,
    * Hamming-ranking form): `bits` md5-derived ±1 hyperplanes, vectors
    * quantized to round(x·1e6) longs so every projection is an EXACT
    * integer — the candidate set is bit-for-bit reproducible across
    * engines (no float-sign boundary), which is what lets the DuckDB
    * oracle replay it. Candidates = top `nCandidates` by plane-sign
    * agreement with the query (popcount ranking), re-ranked by exact
    * cosine. At scale the bit codes are a precomputed 4-long column;
    * query time is then a popcount scan + TakeOrdered(C) + C exact
    * re-ranks — one pass, no shuffle, sublinear in vector width.
    * Output: (id, score) — top `k` by (score DESC, id ASC).
    */
  def annTopKHamming(
      emb: DataFrame,
      query: Array[Double],
      k: Int,
      bits: Int = 256,
      nCandidates: Int = 240): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val nF = query.length
    // flat bits×nF ±1 plane matrix; the agreement count runs in a
    // broadcast + mapPartitions primitive loop (same integer math the
    // SQL oracle replays) — a nested-HOF column here is interpreted
    // per row and was ~30× slower than this tight loop
    val planes: Array[Long] = {
      val a = new Array[Long](bits * nF)
      var j = 0
      while (j < bits) {
        var f = 0
        while (f < nF) { a(j * nF + f) = planeSign(j, f); f += 1 }
        j += 1
      }
      a
    }
    def quantize(x: Double): Long =
      // BigDecimal(NaN/Inf) throws — one non-finite component must not
      // kill the scan (the builders only WARN on non-finite values);
      // 0 contributes nothing to any plane projection
      if (java.lang.Double.isFinite(x))
        BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      else 0L
    val qi = query.map(quantize)
    val qbits: Array[Boolean] = Array.tabulate(bits) { j =>
      var s = 0L; var f = 0
      while (f < nF) { s += planes(j * nF + f) * qi(f); f += 1 }
      s >= 0L
    }
    val bcPlanes = spark.sparkContext.broadcast(planes)
    val bcQbits = spark.sparkContext.broadcast(qbits)
    val scored = idVec(emb).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val pl = bcPlanes.value
        val qb = bcQbits.value
        it.map { case (id, vec) =>
          val xi = new Array[Long](nF)
          // a vector shorter than the query contributes 0 in its
          // missing dims (the zip_with column path this loop replaced
          // null-padded; crashing the scan on one short row is worse)
          val lim = math.min(nF, vec.length)
          var f = 0
          while (f < lim) { xi(f) = quantize(vec(f)); f += 1 }
          var agree = 0
          var j = 0
          while (j < bits) {
            var s = 0L
            var g = 0
            val off = j * nF
            while (g < nF) { s += pl(off + g) * xi(g); g += 1 }
            if ((s >= 0L) == qb(j)) agree += 1
            j += 1
          }
          (id, vec, agree)
        }
      }
      .toDF("id", "vec", "agree")
    val q = F.typedLit(query)
    scored
      .orderBy(F.col("agree").desc, F.col("id").asc)
      .limit(nCandidates)
      .select(F.col("id"), F.round(cosine(F.col("vec"), q), 4).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** Spark round() semantics (HALF_UP) for driver/executor-side
    * doubles, so broadcast-path scores hash-match the SQL oracle.
    * Non-finite passes through (Spark's round(NaN) is NaN; BigDecimal
    * would throw and kill the stage). */
  private def round4(x: Double): Double =
    if (java.lang.Double.isFinite(x))
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    else x

  /** "Worst-first" ordering for a bounded top-k heap over
    * (score, id_a, id_b): the PriorityQueue max is the element to
    * evict — lowest score, then largest ids. */
  private val worstFirst: Ordering[(Double, Long, Long)] =
    Ordering.by { case (s, a, b) => (-s, a, b) }

  /** Top-k most-similar item pairs by exact cosine. The N² distance
    * work is inherent to an exact answer, but the *shuffle* is not:
    * the table is broadcast and each partition keeps a bounded top-k
    * heap over primitive-array cosines, so only partitions·k rows ever
    * move (replaces a cartesian self-join that was ~10× slower).
    * Broadcast-bound — at 100 TB generate candidates with the LSH
    * band-join in [[graft.graph.KnnGraph]] / [[Dedup]] and top-k those.
    */
  def topCosinePairs(
      emb: DataFrame, k: Int, maxRows: Long = ExactPairsMaxRows,
      knownRows: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val typed = idVec(emb).select($"id".as[Long], $"vec".as[Array[Double]])
    requireExactPairsBound(typed, maxRows, "topCosinePairs",
      "KnnGraph.epsKnnEdges / Dedup banded candidates + saltedTopKPerKey",
      knownRows)
    val bc = spark.sparkContext.broadcast(typed.collect())
    typed
      .mapPartitions { it =>
        val all = bc.value
        val heap =
          new scala.collection.mutable.PriorityQueue[(Double, Long, Long)]()(worstFirst)
        it.foreach { case (idA, va) =>
          var i = 0
          while (i < all.length) {
            val (idB, vb) = all(i)
            if (idA < idB) {
              val raw = graft.functions.VectorKernels.cosine(va, vb)
              // fast-path reject BEFORE the BigDecimal round: with the
              // heap full, round4(raw) can only reach the current head
              // score hs when raw >= hs - 5e-5 (HALF_UP moves a value
              // by at most 5e-5 toward hs, and hs is a 4-decimal
              // number). The margin here is 1e-4, not the exact 5e-5
              // (ADVICE r14): `hs - 5e-5` computed in doubles can land
              // ~1 ulp above the exact decimal difference, and in that
              // sub-ulp window a pair that would round INTO the head
              // score (and win the id tie-break) could be rejected —
              // the spare 5e-5 of headroom makes the reject exact, at
              // the cost of a BigDecimal round for a slightly wider
              // near-boundary band. Results are bit-identical.
              if (heap.size < k || !(raw < heap.head._1 - 0.0001)) {
                val s = round4(raw)
                val cand = (s, idA, idB)
                if (heap.size < k) heap.enqueue(cand)
                else if (worstFirst.lt(cand, heap.head)) {
                  heap.enqueue(cand); heap.dequeue()
                }
              }
            }
            i += 1
          }
        }
        heap.iterator
      }
      .toDF("score", "id_a", "id_b")
      .select("id_a", "id_b", "score")
      .orderBy(F.col("score").desc, F.col("id_a").asc, F.col("id_b").asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN index: KMeans coarse quantizer over the
    * corpus; each vector is assigned to its nearest centroid (one
    * "inverted list" per centroid). Queries probe only the `nprobe`
    * nearest lists — the scan shrinks by ~k/nprobe at the cost of
    * recall, the standard IVF-Flat trade. The probe is a partition-
    * pruned equi-filter (`cluster IN probes`), so at scale the lists
    * can be written as `partitionBy("cluster")` Parquet and the scan
    * prunes to nprobe partitions.
    */
  final case class IvfIndex(
      assigned: DataFrame, // (id, vec, cluster)
      centroids: Array[(Int, Array[Double])],
      k: Int,
      hier: Option[TwoLevelHier] = None)

  /** Hierarchical probe metadata retained by [[ivfBuildTwoLevel]]:
    * the coarse cell centers plus each cell's global list ids. With
    * it, QUERY-side probe selection ranks √k coarse cells and scans
    * only the probed cells' sub-centers — (√k + p·k/√k)·F flops per
    * query instead of the flat scan's k·F. That matters for the same
    * reason the two-level BUILD exists: with corpus-proportional
    * lists ([[suggestLists]]) k grows with N, so a flat per-query
    * centroid scan is a hidden O(N) term in every batch retrieval —
    * at 1M lists (≈1.3B vectors at 1250/list) it is 64M flops/query
    * vs ~0.4M hierarchical. The field is optional so every existing
    * composition (IVF+SQ8/PQ/residual, save/load, append) treats a
    * two-level index as the plain [[IvfIndex]] it also is.
    */
  final case class TwoLevelHier(
      coarse: Array[Array[Double]], // k1 cell centers
      cellLists: Array[Array[Int]]) // global list ids per cell

  /** The fine-list target the mining paths size to (~40-row lists):
    * the committed operating point where re-mine cost went 122→43 s
    * at 80× — shared by the one-shot auto-sizing, [[ivfResizeLists]]'
    * default, and the prebuilt-mine list-size warning.
    */
  val FineMineListTarget: Int = 40

  /** Corpus-proportional list count: constant target list size, so
    * per-query probed-scan cost (≈ nprobe · targetListSize rows) stays
    * FLAT as the corpus grows. With a fixed nLists every list grows
    * with N and a batch workload pays 2× list length × 2× queries = 4×
    * at 2× rows — exactly what the 160k-vector scale point measured on
    * the bitext rows before this rule (~3.6× at 2× vectors with 64
    * fixed lists; history/SCALE.md round-9 addendum). Lists
    * sized by this rule keep retrieval linear in rows; the quantizer
    * fit stays linear in nLists via the training-sample cap (the
    * [[ivfBuild]] `trainPerList` contract). The default target (1250)
    * reproduces the engine's long-measured 64-list point at 80k
    * vectors, so the rows of history/SCALE_BENCH_r08.json stay
    * comparable. Bounded
    * to [16, 65536]: below 16 lists pruning is pointless, and beyond
    * 64k centroids brute-force assignment (N·nLists·F) is the next
    * wall — at that scale build through [[ivfBuildTwoLevel]], whose
    * hierarchical assignment costs N·(√k + p·√k)·F instead.
    */
  def suggestLists(n: Long, targetListSize: Int = 1250): Int = {
    require(targetListSize > 0,
      s"targetListSize must be positive; got $targetListSize")
    val raw = (n + targetListSize - 1) / targetListSize
    math.max(16L, math.min(65536L, raw)).toInt
  }

  /** Corpus-proportional probe count — [[suggestLists]]' sibling, and
    * the default every nprobe-taking face should be sized by when the
    * caller has no tuned number. The measured law (three scale points,
    * history/SCALE_BENCH_r12_recall{40,80,160v}.json): with lists sized per
    * [[suggestLists]], a CONSTANT nprobe probes a halving FRACTION of
    * the corpus per doubling and recall decays geometrically
    * (1.00 → 0.87 → 0.69 at nprobe = 8 across 64/128/256 lists),
    * while a constant probe FRACTION holds recall flat (0.87 → 0.89
    * at 1/16; 1.00 → 1.00 at 1/8). So: probe `fraction` of the lists,
    * floored at `minProbe`. The defaults reproduce every historical
    * committed operating point at ≤ 64 lists (8 = ⌈64/8⌉ = the floor),
    * so oracle- and spec-scale configurations (16 lists) are
    * byte-unchanged, and beyond 64 lists the probe count grows with
    * the corpus — candidate volume per query stays ≈ fraction · N /
    * nLists · nLists = flat per-list-size, and recall stays at the
    * fraction's measured level instead of silently decaying at 100×.
    */
  def suggestNprobe(
      nLists: Int, fraction: Double = 0.125, minProbe: Int = 8): Int = {
    require(nLists > 0, s"nLists must be positive; got $nLists")
    require(fraction > 0.0 && fraction <= 1.0,
      s"fraction must be in (0, 1]; got $fraction")
    require(minProbe > 0, s"minProbe must be positive; got $minProbe")
    math.min(nLists,
      math.max(minProbe, math.ceil(nLists * fraction).toInt))
  }

  /** Deterministic, layout-invariant training subsample for quantizer
    * fits: keeps ~`cap` rows via a pure row-value predicate
    * (xxhash64(id) mod d = 0 — the same corpus yields the same sample
    * under any partitioning), or the input unchanged when it already
    * fits. Rationale (the faiss training convention, ~256 points per
    * centroid): a k-means fit over all N rows costs N·k·F·iters flops,
    * and with lists sized to the corpus (k ∝ N, [[suggestLists]]) that
    * term goes QUADRATIC in N — the fit was already the dominant build
    * cost at the 80k-vector scale point (hardNegativesApprox: ~22 s of
    * 24 s). A bounded sample keeps the fit O(cap·k·F) while assignment
    * and encoding still scan the full corpus. Never active at oracle
    * scale: every oracled call site's cap (≥ 256·8 = 2048) exceeds the
    * largest oracle corpus (2000 vectors at sf0.1), so SQL replays of
    * the k-means recurrence over the full table stay byte-identical.
    */
  private def trainSample(emb: DataFrame, cap: Long): DataFrame = {
    if (cap <= 0) return emb
    val n = emb.count()
    if (n <= cap) emb
    else {
      val d = math.max(2L, (n + cap - 1) / cap)
      emb.where(F.pmod(F.xxhash64(F.col("id")), F.lit(d)) === 0)
    }
  }

  /** The coarse quantizer is [[graft.scale.DeterministicKMeans]]
    * (farthest-first seeding + 15 fixed Lloyd rounds): the same corpus
    * always yields the same lists, so probe results are reproducible
    * and oracle-checkable. `seed` is kept for API compatibility and
    * ignored — there is no randomness left to seed.
    *
    * `trainPerList` caps the FIT input at trainPerList·nLists rows
    * ([[trainSample]]); assignment always scans the full corpus. At
    * nprobe = nLists the probe degenerates to an exact scan whatever
    * the sample produced — the invariant the sampled-path spec pins.
    *
    * CONTRACT: `emb` must carry L2-NORMALIZED vectors (every cosine
    * pipeline in this engine does; the testdata is unit-norm). The
    * quantizer assigns by squared-Euclidean distance while the probe
    * ranks lists by cosine — on the unit sphere these are the same
    * geometry (d² = 2−2cos), but on norm-varied input the list holding
    * the best cosine match can rank last by assignment and recall
    * collapses. Normalize first for raw corpora.
    */
  def ivfBuild(
      emb: DataFrame, nLists: Int, seed: Long = 42L,
      trainPerList: Int = 256): IvfIndex = {
    val model = graft.scale.DeterministicKMeans.fit(
      trainSample(emb, trainPerList.toLong * nLists), nLists,
      maxIter = 15, idCol = "id", vecCol = "vec")
    val assigned = graft.scale.DeterministicKMeans.assign(
        emb, model, idCol = "id", vecCol = "vec")
      .select("id", "vec", "cluster")
      // the in-memory index must not recompute the nLists×F assignment
      // scan on every probe (unpersisted, `cluster IN probes` cannot
      // push below the assign map and each ivfTopK re-ran it over all
      // N rows — slower than brute force); the persisted form is the
      // in-memory analogue of the cluster-partitioned saved layout
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(assigned, model.centers.zipWithIndex.map(_.swap), nLists)
  }

  /** IVF with a SPHERICAL coarse quantizer — lifts [[ivfBuild]]'s
    * L2-normalization contract (the one documented "Known limits" item
    * of the IVF family): [[graft.scale.DeterministicKMeans
    * .fitSpherical]] trains on unit directions and re-normalizes each
    * Lloyd mean, so every centroid is a UNIT vector. With unit
    * centroids, assignment by squared Euclid is argmax-cosine for any
    * input norm (‖x−c‖² = ‖x‖² + 1 − 2⟨x,c⟩), and the probe ranking
    * ([[ivfProbes]], cosine) agrees with assignment by construction —
    * on raw, norm-varied corpora the Euclidean quantizer's
    * probe/assignment disagreement collapses recall (spec-measured),
    * while this index keeps it. The returned index is a plain
    * [[IvfIndex]]: every downstream composition (ivfTopK/Batch,
    * IVF+SQ8, IVF+PQ, residual) works unchanged.
    */
  def ivfBuildSpherical(
      emb: DataFrame, nLists: Int, trainPerList: Int = 256): IvfIndex = {
    val model = graft.scale.DeterministicKMeans.fitSpherical(
      trainSample(emb, trainPerList.toLong * nLists), nLists,
      maxIter = 15, idCol = "id", vecCol = "vec")
    val assigned = graft.scale.DeterministicKMeans.assign(
        emb, model, idCol = "id", vecCol = "vec")
      .select("id", "vec", "cluster")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(assigned, model.centers.zipWithIndex.map(_.swap), nLists)
  }

  /** Two-level coarse quantizer — the IVF build path past
    * [[suggestLists]]' documented wall. Flat [[ivfBuild]] pays
    * N·nLists·F flops to assign (every row scans every centroid) and,
    * with lists ∝ N, the sampled FIT still scans its 256·k-row sample
    * against k centers (256·k²·F·iters) plus k sequential
    * farthest-first driver jobs — at nLists ≈ 64k both are walls. This
    * build is hierarchical, the standard large-k IVF shape: k₁ ≈ √k
    * coarse cells (fit on a 256·k₁-row sample — driver-local sized by
    * construction, zero sequential seeding jobs), then one
    * sub-quantizer of k₂ = ⌈k/k₁⌉ centers per cell, all cells fit in
    * parallel inside executor tasks
    * ([[graft.scale.DeterministicKMeans.fitPerGroup]], fit cost
    * 256·k²/k₁·F·iters — √k-fold cheaper). Assignment ranks the k₁
    * cells, then scans only the `coarseProbes` nearest non-empty
    * cells' sub-centers: N·(k₁ + p·k₂)·F flops — at k = 65536, p = 4
    * that is ~51× fewer than flat, and the gap grows as √k.
    *
    * The returned index is a plain [[IvfIndex]] over the FLATTENED
    * centroid set (dense global ids, cell-major), so every probe and
    * composition (ivfTopK/Batch, IVF+SQ8, IVF+PQ, residual, append,
    * save/load) works unchanged; `index.k` is the realized list count
    * (empty sample cells own no lists, so it can be slightly under
    * `nLists`). Probe-side ranking still scores ALL centroids per
    * query ([[ivfProbes]] — k·F per query is fine, queries ≪ N).
    * Semantics: the centroid SET differs from the flat fit's (both are
    * just deterministic k-means solutions — IVF makes no optimality
    * claim about lists), assignment is argmin over the probed cells'
    * subs (ties → smaller global id), and at nprobe = index.k the
    * probe scans every list, so results equal the exact operator
    * whatever the quantizer produced — the same degenerate-point
    * invariant the sampled-training spec pins. Deterministic
    * end-to-end: hash-sample + deterministic fits + pure assignment.
    * Same L2-normalized contract as [[ivfBuild]].
    */
  def ivfBuildTwoLevel(
      emb: DataFrame, nLists: Int, trainPerList: Int = 256,
      coarseProbes: Int = 4): IvfIndex = {
    require(nLists > 0, s"nLists must be positive; got $nLists")
    require(coarseProbes > 0, s"coarseProbes must be positive; got $coarseProbes")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = idVec(emb)
    val k1 = math.max(1, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(nLists.toDouble / k1).toInt)
    val sample = trainSample(base, trainPerList.toLong * nLists)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val coarse = graft.scale.DeterministicKMeans.fit(
        trainSample(sample, trainPerList.toLong * k1), k1,
        maxIter = 15, idCol = "id", vecCol = "vec")
      val cellAssigned = graft.scale.DeterministicKMeans.assign(
        sample, coarse, idCol = "id", vecCol = "vec", clusterCol = "cell")
      val subs = graft.scale.DeterministicKMeans.fitPerGroup(
        cellAssigned, k2, maxIter = 15, idCol = "id", vecCol = "vec",
        groupCol = "cell")
      // flatten: dense global ids, cell-major / fit-order-minor — the
      // numbering every probe and the assignment tie-break share
      val subsByCell = new Array[Array[(Int, Array[Double])]](k1)
      var gid = 0
      var cell = 0
      while (cell < k1) {
        subsByCell(cell) = subs.get(cell) match {
          case Some(cs) => cs.map { c => val g = gid; gid += 1; (g, c) }
          case None => Array.empty[(Int, Array[Double])]
        }
        cell += 1
      }
      val flat = subsByCell.flatten
      val bcCoarse = spark.sparkContext.broadcast(coarse.centers)
      val bcSubs = spark.sparkContext.broadcast(subsByCell)
      val p = math.min(coarseProbes, k1)
      val assigned = base
        .as[(Long, Array[Double])]
        .map { case (id, x) =>
          val cc = bcCoarse.value
          val ss = bcSubs.value
          // rank the k1 cells by squared distance (ties → smaller cell)
          val order = Array.range(0, cc.length)
            .map { c =>
              var d = 0.0; var f = 0; val cv = cc(c)
              val n = math.min(x.length, cv.length)
              while (f < n) { val t = x(f) - cv(f); d += t * t; f += 1 }
              (d, c)
            }
            .sortBy(identity)
          var bestG = -1
          var bestD = Double.MaxValue
          var used = 0
          var i = 0
          while (i < order.length && used < p) {
            val cs = ss(order(i)._2)
            if (cs.nonEmpty) {
              used += 1
              var j = 0
              while (j < cs.length) {
                val (g, cv) = cs(j)
                var d = 0.0; var f = 0
                val n = math.min(x.length, cv.length)
                while (f < n) { val t = x(f) - cv(f); d += t * t; f += 1 }
                if (d < bestD || (d == bestD && g < bestG)) { bestD = d; bestG = g }
                j += 1
              }
            }
            i += 1
          }
          (id, x, bestG)
        }
        .toDF("id", "vec", "cluster")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      IvfIndex(assigned, flat, flat.length,
        Some(TwoLevelHier(coarse.centers, subsByCell.map(_.map(_._1)))))
    } finally sample.unpersist(blocking = false)
  }

  /** Release an in-memory index's cached assignment (no-op for a
    * loaded one — parquet-backed frames have no cache entry). */
  def ivfRelease(index: IvfIndex): Unit =
    index.assigned.unpersist(blocking = false)

  /** Incremental index maintenance: assign `newEmb` to the EXISTING
    * coarse quantizer (no refit) and extend the inverted lists — the
    * operation a continuously-ingesting corpus runs between periodic
    * rebuilds, at the cost of one assignment scan over the NEW rows
    * only (broadcast centroids, map-only) instead of a full k-means
    * refit over the corpus. Same `newEmb` contract as [[ivfBuild]]:
    * L2-normalized vectors, (id, vec) columns; ids are the caller's
    * namespace — this operator does not dedup against existing lists.
    *
    * The returned index persists the widened assignment and the input
    * index's cache is released after the new one materializes, so
    * repeated appends hold ONE copy of the lists, not a chain.
    * Centroids are unchanged — probe selection stays consistent with
    * every earlier query — which also means recall decays as the
    * appended distribution drifts from the fitted one: rebuild cadence
    * (e.g. every +30% rows) is the caller's contract, the classic IVF
    * maintenance trade.
    */
  def ivfAppend(index: IvfIndex, newEmb: DataFrame): IvfIndex = {
    val model = graft.scale.DeterministicKMeans.Model(
      index.centroids.sortBy(_._1).map(_._2))
    val newAssigned = graft.scale.DeterministicKMeans.assign(
        newEmb, model, idCol = "id", vecCol = "vec")
      .select("id", "vec", "cluster")
    val widened = index.assigned.unionByName(newAssigned)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    widened.count() // materialize before dropping the predecessor
    ivfRelease(index)
    // centroids (and so the cell → list map) are unchanged by append —
    // the hierarchy stays valid and rides along
    IvfIndex(widened, index.centroids, index.k, index.hier)
  }

  /** The nprobe nearest inverted lists for a query — public so recall
    * and scanned-fraction claims are measurable against the EXACT
    * probe set ivfTopK uses (SimilaritySpec's clustered-recall spec).
    */
  def ivfProbes(index: IvfIndex, query: Array[Double], nprobe: Int): Array[Int] =
    probesFor(index.centroids, query, nprobe)

  /** The flat probe selector: the `nprobe` lists nearest `query` by
    * (cosine distance, list id). The hierarchical selector ranks its
    * candidate lists through it too, and the streaming embed gate
    * picks its probe rows with it. */
  private[graft] def probesFor(
      centroids: Array[(Int, Array[Double])], query: Array[Double],
      nprobe: Int): Array[Int] =
    centroids
      .map { case (c, cv) =>
        (1.0 - graft.functions.VectorKernels.cosine(query, cv), c)
      }
      .sortBy(identity)
      .take(nprobe)
      .map(_._2)

  /** Default coarse-cell budget for AUTO-routed hierarchical probe
    * selection (mirrors [[ivfTopKBatchHier]]'s default). At ≤ 4
    * non-empty cells this is the degenerate point — probes equal the
    * flat array element-for-element — so every oracled/spec'd
    * configuration built at ≤ 16 lists (≤ 4 coarse cells) is
    * byte-unchanged by the routing.
    */
  private val DefaultCoarseCells = 4

  /** Probe selection for every batch face (VERDICT r9 #2): when the
    * index carries a [[TwoLevelHier]], pick probes hierarchically —
    * (√k + p·k/√k)·F flops per query instead of k·F — otherwise flat.
    * With corpus-proportional lists k grows with N, so the flat
    * selection is a hidden O(N)-per-query term; routing here makes the
    * DEFAULT batch/mining paths take the scale-safe plan whenever the
    * build side produced a hierarchy (which [[ivfBuildAuto]] does past
    * the measured 128-list flat-fit cliff), instead of leaving the
    * fast path as an opt-in sibling the un-tuned caller never finds.
    * The *Hier faces pass their explicit coarse-cell budget.
    */
  private def autoProbesFor(
      centroids: Array[(Int, Array[Double])], hier: Option[TwoLevelHier],
      query: Array[Double], nprobe: Int, coarseCells: Int): Array[Int] =
    hier.fold(probesFor(centroids, query, nprobe))(
      hierProbesFor(centroids, _, query, nprobe, coarseCells))

  /** The cell ranking of hierarchical probe selection: the best
    * `coarseCells` NON-EMPTY coarse cells by (cosine distance, cell id)
    * — the build-side assignment's probe semantics. Shared by
    * [[hierProbesFor]] and [[ivfTopKBatchHierSharded]]'s first stage,
    * which ships only the coarse centers and an emptiness mask. */
  private def cellsFor(
      coarse: Array[Array[Double]], nonEmpty: Int => Boolean,
      query: Array[Double], coarseCells: Int): Array[Int] =
    coarse.indices
      .map(c => (1.0 - graft.functions.VectorKernels.cosine(query, coarse(c)), c))
      .sorted.iterator.map(_._2).filter(nonEmpty).take(coarseCells).toArray

  /** Hierarchical probe selection against a [[TwoLevelHier]]-carrying
    * index: the sub-centers of the [[cellsFor]] cells only, ranked by
    * [[probesFor]]. Degenerate contract: at coarseCells ≥ the number of
    * non-empty cells every sub-center is scanned, so the returned
    * probes equal the flat [[probesFor]] array element-for-element
    * (spec-pinned) — pruning only ever removes cells, never reorders
    * lists.
    */
  private def hierProbesFor(
      centroids: Array[(Int, Array[Double])], hier: TwoLevelHier,
      query: Array[Double], nprobe: Int, coarseCells: Int): Array[Int] =
    probesFor(
      cellsFor(hier.coarse, hier.cellLists(_).nonEmpty, query, coarseCells)
        .flatMap(hier.cellLists(_)).map(g => (g, centroidOf(centroids, g))),
      query, nprobe)

  private def requireHier(index: IvfIndex, op: String): TwoLevelHier =
    index.hier.getOrElse(throw new IllegalArgumentException(
      s"$op needs a two-level index (build with ivfBuildTwoLevel, or " +
        "load one saved from it); this index has no hierarchy — use the " +
        "flat probe path (ivfTopK/ivfTopKBatch) instead"))

  /** The probe set [[ivfTopKHier]] uses — public for the same reason
    * as [[ivfProbes]]: recall and scanned-fraction claims must be
    * measurable against the exact list selection.
    */
  def ivfProbesHier(
      index: IvfIndex, query: Array[Double], nprobe: Int,
      coarseCells: Int): Array[Int] =
    hierProbesFor(index.centroids, requireHier(index, "ivfProbesHier"),
      query, nprobe, coarseCells)

  // ------------------------------------------------ raw IVF scan path

  /** The query width an IVF index was built for (its centroids'). */
  private def ivfDims(index: IvfIndex): Int =
    index.centroids.headOption.fold(0)(_._2.length)

  /** (id BIGINT, vec ARRAY<DOUBLE>) — or any other (id, vector) column
    * pair, e.g. a query frame's (qid, qvec) — under their own names. */
  private def idVec(
      df: DataFrame, id: String = "id", vec: String = "vec"): DataFrame =
    df.select(F.col(id).cast("long").as(id),
      F.col(vec).cast("array<double>").as(vec))

  /** The quantizer the executor probe fan-out reads: centroids and
    * optional hierarchy as broadcasts. Made once per batch call, or
    * once per (re)load by the streaming serve loop, which owns and
    * destroys them instead of re-shipping the table every micro-batch.
    */
  private[graft] final case class Quantizer(
      centroids: org.apache.spark.broadcast.Broadcast[Array[(Int, Array[Double])]],
      hier: org.apache.spark.broadcast.Broadcast[Option[TwoLevelHier]]) {
    def destroy(): Unit = { centroids.destroy(); hier.destroy() }
  }

  private[graft] def quantizer(index: IvfIndex): Quantizer = {
    val sc = index.assigned.sparkSession.sparkContext
    Quantizer(sc.broadcast(index.centroids), sc.broadcast(index.hier))
  }

  /** The executor probe fan-out of every probed batch face (raw and
    * codec) and of the hard-negative miner: each query becomes one row
    * per probed list ([[autoProbesFor]] — no per-query driver work),
    * built by `row` from the query (called once per query, so
    * per-query state such as a codec payload is built once) and the
    * list's id and centroid. `key` reads the query's (qid, qvec); a
    * query that is not `dims` wide fails its task — the scoring
    * kernels truncate to the shorter array and would answer wrongly.
    */
  private def fanOut[Q, R <: Product : TypeTag](
      queries: org.apache.spark.sql.Dataset[Q],
      key: Q => (Long, Array[Double]), dims: Int, qz: Quantizer,
      nprobe: Int, coarseCells: Int = DefaultCoarseCells)(
      row: Q => (Int, Array[Double]) => R): org.apache.spark.sql.Dataset[R] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.flatMap { q =>
      val (qid, qv) = key(q)
      requireDims(s"query $qid", qv.length, dims)
      val emit = row(q)
      val cents = qz.centroids.value
      autoProbesFor(cents, qz.hier.value, qv, nprobe, coarseCells)
        .iterator.map(l => emit(l, centroidOf(cents, l)))
    }
  }

  /** The cut guards of every raw face: k > 0, 0 < nprobe ≤ nLists. */
  private[graft] def requireRawCut(index: IvfIndex, k: Int, nprobe: Int): Unit =
    requireCut(k, k, Some(Probe(index, nprobe)))

  /** Single-query tail of every raw IVF face: the probed lists' rows
    * (`cluster IN probes` — partition-pruned on a saved layout),
    * optionally cut to a kept id set, scored by EXACT round-4 cosine
    * inside the scan — no candidate cut, no rerank join. Probes are
    * flat ([[ivfProbes]]), or hierarchical at `coarseCells`.
    * Output: (id, score), (score DESC, id ASC).
    */
  private def rawTopK(
      p: Probe, query: Array[Double], k: Int,
      coarseCells: Option[Int] = None): DataFrame = {
    requireRawCut(p.ivf, k, p.nprobe)
    requireDims("query", query.length, ivfDims(p.ivf))
    val probes = coarseCells.fold(ivfProbes(p.ivf, query, p.nprobe))(
      ivfProbesHier(p.ivf, query, p.nprobe, _))
    withKept(p.ivf.assigned.where(F.col("cluster").isin(probes.toSeq: _*)),
        p.kept)
      .select(F.col("id"),
        F.round(cosine(F.col("vec"), F.typedLit(query)), 4).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** Batch tail of every raw IVF face over (qid, cluster, qvec) probe
    * rows: ONE equi-join against the (kept) lists on the cluster id —
    * each query scans only its probed lists, co-grouped by list exactly
    * as the partitioned layout prunes on disk — exact round-4 cosines in
    * the join's projection, then the per-query top-k through
    * [[graft.scale.Skew.heapTopKPerKey]], whose map-side partials cut
    * the shuffle to |queries| × partitions × k pairs. `sorted = false`
    * skips the trailing global orderBy (a range-sampling pass + full
    * sort shuffle) for consumers that need no order, e.g. a Parquet
    * append.
    */
  private def rawScanBatch(
      probed: DataFrame, p: Probe, k: Int, sorted: Boolean): DataFrame = {
    val scored = probed
      .join(withKept(p.ivf.assigned, p.kept), "cluster")
      .select(F.col("qid"), F.col("id"),
        F.round(cosine(F.col("vec"), F.col("qvec")), 4).as("score"))
    val top = graft.scale.Skew.heapTopKPerKey(scored, "qid", "score", "id", k)
    if (sorted) top.orderBy(F.col("qid"), F.col("score").desc, F.col("id").asc)
    else top
  }

  /** Every raw batch face: [[fanOut]] to (qid, cluster, qvec) probe
    * rows — query vectors ride through the join once per probe, fine
    * for probe-bounded fan-out — then [[rawScanBatch]]. `qz` is the
    * serve loop's caller-owned quantizer; otherwise one is broadcast
    * for this call. Queries need (qid, qvec); output (qid, id, score).
    */
  private[graft] def rawTopKBatch(
      index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
      kept: Option[DataFrame] = None, coarseCells: Int = DefaultCoarseCells,
      qz: Option[Quantizer] = None, sorted: Boolean = true): DataFrame = {
    requireRawCut(index, k, nprobe)
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = fanOut(idVec(queries, "qid", "qvec").as[(Long, Array[Double])],
        identity[(Long, Array[Double])], ivfDims(index),
        qz.getOrElse(quantizer(index)), nprobe, coarseCells)(
        q => (l, _) => (q._1, l, q._2))
      .toDF("qid", "cluster", "qvec")
    rawScanBatch(rows, Probe(index, nprobe, kept), k, sorted)
  }

  /** [[ivfTopK]] with hierarchical probe selection — identical scan,
    * scoring, rounding and tie rules once the probes are chosen; only
    * WHICH lists are probed can differ (and cannot, at coarseCells ≥
    * non-empty cells — the degenerate contract on [[hierProbesFor]]).
    */
  def ivfTopKHier(
      index: IvfIndex, query: Array[Double], k: Int, nprobe: Int,
      coarseCells: Int = 4): DataFrame =
    rawTopK(Probe(index, nprobe), query, k, Some(coarseCells))

  /** [[ivfTopKBatch]] with hierarchical probe selection on the
    * executors: same broadcast-flatMap-join-heapTopK shape, but the
    * per-query probe choice costs (√k + p·k/√k)·F flops instead of
    * k·F. With corpus-proportional lists k grows with N, so the flat
    * batch path's probe selection is a hidden O(N)-per-query term —
    * this is the query-side mirror of the build-side cliff
    * [[ivfBuildTwoLevel]] exists for, and the path the fine-list
    * mining rows run on. The broadcast still ships all k sub-centers
    * (same bytes as the flat path — no regression); sharding
    * sub-centers into the probed lists' Parquet is
    * [[ivfTopKBatchHierSharded]], for once k·F itself outgrows a
    * broadcast (~512 MB at 1M lists × 64 dims).
    */
  def ivfTopKBatchHier(
      index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
      coarseCells: Int = 4): DataFrame = {
    requireHier(index, "ivfTopKBatchHier")
    rawTopKBatch(index, queries, k, nprobe, coarseCells = coarseCells)
  }

  /** Probed IVF top-k. `nprobe` sizing: with corpus-proportional
    * lists ([[suggestLists]]) a CONSTANT nprobe probes a halving
    * fraction per corpus doubling and recall decays geometrically —
    * size it with [[suggestNprobe]] (constant probe FRACTION, recall
    * measured flat across doublings). The same rule applies to every
    * codec face below that takes `nprobe` (SQ8/PQ/residual/binary
    * compositions and their batch/Where variants share this probe
    * selection).
    */
  def ivfTopK(index: IvfIndex, query: Array[Double], k: Int, nprobe: Int): DataFrame =
    rawTopK(Probe(index, nprobe), query, k)

  /** Predicate-selected id set shared by every Where face (raw and
    * codec): distinct so multi-valued metadata (several rows per id,
    * e.g. one per tag) cannot duplicate a probed candidate — a
    * duplicated (id, score) pair would burn top-k slots and
    * under-return distinct neighbors.
    */
  private def keptIds(meta: DataFrame, pred: Column): DataFrame =
    meta.where(pred).select("id").distinct()

  /** Apply an optional kept-id set to a slim candidate frame — the one
    * line every Where variant differs by, shared so the filtered and
    * unfiltered plans cannot drift anywhere else.
    */
  private def withKept(slim: DataFrame, kept: Option[DataFrame]): DataFrame =
    kept.fold(slim)(ids => slim.join(ids, Seq("id")))

  /** FILTERED ANN: [[ivfTopK]] with a metadata predicate applied
    * INSIDE the probed scan (pre-filtering, the faiss/vector-DB
    * `IDSelector` face) — the top-k among rows matching `pred`, not a
    * post-filter of an unfiltered top-k (which under-returns whenever
    * fewer than k of the unfiltered winners match). `pred` references
    * columns of `meta`, a (id, ...attributes) frame equi-joined to the
    * probed rows by id BEFORE scoring, so at scale the filter prunes
    * the scan rather than the result: with `meta` bucketed or riding
    * as extra columns of the lists Parquet the join is co-located, and
    * a selective predicate cuts the cosine work by its selectivity.
    * Selectivity caveat (documented, not silently absorbed): a highly
    * selective filter empties the probed lists — raise nprobe with
    * 1/selectivity, the standard filtered-IVF operating rule.
    */
  def ivfTopKWhere(
      index: IvfIndex, meta: DataFrame, pred: Column,
      query: Array[Double], k: Int, nprobe: Int): DataFrame =
    rawTopK(Probe(index, nprobe, Some(keptIds(meta, pred))), query, k)

  /** Batch face of [[ivfTopKWhere]]: the [[ivfTopKBatch]] probe
    * fan-out join with the predicate-filtered id set applied to the
    * lists before scoring — one filter join for ALL queries, bounded
    * exact per-query top-k after.
    */
  def ivfTopKBatchWhere(
      index: IvfIndex, meta: DataFrame, pred: Column,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    rawTopKBatch(index, queries, k, nprobe, kept = Some(keptIds(meta, pred)))

  /** MANY queries against the IVF index at once — the batch-retrieval
    * scale path. [[ivfTopK]] is one driver-side probe selection per
    * call; a million-query batch needs the probes chosen on the
    * EXECUTORS and a single join to do all the scanning:
    *   1. centroids broadcast; a map-only pass turns each query row
    *      into its `nprobe` (qid, cluster) probe rows ([[fanOut]]);
    *   2. ONE equi-join of the probe rows against the cluster-keyed
    *      lists, scored exactly, and the per-query bounded-heap top-k
    *      ([[rawScanBatch]]).
    * No per-query driver work, no window over all candidates in one
    * task. Queries need columns (qid, qvec); output (qid, id, score),
    * rank on the rounded score with id tiebreak (the engine's batch
    * parity convention).
    *
    * Probe selection AUTO-ROUTES (r10, VERDICT r9 #2): an index
    * carrying a [[TwoLevelHier]] (any [[ivfBuildTwoLevel]] /
    * size-routed [[ivfBuildAuto]] product, or a two-level save
    * reloaded) picks probes hierarchically at [[DefaultCoarseCells]]
    * — identical to flat at ≤ 4 non-empty cells, the scale-safe
    * (√k + p·k/√k)·F selection beyond. [[ivfTopKBatchHier]] remains
    * for an explicit coarse-cell budget; a flat index is unchanged.
    * The single-query [[ivfTopK]] always probes flat, so on a
    * two-level index past the degenerate point the two can differ by
    * design.
    */
  def ivfTopKBatch(
      index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    rawTopKBatch(index, queries, k, nprobe)

  /** The sub-center table of a two-level index: one row per inverted
    * list, keyed by its coarse cell — (cell INT, list INT, cvec
    * ARRAY<DOUBLE>). This is the TABLE form of what [[hierProbesFor]]
    * reads from the broadcast hierarchy, and the input
    * [[ivfTopKBatchHierSharded]] joins instead of shipping all k
    * sub-centers to every executor. At rest it should live next to the
    * lists as `partitionBy("cell")` Parquet (it is derived data —
    * rebuildable from the centroid + hierarchy sidecars, which is what
    * this function does), so probe selection prunes to the probed
    * cells' files exactly as the list scan prunes to the probed lists'.
    */
  def ivfSubCenters(index: IvfIndex): DataFrame = {
    val hier = requireHier(index, "ivfSubCenters")
    val spark = index.assigned.sparkSession
    val byId = index.centroids.toMap
    val rows = hier.cellLists.zipWithIndex.flatMap { case (lists, cell) =>
      lists.map(g => (cell, g, byId(g)))
    }
    spark.createDataFrame(rows.toSeq).toDF("cell", "list", "cvec")
  }

  /** [[ivfTopKBatchHier]] with probe selection as a JOIN against the
    * sub-center TABLE instead of a broadcast of all k sub-centers —
    * the scale form once k·F outgrows a broadcast (~512 MB at 1M lists
    * × 64 dims; k grows with the corpus under [[suggestLists]]).
    * Nothing query-sized or k-sized is ever resident in one place:
    *   1. broadcast ONLY the √k coarse centers (+ a per-cell emptiness
    *      mask) — ~512 KB at 1M lists — and fan each query out to its
    *      `coarseCells` best non-empty cells ([[cellsFor]], the
    *      broadcast path's own cell ranking);
    *   2. equi-join those (qid, cell, qvec) rows with the sub-center
    *      table on cell — each query scores only the probed cells'
    *      ~p·k/√k sub-centers, and the fat (qvec × cvec) rows exist
    *      only INSIDE the join tasks: what shuffles out is the slim
    *      (qid, dist, list) projection;
    *   3. exact per-query top-nprobe lists via [[graft.scale.Skew
    *      .heapTopKPerKey]] on (dist asc, list asc) — the same
    *      (distance, id) tie-break as [[probesFor]], and the
    *      distances are the same JVM doubles (shared kernel), so the
    *      probe SET is identical to the broadcast path's (spec-pinned
    *      by exact output equality at a pruned operating point);
    *   4. rejoin the chosen (qid, list) rows to the queries on qid and
    *      scan as every raw batch face does ([[rawScanBatch]]).
    * Pass `subCenters` to score against a persisted table (e.g. the
    * cell-partitioned Parquet written at index-build time) instead of
    * re-deriving it from the driver-resident hierarchy.
    */
  def ivfTopKBatchHierSharded(
      index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
      coarseCells: Int = 4, subCenters: Option[DataFrame] = None): DataFrame = {
    val hier = requireHier(index, "ivfTopKBatchHierSharded")
    requireRawCut(index, k, nprobe)
    val spark = queries.sparkSession
    import spark.implicits._
    val bcCoarse = spark.sparkContext.broadcast(hier.coarse)
    val bcNonEmpty = spark.sparkContext.broadcast(
      hier.cellLists.map(_.nonEmpty))
    val dims = ivfDims(index)
    val q = idVec(queries, "qid", "qvec")
    // stage 1: per-query coarse cells
    val probedCells = q
      .as[(Long, Array[Double])]
      .flatMap { case (qid, qv) =>
        requireDims(s"query $qid", qv.length, dims)
        val nonEmpty = bcNonEmpty.value
        cellsFor(bcCoarse.value, nonEmpty(_), qv, coarseCells)
          .map(cell => (qid, cell, qv))
      }
      .toDF("qid", "cell", "qvec")
    // stage 2+3: sub-center scoring join (fat rows die inside the
    // join projection) → slim exact top-nprobe lists per query
    val subs = subCenters.getOrElse(ivfSubCenters(index))
    val listDist = probedCells
      .join(subs, "cell")
      .select(F.col("qid"), F.col("list"),
        (F.lit(1.0) - cosine(F.col("qvec"), F.col("cvec"))).as("dist"))
    val chosen = graft.scale.Skew
      .heapTopKPerKey(listDist, "qid", "dist", "list", nprobe, desc = false)
      .select(F.col("qid"), F.col("list").as("cluster"))
    // stage 4: reattach qvec, then the shared probed scan
    rawScanBatch(chosen.join(q, "qid"), Probe(index, nprobe), k, sorted = true)
  }

  /** Persist an IVF index as cluster-partitioned Parquet plus a
    * centroid sidecar. A probe against the loaded index scans ONLY the
    * nprobe partitions (PartitionFilters prune the rest — asserted in
    * SimilaritySpec), which is what makes IVF sub-scan at 100 TB.
    */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$path/lists")
    // a re-save defines a NEW index: streamed appends under the old
    // quantizer would load as rows assigned by centroids that no
    // longer exist — remove them with the other stale artifacts
    locally {
      val spark = index.assigned.sparkSession
      val p = new org.apache.hadoop.fs.Path(s"$path/applists")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      // a stale swap marker beside a deliberately-removed applists would
      // make the next load wait-and-throw; a re-save starts clean
      val marker = SegmentTiers.swapMarker(s"$path/applists")
      if (fs.exists(marker)) fs.delete(marker, false)
    }
    val cent = index.centroids
      .map { case (c, v) => s"""[$c,[${v.mkString(",")}]]""" }
      .mkString("[", ",", "]")
    // Hadoop FS, same filesystem as the lists parquet — java.nio would
    // write a driver-LOCAL sidecar for hdfs://-s3a:// paths, leaving a
    // lists-only, unloadable index
    graft.api.ArrowSpaceModel.writeSidecar(
      index.assigned.sparkSession, s"$path/centroids.json",
      s"""{"k":${index.k},"centroids":$cent}""")
    // the hierarchy persists as its OWN sidecar (same (id,[values])
    // entry shape as the centroid file, so one parser serves both);
    // absence = a flat index — old saves load unchanged
    index.hier.foreach { h =>
      val coarse = h.coarse.zipWithIndex
        .map { case (v, c) => s"""[$c,[${v.mkString(",")}]]""" }
        .mkString("[", ",", "]")
      val cells = h.cellLists.zipWithIndex
        .map { case (g, c) => s"""[$c,[${g.mkString(",")}]]""" }
        .mkString("[", ",", "]")
      graft.api.ArrowSpaceModel.writeSidecar(
        index.assigned.sparkSession, s"$path/twolevel.json",
        s"""{"coarse":$coarse,"cells":$cells}""")
      // the sub-center TABLE (cell-partitioned) — what
      // [[ivfTopKBatchHierSharded]] joins at scale, written at save
      // time so probe selection reads Parquet instead of re-deriving
      // from the driver-resident hierarchy ([[ivfSubCentersAt]])
      ivfSubCenters(index).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$path/subcenters")
    }
    // a FLAT save over a path that previously held a two-level index
    // must remove the hierarchy artifacts: a stale twolevel.json /
    // subcenters/ would reference the OLD index's list ids, and loads
    // would silently serve wrong hierarchical probes over the new lists
    if (index.hier.isEmpty) {
      val spark = index.assigned.sparkSession
      val conf = spark.sessionState.newHadoopConf()
      Seq(s"$path/twolevel.json", s"$path/subcenters").foreach { stale =>
        val p = new org.apache.hadoop.fs.Path(stale)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
    }
  }

  /** The sub-center table a two-level [[ivfSave]] wrote — feed it to
    * [[ivfTopKBatchHierSharded]] for broadcast-free probe selection
    * against the persisted layout. Fails actionably when the save was
    * flat (or predates the subcenters layout — re-save to produce it).
    */
  def ivfSubCentersAt(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/subcenters")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p),
      s"no subcenters table under $path — the index there was saved flat " +
        "(or by a pre-subcenters version); build with ivfBuildTwoLevel and " +
        "ivfSave again, or derive the table in-memory with ivfSubCenters")
    spark.read.parquet(s"$path/subcenters").select("cell", "list", "cvec")
  }

  /** The quantizer half of [[ivfLoad]] — centroid sidecar parse only,
    * no directory listing, no lists union. The streaming gate's
    * per-batch hot path needs exactly this (its state scan reads the
    * lists itself, pruned); loading the full index there paid two
    * throwaway directory listings per micro-batch. Returns
    * (centroids, k).
    */
  private[graft] def ivfLoadQuantizer(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[(Int, Array[Double])], Int) = {
    val txt = readSidecar(spark, s"$path/centroids.json").getOrElse(
      throw new IllegalArgumentException(
        s"ivfLoadQuantizer($path): no centroids.json sidecar there"))
    (sidecarEntries(txt), intField(txt, "k"))
  }

  /** (id, [values]) entry parser shared by the centroid and hierarchy
    * sidecars. */
  private def sidecarEntries(txt: String): Array[(Int, Array[Double])] =
    "\\[(\\d+),\\[([^\\]]*)\\]\\]".r.findAllMatchIn(txt).map { m =>
      (m.group(1).toInt,
        if (m.group(2).isEmpty) Array.empty[Double]
        else m.group(2).split(",").map(_.toDouble))
    }.toArray

  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val base = spark.read.parquet(s"$path/lists")
      .select("id", "vec", "cluster")
    // streamed appends live in their own root (`applists`, partitioned
    // by (seg, cluster) — seg is the writing micro-batch's id, which
    // makes a replayed batch an idempotent overwrite instead of a
    // duplicate, ADVICE r9). Partition pruning on `cluster` applies to
    // BOTH scans, so a probe still reads only its nprobe lists from
    // each root; absence = no appends, the plain save layout.
    val ap = new org.apache.hadoop.fs.Path(s"$path/applists")
    val fs = ap.getFileSystem(spark.sessionState.newHadoopConf())
    // a compaction swap makes applists briefly absent between its two
    // renames; the marker distinguishes that window from a genuinely
    // append-free layout, so a racing load WAITS for the swap instead
    // of silently dropping every appended vector (ADVICE r10), and a
    // marker that never clears fails actionably. seg=-leaf check, not
    // bare existence: a zero-ADMIT gate batch commits an applists dir
    // holding only _SUCCESS (see SegmentTiers.segLeaves)
    val segs = SegmentTiers.awaitSwap(fs,
      SegmentTiers.swapMarker(s"$path/applists"), s"ivfLoad($path)")(
      SegmentTiers.segLeaves(fs, ap))
    val hasAppends = segs.nonEmpty
    // read-side backstop: segments folded by NOBODY (another writer's
    // stream with compaction disabled) accumulate unbounded seg= leaves
    // that every load lists and merges (VERDICT r13 #6)
    if (hasAppends)
      SegmentTiers.warnUncompacted(ap.toString, segs.size, "ivfLoad")
    val assigned =
      if (hasAppends)
        base.unionByName(
          spark.read.parquet(s"$path/applists").select("id", "vec", "cluster"))
      else base
    val (cent, k) = ivfLoadQuantizer(spark, path)
    // optional hierarchy sidecar (two-level saves only)
    val hier = readSidecar(spark, s"$path/twolevel.json").map { h =>
      val Array(coarseTxt, cellsTxt) = h.split("\"cells\":", 2)
      TwoLevelHier(
        sidecarEntries(coarseTxt).sortBy(_._1).map(_._2),
        sidecarEntries(cellsTxt).sortBy(_._1).map(_._2.map(_.toInt)))
    }
    IvfIndex(assigned, cent, k, hier)
  }

  /** Fold the streamed append segments of a saved layout into ONE
    * segment (VERDICT r9 #5a): a long-running [[graft.streaming
    * .StreamingOps.ivfAppendStream]] accumulates a file per (batch ×
    * touched list) — thousands of tiny files whose open/footer cost
    * eventually dominates the probed scans. This reads `applists`
    * (all segments), rewrites it as a single segment with
    * `maxRecordsPerFile`-bounded files, and swaps the directory in;
    * the BASE corpus under `lists` is never rewritten — at 100 TB the
    * base dwarfs the appends and recompacting it from an ingest hook
    * would be the real scale bug. The merged segment takes seg = -1 -
    * (previous most-negative), so it can never collide with a future
    * micro-batch id (those are >= 0 and monotone under one
    * checkpoint). Only segments below `maxSegExclusive` fold (ADVICE
    * r10): called from the ingest hook with the CURRENT batch id, the
    * in-flight segment stays its own dir, so a replay after a
    * post-compaction crash overlays its own leaves instead of
    * duplicating folded rows. `tiered` (the in-stream cadence folds)
    * rewrites only the [[SegmentTiers.select]] subset, so a big cold
    * merged segment is not re-copied on every fold. The swap runs
    * behind `applists_swap_marker`, which [[ivfLoad]] waits on; an
    * in-flight scan over the OLD files still fails and must retry,
    * which the reloading serve face does ([[SegmentTiers.fold]]).
    * Returns the number of files after compaction (0 = no appends).
    */
  def ivfCompactAppends(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileRows: Int = 4000000,
      maxSegExclusive: Long = Long.MaxValue,
      tiered: Boolean = false): Int =
    SegmentTiers.fold(spark, s"ivfCompactAppends($path)",
      SegmentTiers.swapMarker(s"$path/applists"), Seq(SegmentTiers.FoldDir(
        new org.apache.hadoop.fs.Path(s"$path/applists"),
        new org.apache.hadoop.fs.Path(s"$path/applists_compact_tmp"),
        new org.apache.hadoop.fs.Path(s"$path/applists_compact_old"),
        // cluster-aligned shuffle so each list leaf gets ONE file
        // (bounded by maxRecordsPerFile) — without it every input
        // segment task re-emits a file per touched cluster and the
        // "compaction" can leave the file count unchanged. Salted
        // within cluster (guide §2.5): a hot list's fold otherwise
        // serializes behind one task.
        (cur, merged, tmp) =>
          SegmentTiers.saltedRepartition(
              cur.select("id", "vec", "cluster"), "cluster", Seq("id"),
              targetFileRows.toLong)
            .withColumn("seg", F.lit(merged))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", targetFileRows.toLong)
            .partitionBy("seg", "cluster")
            .parquet(tmp))),
      maxSegExclusive, tiered)

  /** Remove vectors from a PERSISTED IVF layout in place — the
    * takedown sibling of [[graft.operators.Dedup.minhashLayoutRemove]]
    * (GDPR erasure, licensing retraction): anti-join the base lists
    * and every streamed append segment on `id`, rewrite into staging
    * siblings, swap behind the load marker. Partition values
    * (cluster; seg, cluster) are preserved row-for-row, so probe
    * pruning and the append replay contract are untouched. The
    * QUANTIZER is deliberately untouched: centroids were fit on data
    * that may include the removed rows — that is the same
    * frozen-quantizer contract as streamed appends, and the same
    * remedy applies when enough mass leaves ([[ivfRebuild]], or the
    * drift monitor's threshold if removal is continuous). Offline
    * maintenance: run with serve/ingest streams stopped, like
    * [[ivfRebuild]]. Returns the number of vectors removed.
    */
  def ivfLayoutRemove(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = SegmentTiers.swapMarker(s"$path/applists")
    // a crashed swap can leave `lists` absent: name its marker, not a
    // missing layout
    SegmentTiers.resumeOrRefuse(fs, s"ivfLayoutRemove($path)", marker)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/lists")),
      s"ivfLayoutRemove($path): no saved IVF layout there")
    SegmentTiers.removeRows(spark, s"ivfLayoutRemove($path)", path,
      marker, ids, "id",
      Seq(("lists", Seq("cluster")), ("applists", Seq("seg", "cluster"))),
      counted = _ => true,
      guard = ("lists", s"ivfLayoutRemove($path): removal would empty " +
        "the index — delete the layout instead of removing every vector"))
  }

  /** Remove vectors from a persisted CODEC layout in place — the
    * takedown face for [[sq8Save]] / [[binarySave]] / [[pqSave]] /
    * [[opqSave]], which all persist the same `codes/` Parquet (id +
    * packed codes) beside their JSON quantizer sidecars; one face
    * covers the whole family (VERDICT r12 #2 — GDPR erasure used to
    * cover only the minhash gate and IVF lists, leaving erased ids
    * retrievable through any persisted codec sidecar). Same protocol
    * as [[ivfLayoutRemove]]: anti-join on `id`, staged rewrite into a
    * `codes_remove_tmp` sibling, marker + two-rename swap (a marker
    * left behind means a crashed swap — the pre-swap codes survive
    * under `codes_remove_old`), refuse-to-empty guard. The quantizer
    * sidecar (stats/books/rotation) is deliberately untouched — it
    * was FIT on data that may include the removed rows, the same
    * frozen-quantizer contract as streamed IVF appends; re-fit with a
    * cold rebuild when enough mass leaves. Codes are derived data:
    * erasing the SOURCE row (documents/embeddings tables) is the
    * caller's job — this face guarantees the id can no longer be
    * RETURNED by any search over the layout. Offline maintenance (run
    * with serving stopped), like the IVF sibling. Returns the number
    * of code rows removed.
    */
  def codesLayoutRemove(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    val src = new org.apache.hadoop.fs.Path(s"$path/codes")
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = SegmentTiers.swapMarker(s"$path/codes")
    // a crashed swap can leave `codes` absent: name its marker first
    SegmentTiers.resumeOrRefuse(fs, s"codesLayoutRemove($path)", marker)
    require(fs.exists(src),
      s"codesLayoutRemove($path): no codes/ there — not a saved codec " +
        "layout (sq8Save/binarySave/pqSave/opqSave write codes/)")
    SegmentTiers.removeRows(spark, s"codesLayoutRemove($path)", path,
      marker, ids, "id",
      Seq(("codes", Nil)), counted = _ => true,
      guard = ("codes", s"codesLayoutRemove($path): removal would empty " +
        "the index — delete the layout instead of removing every vector"))
  }

  /** Drop-vs-drop EMBEDDING drift: occupancy PSI over the frozen
    * cells of a reference index. [[graft.operators.Profile
    * .psiFromHists]] monitors numeric columns; embeddings need their
    * own face — assign the CURRENT drop against the reference
    * quantizer (the same frozen-centroid recurrence as every append
    * path) and compare per-cell occupancy with the reference lists.
    * PSI < 0.1 stable / > 0.25 shifted, the same published rule of
    * thumb as [[graft.operators.Profile.psiBuckets]]; a high index
    * says the new drop's semantic mass sits in different cells —
    * exactly when the frozen-quantizer contract calls for
    * [[ivfRebuild]] (the [[graft.streaming.StreamingOps
    * .IvfIngestMonitor]] watches the same signal batch-by-batch at
    * ingest; this face compares two PERSISTED drops offline, no
    * stream required). Cost: one broadcast-assignment pass over the
    * current drop + two k-row aggregates — never an all-pairs
    * anything. Output: (cell, n_ref, n_cur, psi_term round-6) over
    * the full 0..k-1 domain, ordered by cell; sum psi_term for the
    * index.
    */
  def embeddingDriftPsi(ivf: IvfIndex, cur: DataFrame): DataFrame = {
    val model = graft.scale.DeterministicKMeans.Model(
      ivf.centroids.sortBy(_._1).map(_._2))
    def cells(assigned: DataFrame): DataFrame = assigned
      .groupBy("cluster").agg(F.count(F.lit(1)).as("n"))
      .select(F.col("cluster").cast("int").as("bucket"), F.col("n"))
    graft.operators.Profile.psiFromHists(
        cells(ivf.assigned),
        cells(graft.scale.DeterministicKMeans.assign(
          cur, model, idCol = "id", vecCol = "vec")),
        ivf.k)
      .withColumnRenamed("bucket", "cell")
  }

  /** REQUANTIZE a saved layout in place — the rebuild operator behind
    * the drift monitor (VERDICT r10 #2): the frozen-quantizer append
    * contract says "enough drift ⇒ rebuild", and this is the rebuild.
    * Reads base + streamed appends, re-fits the coarse quantizer at
    * corpus-proportional [[suggestLists]] sizing over the CURRENT row
    * count (routing two-level past the flat-fit cliff, exactly
    * [[ivfBuildAuto]]), saves the fresh layout into a staging sibling,
    * and swaps it in with two directory renames — the old layout
    * serves reads until the swap instant, so a live
    * [[graft.streaming.StreamingOps.ivfQueryStream]] keeps answering
    * and its reload/retry picks the new layout up (a load in the
    * two-rename window throws loudly — lists/ briefly absent — and the
    * serve loop's existing retry covers it).
    *
    * `maxSegExclusive` is the same replay guard as
    * [[ivfCompactAppends]]'s: called from the ingest hook with the
    * CURRENT batch id, segments >= it are NOT folded into the new base
    * — they are re-ASSIGNED against the fresh centroids and written as
    * their own segments in the new layout, so a replayed micro-batch
    * still overlays its own (seg, cluster) leaves instead of
    * duplicating rows the rebuild already absorbed.
    *
    * Deterministic end-to-end (hash-sampled fit + deterministic
    * k-means + pure assignment), so the swapped layout equals a cold
    * [[ivfBuildAuto]] + [[ivfSave]] over the same rows — the law
    * StreamingSpec pins. Returns the new list count.
    */
  def ivfRebuild(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetListSize: Int = 1250,
      maxSegExclusive: Long = Long.MaxValue): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/lists")),
      s"ivfRebuild($path): no saved IVF layout there (ivfSave writes lists/)")
    val base = spark.read.parquet(s"$path/lists").select("id", "vec")
    val ap = new org.apache.hadoop.fs.Path(s"$path/applists")
    val (folded, excluded) =
      if (SegmentTiers.hasSegs(fs, ap)) {
        val appends = spark.read.parquet(s"$path/applists")
        val inc = appends.where(F.col("seg").cast("long") < maxSegExclusive)
          .select("id", "vec")
        // excluded rows must survive the swap that deletes their files:
        // materialize off the layout (bounded — at most the in-flight
        // micro-batch) before any rename happens
        val exc = appends.where(F.col("seg").cast("long") >= maxSegExclusive)
          .select(F.col("seg").cast("long").as("seg"),
            F.col("id"), F.col("vec"))
          .localCheckpoint()
        (base.unionByName(inc), exc)
      } else (base, spark.emptyDataFrame)
    val lists = suggestLists(folded.count(), targetListSize)
    val fresh = ivfBuildAuto(folded, lists)
    val staging = s"${path}__rebuild_tmp"
    val stagingP = new org.apache.hadoop.fs.Path(staging)
    if (fs.exists(stagingP)) fs.delete(stagingP, true)
    try {
      ivfSave(fresh, staging)
      if (!excluded.isEmpty) {
        val model = graft.scale.DeterministicKMeans.Model(
          fresh.centroids.sortBy(_._1).map(_._2))
        // one write per excluded segment (usually exactly one — the
        // in-flight batch), so each lands under its own seg= root and
        // the replay-overlay contract carries over to the new layout
        excluded.select("seg").distinct().collect().map(_.getLong(0))
          .foreach { seg =>
            graft.streaming.StreamingOps.ivfAppendSegment(
              graft.scale.DeterministicKMeans.assign(
                excluded.where(F.col("seg") === seg), model,
                idCol = "id", vecCol = "vec")
                .select("id", "vec", "cluster"),
              staging, seg)
          }
      }
    } finally ivfRelease(fresh)
    // the swap: old layout intact (and serving) until here, then two
    // checked metadata renames; readers in the window fail loudly and
    // retry. An unchecked false on the first rename would claim a
    // successful rebuild while the STALE layout still serves, on
    // exactly the drift signal that demanded the rebuild.
    SegmentTiers.swap(fs, s"ivfRebuild($path)", None, Seq(SegmentTiers.Move(
      root, new org.apache.hadoop.fs.Path(s"${path}__rebuild_old"),
      Some(stagingP))))
    fresh.k
  }

  /** The drift→rebuild loop closed as ONE face (VERDICT r13 #5):
    * measure a drop's occupancy PSI against the saved layout's frozen
    * cells ([[embeddingDriftPsi]]) and run [[ivfRebuild]] iff it
    * crosses `psiThreshold` — the published PSI rule of thumb
    * (< 0.1 stable, > 0.25 shifted) as an executable policy instead
    * of two operators a pipeline must wire itself. Returns
    * (psi, rebuilt).
    *
    * The no-drift path costs ONE broadcast-assignment pass over `cur`
    * plus two k-row aggregates and touches nothing on disk
    * (measured as `s_ivf_serve_rebuild` in
    * history/SCALE_BENCH_r11_merged.json); the drift path pays the full
    * rebuild.
    * Call it the way the monitor loop would: ingest the drop first
    * (appends), then check — the rebuild folds base + committed
    * appends, so a drop that tripped the threshold is re-quantized
    * INTO the fresh layout rather than left behind. Offline
    * maintenance like [[ivfRebuild]] itself: run with serve/ingest
    * streams stopped or between triggers.
    */
  def rebuildIfDrifted(
      spark: org.apache.spark.sql.SparkSession, path: String,
      cur: DataFrame, psiThreshold: Double = 0.25,
      targetListSize: Int = 1250,
      maxSegExclusive: Long = Long.MaxValue): (Double, Boolean) = {
    require(psiThreshold > 0.0,
      s"psiThreshold must be positive; got $psiThreshold")
    val idx = ivfLoad(spark, path)
    val psi = embeddingDriftPsi(idx, cur)
      .agg(F.sum("psi_term")).head.getDouble(0)
    if (psi > psiThreshold) {
      ivfRebuild(spark, path, targetListSize, maxSegExclusive)
      (psi, true)
    } else (psi, false)
  }

  /** Requantize an in-memory index to corpus-proportional lists at a
    * new target list size — the one-call fix for the measured
    * amortized-mining scale trap (VERDICT r10 "what's wrong" #4): a
    * prebuilt index with default-ish coarse sizing carries ~N/k-row
    * lists, and every [[bitextMineApprox]] re-mine against it scores
    * nprobe·(N/k) rows per query; re-fitting at the fine-list target
    * (~40 rows) bounds that budget and routes two-level past the
    * 128-list cliff ([[ivfBuildAuto]]), after which the batch faces
    * auto-route hierarchical probe selection. Pays one quantizer fit —
    * amortized over subsequent re-mines exactly like the original
    * build. The caller owns both indexes' lifecycles ([[ivfRelease]]).
    */
  def ivfResizeLists(index: IvfIndex, targetListSize: Int = FineMineListTarget): IvfIndex = {
    val rows = index.assigned.select("id", "vec")
    ivfBuildAuto(rows, suggestLists(rows.count(), targetListSize))
  }

  /** Per-embedding L2 norms: (id, norm). */
  def norms(emb: DataFrame): DataFrame =
    emb.select(F.col("id"), F.round(l2norm(F.col("vec")), 4).as("norm"))

  /** Embedding-cosine near-duplicate pairs above a threshold —
    * exact, broadcast + per-partition primitive loops (no cartesian
    * shuffle); compose with LSH bucketing for scale (same contract as
    * minhashNearDupPairs).
    */
  def cosineNearDupPairs(
      emb: DataFrame, threshold: Double,
      maxRows: Long = ExactPairsMaxRows,
      knownRows: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val typed = idVec(emb).select($"id".as[Long], $"vec".as[Array[Double]])
    requireExactPairsBound(typed, maxRows, "cosineNearDupPairs",
      "KnnGraph.epsKnnEdges(eps = 1 - threshold) for candidates, then the exact cosine refine",
      knownRows)
    val bc = spark.sparkContext.broadcast(typed.collect())
    typed
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (idA, va) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < all.length) {
            val (idB, vb) = all(i)
            if (idA < idB) {
              val raw = graft.functions.VectorKernels.cosine(va, vb)
              // exact fast-path reject before the BigDecimal round:
              // round4 moves a value by at most 5e-5 (+ 1 ulp), so
              // raw < threshold - 1e-4 can never round to >= threshold
              // — the allocation-heavy round runs only near or above
              // the threshold; output is bit-identical.
              if (!(raw < threshold - 0.0001)) {
                val s = round4(raw)
                if (s >= threshold) out += ((idA, idB, s))
              }
            }
            i += 1
          }
          out
        }
      }
      .toDF("id_a", "id_b", "score")
      .orderBy(F.col("score").desc, F.col("id_a").asc, F.col("id_b").asc)
  }

  /** Contrastive hard-negative mining: for each query (qid, qvec,
    * qlabel), the exact top-k most-cosine-similar items whose label
    * DIFFERS from the query's — the highest-loss negatives for
    * contrastive/embedding training (the in-batch-negatives
    * alternative misses exactly these).
    *
    * 100 TB shape: "label ≠ qlabel" is a theta-join, which Spark can
    * only execute as a nested-loop join — instead each query is
    * EXPLODED into its (|labels|−1) negative label keys and the join
    * becomes a plain equi-join on `label`, co-partitioned and
    * shuffle-friendly at any query count (label skew in the top-k is
    * absorbed by the salted two-phase rank, same as searchBatch). The
    * label domain is collected once and gated at `maxLabels` — the
    * explode factor — so a mistakenly high-cardinality label column
    * (e.g. a doc id) fails with an actionable message instead of a
    * combinatorial blow-up. Exact brute-force scoring is the
    * baseline contract; at extreme scale mine candidates per label
    * partition with [[ivfTopKBatch]] first and refine here.
    *
    * Output: (qid, id, neg_label, score) — score is round-4 cosine;
    * ties broken by id ascending. Labels compare as strings.
    */
  def hardNegatives(
      emb: DataFrame, queries: DataFrame, k: Int,
      maxLabels: Int = 10000,
      maxScoredPairs: Long = 25000000L): DataFrame = {
    val spark = emb.sparkSession
    val items = emb.select(
      F.col("id").cast("long"),
      F.col("vec").cast("array<double>"),
      F.col("label").cast("string"))
    // the scored join below computes ~N×Q cosines — exact by contract,
    // quadratic by nature. Like every other exact operator here
    // (requireExactPairsBound), the cost is measured and gated with
    // the scale path named, never silently paid: two column-pruned
    // counts, then fail fast if the product exceeds the bound.
    // maxScoredPairs >= Long.MaxValue is the explicit opt-out.
    if (maxScoredPairs < Long.MaxValue) {
      val n = items.count()
      val nq = queries.count()
      require(n * nq <= maxScoredPairs,
        s"hardNegatives scores every (item, query) pair exactly — " +
          s"$n items × $nq queries = ${n * nq} cosines exceeds " +
          s"maxScoredPairs=$maxScoredPairs. At this scale use " +
          "hardNegativesApprox (IVF-pruned candidates, same output " +
          "contract, recall bounded by nprobe/nLists), or raise " +
          "maxScoredPairs explicitly if the N×Q cost is truly acceptable.")
    }
    // null labels are excluded from the domain BEFORE collect: the
    // documented semantics (label <> qlabel) drop null-label rows, the
    // equi-join below drops null keys anyway, and a null in the
    // collected array would NPE the driver-side sort (ADVICE r6)
    val labelRows = items.where(F.col("label").isNotNull)
      .select("label").distinct().limit(maxLabels + 1).collect()
    require(labelRows.length <= maxLabels,
      s"hardNegatives label domain exceeds maxLabels=$maxLabels — the " +
        "negative-label explode is sized by label cardinality; this looks " +
        "like a per-item id, not a class label. Raise maxLabels if intended.")
    val labels = labelRows.map(_.getString(0)).sorted.toSeq
    val expanded = queries
      .select(
        F.col("qid").cast("long"),
        F.col("qvec").cast("array<double>"),
        F.col("qlabel").cast("string"))
      .withColumn("label",
        F.explode(F.filter(F.typedLit(labels), l => l =!= F.col("qlabel"))))
      .drop("qlabel")
    val scored = items
      .join(expanded, "label")
      .select(F.col("qid"), F.col("id"), F.col("label").as("neg_label"),
        F.round(cosine(F.col("vec"), F.col("qvec")), 4).as("score"))
    // neg_label rides through selection — the payload case the window
    // form exists for (heapTopKPerKey carries only key/tie/score)
    graft.scale.Skew.saltedTopKPerKey(
        scored, "qid", Seq(F.col("score").desc, F.col("id").asc), k)
      .orderBy(F.col("qid"), F.col("score").desc, F.col("id").asc)
  }

  /** Approximate hard-negative mining — the 100 TB sibling of
    * [[hardNegatives]]: candidates come from IVF probe pruning instead
    * of scoring every (item, query) pair. Items are coarse-quantized
    * by [[graft.scale.DeterministicKMeans]] (the SAME model/predict
    * code path as [[ivfBuild]], so list assignment cannot drift from
    * the IVF operators); each query selects its `nprobe` nearest lists
    * on the executors (shared [[probesFor]] selection, broadcast
    * centroids, no per-query driver work); candidates are the probed
    * lists' items with `label <> qlabel`, scored by EXACT round-4
    * cosine; the salted two-phase top-k bounds every task. Work is
    * ~(nprobe/nLists)·N per query instead of N — the approximation is
    * purely which candidates are seen (scores are exact), so recall
    * loss is the probe-miss rate, measured at ≥0.9 on a clustered
    * corpus by SimilaritySpec.
    *
    * Same output contract as [[hardNegatives]]: (qid, id, neg_label,
    * score), top `k` per qid by (score DESC, id ASC); null item labels
    * are never negatives; a null qlabel yields no rows for that query
    * (the filter is null-strict, matching the exact operator).
    *
    * The per-query result is bounded (Q×k rows), so the operator
    * materializes it (localCheckpoint) and releases the assignment
    * cache before returning — callers get a plain frame, not a pinned
    * index to manage.
    */
  def hardNegativesApprox(
      emb: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 0, nprobe: Int = 0): DataFrame = {
    require(nLists >= 0,
      s"nLists must be positive, or 0 for corpus-proportional auto-sizing; got $nLists")
    require(nprobe >= 0,
      s"nprobe must be positive, or 0 for the sizing-matched default; got $nprobe")
    // refuse what the probed core would refuse, before the quantizer fit
    requireCut(k, k, None)
    require(nLists == 0 || nprobe <= nLists,
      s"need 0 < nprobe <= nLists; got nprobe=$nprobe nLists=$nLists")
    val spark = emb.sparkSession
    import spark.implicits._
    val items = emb.select(
      F.col("id").cast("long"),
      F.col("vec").cast("array<double>"),
      F.col("label").cast("string"))
    // same auto-sizing contract as [[bitextMineApprox]]: the floor
    // (16) reproduces the old fixed default at spec/oracle scale
    val lists =
      if (nLists > 0) nLists else suggestLists(items.count(), 625)
    // sizing-matched probes ([[suggestNprobe]]): lists grow with the
    // corpus, so a constant nprobe default silently probed a halving
    // FRACTION per doubling — the measured geometric recall decay
    // (1.00 → 0.87 → 0.69). The fraction-matched default holds the
    // probed share (and recall) flat, and its floor reproduces the
    // historical nprobe = 8 at every ≤ 64-list configuration.
    val np = if (nprobe > 0) nprobe else suggestNprobe(lists)
    // auto-sized builds route through the quantizer that survives
    // their k ([[autoBuild]]); an EXPLICIT nLists keeps the flat fit —
    // the caller chose the structure, and the oracled configuration
    // (nLists = 16) must keep its exact centroid recurrence
    val index = autoBuild(items.select("id", "vec"), lists,
      twoLevel = nLists == 0)
    val assigned = index.assigned
      .join(items.select(F.col("id"), F.col("label")), "id")
      .select("id", "vec", "label", "cluster")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count() // materialize before releasing the bare index
    ivfRelease(index)
    hardNegativesProbed(assigned, index, queries, k, np,
      release = Seq(assigned))
  }

  /** Size-routed IVF build: flat [[ivfBuild]] up to 128 lists,
    * [[ivfBuildTwoLevel]] past it. The cutoff is the measured cliff,
    * not a guess: at k = 256 (dims 64) the sampled flat fit (256·k
    * rows) crosses DeterministicKMeans' driver-local threshold into
    * the distributed path's k sequential seeding jobs — v_ivf_build
    * measured 38.7–46.6 s at 320k×64 vs 8.1 s for the two-level build
    * of 8010 lists on the SAME corpus
    * (history/SCALE_BENCH_r09_s160v.json) — and
    * wherever the flat fit runs its 256·k²·F·iters flops grow
    * quadratically in k, so routing just under the cliff keeps both
    * regimes comfortably linear. Every auto-sized path
    * ([[suggestLists]]-driven mining defaults) builds through this;
    * an EXPLICIT nLists in those operators keeps the flat fit the
    * caller chose.
    */
  def ivfBuildAuto(emb: DataFrame, nLists: Int): IvfIndex =
    if (nLists > 128) ivfBuildTwoLevel(emb, nLists)
    else ivfBuild(emb, nLists)

  private def autoBuild(
      emb: DataFrame, lists: Int, twoLevel: Boolean): IvfIndex =
    if (twoLevel) ivfBuildAuto(emb, lists)
    else ivfBuild(emb, lists)

  /** [[hardNegativesApprox]] against a PREBUILT [[IvfIndex]]: the
    * coarse-quantizer fit dominates the one-shot variant at scale
    * (measured: ~22 s of its 24 s at 80k×64 —
    * history/SCALE_BENCH_r07.json), and a
    * mining pipeline runs MANY query batches against one corpus, so
    * amortize it: build once with [[ivfBuild]], pass a slim (id,
    * label) frame, and each batch pays only the probe join. Labels
    * ride in via an id equi-join against the probe-bounded candidates
    * — never a corpus-wide re-join.
    */
  def hardNegativesApprox(
      index: IvfIndex, labels: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 0,
      s"nprobe must be positive, or 0 for the sizing-matched default; got $nprobe")
    val lab = labels.select(
      F.col("id").cast("long"), F.col("label").cast("string"))
    val assigned = index.assigned.join(lab, "id")
      .select("id", "vec", "label", "cluster")
    // same fraction-matched default as the one-shot: the prebuilt
    // index's list count already encodes the corpus size
    val np = if (nprobe > 0) nprobe else suggestNprobe(index.k)
    hardNegativesProbed(assigned, index, queries, k, np,
      release = Seq.empty)
  }

  /** Shared probe→filter→score→top-k core of both
    * [[hardNegativesApprox]] overloads (one fits its own quantizer,
    * one reuses an [[IvfIndex]]) — single code path, schemes can't
    * drift. `assigned` is `index`'s lists with labels; the query label
    * rides through the shared [[fanOut]]. Releases `release` after
    * materializing the bounded (Q×k) result via localCheckpoint.
    */
  private def hardNegativesProbed(
      assigned: DataFrame, index: IvfIndex,
      queries: DataFrame, k: Int, nprobe: Int,
      release: Seq[DataFrame]): DataFrame = {
    requireRawCut(index, k, nprobe)
    val spark = assigned.sparkSession
    import spark.implicits._
    val probed = fanOut(
        queries.select(F.col("qid").cast("long"),
            F.col("qvec").cast("array<double>"), F.col("qlabel").cast("string"))
          .as[(Long, Array[Double], String)],
        (q: (Long, Array[Double], String)) => (q._1, q._2), ivfDims(index),
        quantizer(index), nprobe)(q => (l, _) => (q._1, l, q._2, q._3))
      .toDF("qid", "cluster", "qvec", "qlabel")
    val scored = probed
      .join(assigned, "cluster")
      .where(F.col("label").isNotNull && F.col("label") =!= F.col("qlabel"))
      .select(F.col("qid"), F.col("id"), F.col("label").as("neg_label"),
        F.round(cosine(F.col("vec"), F.col("qvec")), 4).as("score"))
    val topk = graft.scale.Skew.saltedTopKPerKey(
        scored, "qid", Seq(F.col("score").desc, F.col("id").asc), k)
      .orderBy(F.col("qid"), F.col("score").desc, F.col("id").asc)
      .localCheckpoint()
    release.foreach(_.unpersist(blocking = false))
    topk
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019; the
    * LASER/CCMatrix criterion): align each document of side `a` with
    * its best counterpart in side `b` by the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((avgₖNN_B(x) + avgₖNN_A(y)) / 2)
    *
    * — raw cosine over-pairs hubs (vectors near everything) and
    * under-pairs outliers; dividing by the average similarity of each
    * side's k nearest neighbors normalizes both away, which is why
    * every large public parallel-corpus mine uses the margin, not the
    * cosine, as its score.
    *
    * Exact by contract and GATED like every exact all-pairs operator
    * here (|a|·|b| cosines, `requireExactPairsBound` on the combined
    * row count): the mining criterion needs each side's kNN
    * denominators, so candidate generation IS the scored join. At
    * 100 TB mine candidates with [[ivfTopKBatch]] per side (forward
    * and backward top-k lists), compute the same margins on those
    * bounded lists, and refine here — the formula and tie rules below
    * stay the contract.
    *
    * Output: (id_a, id_b, cos, margin) — one row per side-`a` doc: its
    * argmax-margin partner (raw-margin ties → smaller id_b), kept when
    * the ROUNDED margin exceeds `threshold`; cos/margin round-4;
    * ordered by id_a.
    */
  def bitextMine(
      a: DataFrame, b: DataFrame, k: Int = 4, threshold: Double = 1.0,
      maxRows: Long = 100000L): DataFrame = {
    require(k > 0, s"k must be positive; got $k")
    val sa = idVec(a).toDF("id_a", "va")
    val sb = idVec(b).toDF("id_b", "vb")
    requireExactPairsBound(
      sa.unionByName(sb.toDF("id_a", "va")), maxRows, "bitextMine",
      "ivfTopKBatch forward/backward candidate lists, then the same margin refine",
      None)
    val pairs = sa.crossJoin(sb)
      .select(F.col("id_a"), F.col("id_b"),
        cosine(F.col("va"), F.col("vb")).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fwd = graft.scale.Skew
        .heapTopKPerKey(pairs, "id_a", "cos", "id_b", k)
        .groupBy("id_a").agg(F.avg("cos").as("den_a"))
      val bwd = graft.scale.Skew
        .heapTopKPerKey(pairs, "id_b", "cos", "id_a", k)
        .groupBy("id_b").agg(F.avg("cos").as("den_b"))
      val margins = pairs
        .join(F.broadcast(fwd), "id_a")
        .join(F.broadcast(bwd), "id_b")
        .withColumn("margin",
          F.col("cos") / ((F.col("den_a") + F.col("den_b")) / 2))
      val best = graft.scale.Skew.saltedTopKPerKey(
          margins, "id_a", Seq(F.col("margin").desc, F.col("id_b").asc), 1)
        .select(F.col("id_a"), F.col("id_b"),
          F.round(F.col("cos"), 4).as("cos"),
          F.round(F.col("margin"), 4).as("margin"))
        .where(F.col("margin") > threshold)
        .orderBy("id_a")
        .localCheckpoint()
      best
    } finally pairs.unpersist(blocking = false)
  }

  /** Approximate bitext mining — the scale path [[bitextMine]]'s gate
    * error names, now a first-class operator: candidate pairs come
    * from IVF top-k lists instead of the |a|·|b| cross join, so the
    * cost is two coarse-quantizer builds plus two probe-pruned batch
    * retrievals (each `rows × nprobe/nLists` of a scan), never an
    * all-pairs product. The margin contract is CCMatrix's
    * (Schwenk et al. 2021): forward lists (each a queried against
    * index(b)) and backward lists (each b against index(a)), kNN-avg
    * denominators per side from those lists, candidates = forward ∪
    * backward pairs, ratio margin on round-4 cosines, argmax per id_a
    * (raw-margin ties → smaller id_b), keep ROUNDED margin >
    * `threshold`.
    *
    * Divergence from [[bitextMine]] is bounded and explicit: the
    * argmax searches the union candidate list, not all pairs, and the
    * denominators average IVF top-k (missed true neighbors raise the
    * margin slightly). A pair needs BOTH denominators — an id with an
    * empty probe result contributes no pairs. At nprobe = nLists the
    * lists are exact top-k, which is the oracle operating point
    * (v_bitext_mine_approx) — the pruning itself is measured at the
    * 40× scale bench and recall-pinned in SimilaritySpec.
    *
    * Output: (id_a, id_b, cos, margin) like the exact operator. The
    * result is MATERIALIZED (localCheckpoint, bounded by the mined
    * pair count) — the repo-wide materialized-result convention (cf.
    * Dedup.materializeAndRelease): its blocks live until a driver GC
    * or a harness checkpoint sweep reclaims them, so a long-lived
    * loop re-mining hundreds of drops should let each result go out
    * of scope (GC reclaims via ContextCleaner) rather than hold all
    * of them.
    */
  def bitextMineApprox(
      a: DataFrame, b: DataFrame, k: Int = 4, threshold: Double = 1.0,
      nLists: Int = 0, nprobe: Int = 0): DataFrame = {
    require(nLists >= 0,
      s"nLists must be positive, or 0 for corpus-proportional auto-sizing; got $nLists")
    require(nprobe >= 0,
      s"nprobe must be positive, or 0 for the sizing-matched default; got $nprobe")
    // nprobe's meaning depends on list granularity (it buys listSize
    // candidate rows per probe), so the default follows the sizing:
    // 16 probes over auto-sized ~40-row lists (the committed fine-list
    // operating point — ~640 scored rows/query) vs the historical 12
    // over an explicit flat index whose list size the caller chose.
    // An explicit nLists below 12 clamps the default to every list
    // (the same probe set: a probe selection stops at nLists lists).
    val np =
      if (nprobe > 0) nprobe else if (nLists > 0) math.min(12, nLists) else 16
    val (sa, sb) = (idVec(a), idVec(b))
    // nLists = 0 (the default) sizes each side's lists to ITS corpus
    // at FINE granularity (~40-row lists, [[suggestLists]]): scored
    // candidate volume is the measured cost driver of the mining rows
    // (per-pair cost is flat across scale points), and 40-row lists at
    // the default nprobe budget score ~an order of magnitude fewer
    // rows per query than the 625-row sizing this default shipped with
    // through r9 — the committed fine-list rows ran 21-48 s where the
    // 625-list defaults ran 122-322 s at the same points (VERDICT r9
    // #2). Fine sizing crosses ivfBuildAuto's 128-list threshold at
    // ~5k rows/side, so the build is two-level and the batch
    // retrievals inside route hierarchically ([[autoProbesFor]]) —
    // the un-tuned call takes the scale-safe plan end to end. The
    // sizing floor (16) keeps spec/oracle-scale corpora on the flat
    // fit, byte-unchanged. Explicit nLists keeps the flat fit the
    // caller chose.
    val idxB = autoBuild(sb,
      if (nLists > 0) nLists else suggestLists(sb.count(), FineMineListTarget),
      twoLevel = nLists == 0)
    val idxA = autoBuild(sa,
      if (nLists > 0) nLists else suggestLists(sa.count(), FineMineListTarget),
      twoLevel = nLists == 0)
    try bitextMineApprox(idxA, idxB, sa, sb, k, threshold, np)
    finally {
      ivfRelease(idxA)
      ivfRelease(idxB)
    }
  }

  /** Prebuilt-index overload — the amortized continuous-mining shape
    * (same pattern as [[hardNegativesApprox]]'s index overload): the
    * two quantizer fits dominate the one-shot at scale (measured at
    * the 40× bench) and a mining pipeline re-mines per drop against
    * stable corpora, so fit once with [[ivfBuild]] / [[ivfSave]] and
    * pay only probe + score per batch. `idxA` indexes side `a` (the
    * backward-direction index), `idxB` side `b` (forward). Same
    * output and contract as the one-shot; parity spec-pinned.
    */
  def bitextMineApprox(
      idxA: IvfIndex, idxB: IvfIndex, a: DataFrame, b: DataFrame,
      k: Int, threshold: Double, nprobe: Int): DataFrame = {
    // scale-trap guard (VERDICT r10 "what's wrong" #4): a re-mine's
    // scored-pair budget is nprobe · meanListSize per query, so a
    // prebuilt index at coarse default sizing (~1250-row lists) costs
    // ~30× the fine-list mining target per query — measured as the
    // board's heaviest ANN row (148 s vs 34–48 s siblings at 80×). The
    // sides are fully scanned below anyway, so the count that detects
    // it is marginal; warn loudly (not Debug-gated) and name the fix.
    locally {
      val warnAt = 4L * FineMineListTarget
      def check(name: String, idx: IvfIndex, n: Long): Unit = {
        val mean = if (idx.k <= 0) 0L else n / math.max(1, idx.k)
        if (mean > warnAt)
          org.apache.logging.log4j.LogManager.getLogger("graft").warn(
            s"bitextMineApprox: prebuilt $name has ~$mean rows/list " +
              s"(${idx.k} lists over $n rows) — each re-mine scores " +
              s"nprobe*$mean rows/query. For amortized mining rebuild " +
              s"it at fine granularity: ivfResizeLists(idx, " +
              s"$FineMineListTarget) (one fit, then every re-mine is " +
              "probe-bounded and hierarchically routed).")
      }
      check("idxA", idxA, a.count())
      check("idxB", idxB, b.count())
    }
    mineBitext(idxA, idxB, a, b, threshold)(
      (idx, _, qs) => ivfTopKBatch(idx, qs, k, nprobe))
  }

  /** [[bitextMineApprox]]'s prebuilt-index overload with HIERARCHICAL
    * probe selection ([[ivfTopKBatchHier]]) — the fine-list re-mine
    * shape: both indexes are [[ivfBuildTwoLevel]] products at small
    * target lists, so each of the two retrievals picks probes in
    * (√k + p·k/√k)·F per query instead of scanning all k sub-centers.
    * Margin semantics are IDENTICAL (shared [[marginFromLists]]); the
    * only divergence source is list selection, and at coarseCells ≥
    * non-empty cells that too is the flat path's exactly
    * ([[hierProbesFor]]'s degenerate contract) — parity spec-pinned.
    */
  def bitextMineApproxHier(
      idxA: IvfIndex, idxB: IvfIndex, a: DataFrame, b: DataFrame,
      k: Int, threshold: Double, nprobe: Int,
      coarseCells: Int = 4): DataFrame =
    mineBitext(idxA, idxB, a, b, threshold)(
      (idx, _, qs) => ivfTopKBatchHier(idx, qs, k, nprobe, coarseCells))

  /** The retrieve-then-margin body of every prebuilt bitext mine: cast
    * both sides, retrieve the forward lists (each a against `idxB`) and
    * the backward lists (each b against `idxA`) with `topK(index, the
    * indexed side's rows, (qid, qvec) queries)`, then the shared
    * [[marginFromLists]]. The lists are persisted, NOT localCheckpoint:
    * each feeds both a denominator aggregate and the candidate union,
    * and persist is releasable in the finally — a checkpoint would pin
    * |a|·k + |b|·k rows of dead blocks for the rest of the session (the
    * accumulation failure VERDICT r7 #2 diagnosed). The indexes are the
    * CALLER's; only the lists are released here.
    */
  private def mineBitext[I](
      idxA: I, idxB: I, a: DataFrame, b: DataFrame, threshold: Double)(
      topK: (I, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (sa, sb) = (idVec(a), idVec(b))
    def asQueries(side: DataFrame) =
      side.select(F.col("id").as("qid"), F.col("vec").as("qvec"))
    val fwd = topK(idxB, sb, asQueries(sa)).select(F.col("qid").as("id_a"),
      F.col("id").as("id_b"), F.col("score").as("cos"))
    val bwd = topK(idxA, sa, asQueries(sb)).select(F.col("id").as("id_a"),
      F.col("qid").as("id_b"), F.col("score").as("cos"))
    val lists = Seq(fwd, bwd)
    lists.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try marginFromLists(fwd, bwd, threshold)
    finally lists.foreach(_.unpersist(blocking = false))
  }

  /** Shared CCMatrix margin/argmax stage of [[bitextMineApprox]] and
    * [[bitextMinePq]]: kNN-average denominators per side from the
    * persisted forward/backward lists, candidates = forward ∪ backward,
    * ratio margin, argmax per id_a (raw-margin ties → smaller id_b),
    * keep ROUNDED margin > threshold. One code path so the retrieval
    * backends cannot drift in margin semantics. The eager
    * localCheckpoint materializes the RESULT before callers release
    * the lists it was derived from.
    */
  private def marginFromLists(
      fwd: DataFrame, bwd: DataFrame, threshold: Double): DataFrame = {
    val denA = fwd.groupBy("id_a").agg(F.avg("cos").as("den_a"))
    val denB = bwd.groupBy("id_b").agg(F.avg("cos").as("den_b"))
    val cand = fwd.unionByName(bwd).dropDuplicates("id_a", "id_b")
    // NO broadcast hint: the denominator frames are corpus-sized
    // (one row per a / per b) — exactly the unbounded-broadcast
    // anti-pattern VERDICT r7 #3 flagged in kCore. AQE picks.
    val margins = cand
      .join(denA, "id_a")
      .join(denB, "id_b")
      .withColumn("margin",
        F.col("cos") / ((F.col("den_a") + F.col("den_b")) / 2))
    graft.scale.Skew.saltedTopKPerKey(
        margins, "id_a", Seq(F.col("margin").desc, F.col("id_b").asc), 1)
      .select(F.col("id_a"), F.col("id_b"),
        F.round(F.col("cos"), 4).as("cos"),
        F.round(F.col("margin"), 4).as("margin"))
      .where(F.col("margin") > threshold)
      .orderBy("id_a")
      .localCheckpoint()
  }

  /** Code-pruned bitext mining — [[bitextMineApprox]] with the two
    * probed-list retrievals composed with PQ codes ([[ivfPqTopKBatch]]
    * instead of [[ivfTopKBatch]]): the probed lists still decide WHICH
    * rows each query scores, but the scan now reads m-byte ADC codes
    * instead of d·8-byte float64 vectors, and the full-precision side
    * is touched only by the bounded per-query rerank. This is the
    * constant-factor fix for the measured scale profile of the mining
    * re-runs (VERDICT r8: the two retrievals scanning exact float64
    * vectors in probed lists dominate the re-mine cost — the codes
    * machinery bounds exactly that term).
    *
    * Margin semantics are IDENTICAL to [[bitextMineApprox]] (shared
    * [[marginFromLists]]); the only new divergence source is the
    * retrieval lists themselves: each list is the exact-cosine top-k of
    * the `rerank` best ADC candidates within the probed lists, so at
    * nprobe = nLists and rerank ≥ side size the lists are exact top-k
    * and the operator degenerates to [[bitextMineApprox]] at full
    * probes — the oracle operating point (v_bitext_mine_pq); the
    * production point's recall is spec-pinned. Output: (id_a, id_b,
    * cos, margin), materialized (localCheckpoint), like the siblings.
    * `nprobe = 0` (the default) probes min(12, nLists) lists; a bad k,
    * rerank or explicit nprobe is refused before any fit.
    */
  def bitextMinePq(
      a: DataFrame, b: DataFrame, k: Int = 4, threshold: Double = 1.0,
      nLists: Int = 16, nprobe: Int = 0, m: Int = 8, ksub: Int = 64,
      rerank: Int = 64): DataFrame = {
    requireCut(k, rerank, None)
    require(nprobe >= 0 && nprobe <= nLists,
      s"need 0 < nprobe <= nLists, or 0 for min(12, nLists); got nprobe=$nprobe nLists=$nLists")
    val np = if (nprobe > 0) nprobe else math.min(12, nLists)
    val (sa, sb) = (idVec(a), idVec(b))
    val idxB = ivfBuild(sb, nLists)
    val idxA = ivfBuild(sa, nLists)
    val pqB = pqBuild(sb, m, ksub)
    val pqA = pqBuild(sa, m, ksub)
    try bitextMinePq(idxA, idxB, pqA, pqB, sa, sb, k, threshold, np, rerank)
    finally {
      ivfRelease(idxA); ivfRelease(idxB)
      pqRelease(pqA); pqRelease(pqB)
    }
  }

  /** Prebuilt-index overload of [[bitextMinePq]] — the amortized
    * continuous-mining shape: the two quantizer fits AND the two PQ
    * codebook fits are paid once ([[ivfBuild]]/[[pqBuild]] or their
    * save/load forms); each re-mine pays only probe + m-byte ADC scan
    * + bounded rerank. `idxA`/`pqA` index side `a` (the backward
    * direction), `idxB`/`pqB` side `b` (forward).
    */
  def bitextMinePq(
      idxA: IvfIndex, idxB: IvfIndex, pqA: PqIndex, pqB: PqIndex,
      a: DataFrame, b: DataFrame, k: Int, threshold: Double, nprobe: Int,
      rerank: Int): DataFrame =
    mineBitext((idxA, pqA), (idxB, pqB), a, b, threshold) {
      case ((idx, pq), side, qs) =>
        ivfPqTopKBatch(idx, pq, side, qs, k, nprobe, rerank)
    }
}
