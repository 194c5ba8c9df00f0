package graft.graph

import graft.core.GraphParams
import graft.functions.VectorFunctions._
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Distributed eps-kNN similarity graph over item embeddings
  * (reference semantics: GRAPH_VARIABLES.md:7-10 — rectified-cosine
  * distance d = 1−max(0,cos); keep d ≤ eps; cap at the k nearest per
  * node; symmetrize; weight w = 1/(1+(d/σ)^p)).
  *
  * Three physical strategies behind one logical contract:
  *   - brute force for small N: broadcast table + per-partition
  *     bounded heap — exact top-k, zero shuffle;
  *   - KMeans cluster blocking (default at scale): top-p centroid
  *     assignment bounds candidates to O(N·blockSize), equi-join only;
  *   - `BucketedRandomProjectionLSH` candidate generation. On
  *     L2-normalized vectors Euclidean distance is monotone in cosine
  *     (d_e² = 2−2·cos), so the eps threshold maps exactly to a
  *     Euclidean radius √(2·eps) — candidate generation only affects
  *     recall; every surviving edge distance is exact.
  *
  * Output schema: (src: Long, dst: Long, dist: Double, weight: Double),
  * symmetric (both directions present).
  */
object KnnGraph {

  /** Above this row count the builder switches to a candidate-
    * generation path (cluster blocking by default).
    */
  val BruteForceMaxRows = 20000L

  sealed trait Strategy
  object Strategy {
    /** brute force ≤ BruteForceMaxRows, else cluster-blocked. */
    case object Auto extends Strategy
    case object BruteForce extends Strategy
    case object Lsh extends Strategy
    case object ClusterBlocked extends Strategy
  }

  /** Knobs for the opt-in LSH strategy — the pruning/recall dial.
    *
    * RECALL REGIME: `approxSimilarityJoin` only emits pairs co-bucketed
    * in at least one of `numHashTables` tables, and the exact
    * `dist <= eps` refine REMOVES false positives but can never recover
    * a pair the bucketing missed — LSH false negatives are final. The
    * default `bucketLength = radius/2` (radius = √(2·eps)) prunes hard:
    * a within-radius pair lands in the same bucket with probability
    * ~0.6-0.8 per table (≥ ~0.95 across 3 tables), so a few percent of
    * true eps-edges CAN drop. For HIGHER recall set
    * `bucketLength = Some(2.0)` — the pre-r4 wide-bucket behavior: unit
    * vectors project into [-1, 1], so floor(p/2) still yields ~2
    * buckets per table split at 0, and a pair projecting on opposite
    * sides of 0 in every table is still missed (up to ~2% for pairs
    * near the radius) while the candidate join degrades toward
    * all-pairs — and/or raise `numHashTables`, which drives the miss
    * rate down exponentially. For GUARANTEED exact recall use the
    * BruteForce/ClusterBlocked strategies; the default Auto never
    * picks Lsh. For harder pruning lower bucketLength.
    */
  final case class LshOptions(
      bucketLength: Option[Double] = None, // None = radius/2 heuristic
      numHashTables: Int = 3) {
    require(numHashTables > 0, s"numHashTables must be positive, got $numHashTables")
    require(bucketLength.forall(_ > 0.0),
      s"bucketLength must be positive, got ${bucketLength.get}")
  }

  /** items: (id: Long, vnorm: Array[Double]) — pre-normalized vectors. */
  def epsKnnEdges(
      items: DataFrame,
      params: GraphParams,
      nItems: Long,
      strategy: Strategy = Strategy.Auto,
      lshOptions: LshOptions = LshOptions()): DataFrame = {
    val useBrute = strategy == Strategy.BruteForce ||
      (strategy == Strategy.Auto && nItems <= BruteForceMaxRows)
    val directed =
      if (useBrute) directedBruteForce(items, params)
      else strategy match {
        case Strategy.Lsh => directedLsh(items, params, lshOptions)
        case _ => directedClusterBlocked(items, params, nItems)
      }

    // Per-node top-k by smallest distance (deterministic tie-break on
    // dst), then symmetrize: an edge survives if either endpoint
    // selected it. The brute-force path already emits exact top-k per
    // node — no window shuffle needed there.
    val capped =
      if (useBrute) directed
      else
        // bounded-heap cap: a hub node's candidate list heaps down to
        // k inside every map task (SURVEY.md §7.4 skew register) and
        // only |nodes| × partitions × k pairs shuffle
        graft.scale.Skew.heapTopKPerKey(
          directed, "src", "dist", "dst", params.k, desc = false)
    val sym = capped
      .unionByName(capped.select(
        F.col("dst").as("src"), F.col("src").as("dst"), F.col("dist")))
      .groupBy("src", "dst").agg(F.min("dist").as("dist"))
    sym.withColumn("weight", weightKernel(F.col("dist"), params.sigmaValue, params.p))
  }

  /** Exact top-k per node with no shuffle: the (≤ BruteForceMaxRows)
    * table is decoded once and broadcast, and every partition scans it
    * with [[graft.scale.BlockScore]], keeping one bounded heap per
    * source row and emitting at most k edges per source — the
    * TakeOrderedAndProject idea applied per row. The N² distance work
    * is unavoidable for exactness; the N² *shuffle* is not.
    */
  private def directedBruteForce(items: DataFrame, params: GraphParams): DataFrame = {
    import graft.scale.BlockScore
    val side = items.select(F.col("id").cast("long"), F.col("vnorm").cast("array<double>"))
    BlockScore.scan(side, BlockScore.Block.collect(side),
      BlockScore.Within(params.eps, params.k), Seq("src", "dst", "dist"))
  }

  /** [[epsKnnEdges]]' brute-force edges of the driver-held (id, vnorm)
    * rows decoded in `nodes`, in ONE job: the same
    * [[graft.scale.BlockScore]] `Within` scan, of the block against
    * itself ([[graft.scale.BlockScore.scanSelf]]); the k-capped edges
    * come back to the driver, which symmetrises them with the min
    * distance and folds [[weightKernel]] over a local frame. Returns the
    * edges as a local frame sorted by (src, dst): the rows the
    * distributed path returns, in a fixed order. */
  private[graft] def localEdges(spark: SparkSession, nodes: graft.scale.BlockScore.Block,
      params: GraphParams): DataFrame = {
    import graft.scale.BlockScore
    val directed = BlockScore.scanSelf(spark, nodes, BlockScore.Within(params.eps, params.k),
      spark.sparkContext.defaultParallelism)
    val sym = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    directed.foreach { case (a, b, d) =>
      Seq((a, b), (b, a)).foreach(e => sym(e) = sym.get(e).fold(d)(math.min(_, d)))
    }
    val rows = sym.toSeq.sortBy(_._1).map { case ((a, b), d) => InternalRow(a, b, d) }
    val weighted = Shim.localFrame(spark, StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType, nullable = false), StructField("dist", DoubleType))), rows)
      .withColumn("weight", weightKernel(F.col("dist"), params.sigmaValue, params.p))
    Shim.localFrame(spark, weighted.schema, graft.core.DriverLocal.folded(weighted))
  }

  private def directedLsh(
      items: DataFrame, params: GraphParams, options: LshOptions): DataFrame = {
    // hash L2-normalized vectors regardless of the builder's
    // `normalise` flag: the √(2·eps) Euclidean radius is only
    // meaningful on the unit sphere, and with raw vectors (normalise =
    // false) candidate recall would silently collapse. The exact
    // rectified-cosine refine below is scale-invariant, so normalizing
    // only the hashed copy changes recall, never the result contract.
    val withVec = items.withColumn(
      "features", array_to_vector(l2normalize(F.col("vnorm"))))
    // d_e² = 2·(1−cos) on unit vectors, while d_rect = 1−max(0,cos):
    // the mapping radius = √(2·eps) is exact only for eps < 1 (cos ≥ 0).
    // At eps ≥ 1 every pair qualifies (d_rect ≤ 1 always), but
    // negative-cosine pairs sit at Euclidean distance in (√2, 2] — the
    // radius must be the full unit-sphere diameter 2, not √(2·eps).
    val radius0 =
      if (params.eps >= 1.0) 2.0 else math.sqrt(2.0 * params.eps)
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features")
      .setOutputCol("hashes")
      // bucket length sized to the JOIN RADIUS by default, not a
      // constant: unit vectors project into [-1, 1], so a fixed 2.0
      // collapses every table to ~2 buckets and the "scale path"
      // candidate join is near-cartesian. radius/2 keeps pairs within
      // the radius likely co-bucketed while splitting each table into
      // ~4/radius buckets — at the recall cost documented on
      // [[LshOptions]] (false negatives are unrecoverable; callers
      // needing near-exact recall pass bucketLength = Some(2.0) or
      // more tables). (At eps >= 1 the REQUEST itself is all pairs at
      // any angle — inherently dense; prefer cluster-blocked there.)
      .setBucketLength(
        options.bucketLength.getOrElse(math.max(0.1, radius0 / 2.0)))
      .setNumHashTables(options.numHashTables)
      .setSeed(params.seed)
    val model = lsh.fit(withVec)
    // approxSimilarityJoin filters distCol < threshold STRICTLY, so
    // nudge the radius up one ulp-ish step or boundary pairs (exact
    // antipodes at d_e = 2, or cos = 1−eps at d_e = √(2·eps)) drop;
    // the exact `dist <= eps` refine below keeps the result tight.
    val radius = math.nextUp(radius0) + 1e-9
    model
      .approxSimilarityJoin(withVec, withVec, radius, "euclid")
      .select(
        F.col("datasetA.id").as("src"),
        F.col("datasetA.vnorm").as("va"),
        F.col("datasetB.id").as("dst"),
        F.col("datasetB.vnorm").as("vb"))
      .where(F.col("src") =!= F.col("dst"))
      .withColumn("dist", cosineDistance(F.col("va"), F.col("vb")))
      .where(F.col("dist") <= params.eps)
      .select("src", "dst", "dist")
  }

  /** Candidate generation by KMeans blocking (the reference's
    * auto-clustering stage, SURVEY.md §2.2 S4, re-purposed the
    * Spark-idiomatic way): fit K = max(autoK(N), N/2000) centroids
    * (seeded), assign every point to its top-2 nearest centroids, and
    * self-join only within blocks. Total candidate pairs are
    * O(N · blockSize) — linear in N at fixed block size — and the
    * block join is an equi-join, so AQE handles skewed blocks.
    */
  private def directedClusterBlocked(
      items: DataFrame, params: GraphParams, nItems: Long,
      probes: Int = 2): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    val spark = items.sparkSession
    import spark.implicits._
    // S4 auto-clustering: Two-NN intrinsic dimension → ID-aware elbow
    // around the closed-form anchor (reference suggested_eps.md:7-11),
    // floored at N/2000 so blocks stay broadcast-joinable at scale.
    val id = graft.scale.TwoNN.intrinsicDimension(
      items, seed = params.seed, knownCount = nItems)
    val kAuto = graft.scale.TwoNN.chooseK(items, nItems, id, params.seed)
    // cap k at 2^16: past that the MLlib center table itself stops
    // being comfortably broadcastable (k·F doubles per executor) and
    // block sizes of N/65536 are already small enough to self-join
    val k = math.min(1 << 16, math.max(kAuto, (nItems / 2000L).toInt))
    val withVec = items.withColumn("features", array_to_vector(F.col("vnorm")))
    val km = new KMeans()
      .setK(k).setSeed(params.seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("c0")
    // the fit sample must materialize k DISTINCT centers: a fixed 50k
    // cap starves k > 50k/10 (KMeans silently returns fewer centers,
    // inflating block sizes past the documented O(N·blockSize) bound) —
    // scale the sample with k, >= ~10 points per center
    val fitRows = math.min(nItems.toDouble, math.max(50000.0, 10.0 * k))
    val model = km.fit(withVec.sample(withReplacement = false,
      math.min(1.0, fitRows / nItems), params.seed))
    val centers = model.clusterCenters.map(_.toArray)
    val bc = spark.sparkContext.broadcast(centers)
    // top-`probes` centroid assignment per point (broadcast
    // centroids): more probes = higher cross-block recall at
    // proportional candidate cost.
    val nProbes = math.max(1, math.min(probes, 8))
    val blocks = items
      .select($"id".as[Long], $"vnorm".as[Array[Double]])
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v) =>
          val dists = new Array[(Double, Int)](cs.length)
          var c = 0
          while (c < cs.length) {
            val cv = cs(c)
            var d = 0.0
            var i = 0
            val n = math.min(cv.length, v.length)
            while (i < n) { val t = cv(i) - v(i); d += t * t; i += 1 }
            dists(c) = (d, c)
            c += 1
          }
          java.util.Arrays.sort(dists, Ordering.Tuple2[Double, Int])
          dists.take(math.min(nProbes, cs.length)).map { case (_, cid) => (cid, id, v) }.toSeq
        }
      }
      .toDF("block", "id", "vnorm")
      // materialize ONCE before the self-join: both sides read blocks,
      // and an unmaterialized frame would run the O(N·k·F) centroid-
      // assignment scan (the dominant stage, k up to 2^16) twice —
      // localCheckpoint also truncates the lineage so nothing upstream
      // re-executes either
      .localCheckpoint()
    val a = blocks.select(F.col("block"), F.col("id").as("src"), F.col("vnorm").as("va"))
    val b = blocks.select(F.col("block"), F.col("id").as("dst"), F.col("vnorm").as("vb"))
    a.join(b, Seq("block"))
      .where(F.col("src") =!= F.col("dst"))
      .withColumn("dist", cosineDistance(F.col("va"), F.col("vb")))
      .where(F.col("dist") <= params.eps)
      .select("src", "dst", "dist")
      .dropDuplicates("src", "dst")
  }

  /** Weighted degree per node: (id, degree). */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(F.col("src").as("id")).agg(F.sum("weight").as("degree"))
}
