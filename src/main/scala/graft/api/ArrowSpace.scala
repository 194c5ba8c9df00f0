package graft.api

import graft.core.{Debug, DriverLocal, GraphParams}
import graft.functions.VectorFunctions._
import graft.functions.VectorKernels
import graft.graph.KnnGraph
import graft.scale.BlockScore
import graft.spectral.{FeatureLaplacian, LocalLaplacian, TauMode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The built index: item vectors + per-item synthetic spectral index λ,
  * plus the (broadcastable) F×F feature Laplacian and the τ constant
  * chosen by the TauMode policy.
  *
  * Spark-native counterpart of the reference's `ArrowSpace`
  * (reference: src/lib.rs:64-124): `items` persists as
  * (id: Long, vec: Array[Double], lambda: Double, e_raw: Double).
  */
final case class ArrowSpaceModel private[api] (
    items: DataFrame,
    featureLaplacian: LocalLaplacian,
    tau: Double,
    params: GraphParams,
    nItems: Long,
    nFeatures: Int
) {
  // Construction is builder-only, mirroring the reference's blocked
  // constructors (src/lib.rs:33-38,71-76): use ArrowSpaceBuilder.build
  // or EnergyBuilder.buildEnergy.

  /** All (id, lambda) pairs — reference src/lib.rs:122-124. */
  def lambdas: DataFrame = items.select("id", "lambda")

  /** Point lookup — reference src/lib.rs:100-120. */
  def getItem(id: Long): DataFrame = items.where(F.col("id") === id)

  /** λ-aware top-k search (reference src/lib.rs:132-174):
    * score = τ·cos(q, xᵢ) + (1−τ)·1/(1+|λ_q−λᵢ|), top `topk` desc.
    * Asserts λ_q ≠ 0 with the reference's error message.
    */
  def search(query: Array[Double], tau: Double, topk: Int = -1): DataFrame = {
    val lambdaQ = prepareQueryLambda(query)
    require(
      lambdaQ != 0.0,
      "The lambdas are zero, check the magnitude of items and eps. " +
        "(ArrowSpaceBuilder.suggestEps(items) reports the measured " +
        "NN-distance quantiles and a workable eps/sigma/k.)")
    scoreAndTake(query, lambdaQ, tau, if (topk > 0) topk else params.topk)
  }

  /** Hybrid λ-aware search (reference src/lib.rs:182-219, no λ_q ≠ 0
    * assertion). The crate's `search_lambda_aware_hybrid` body is not
    * vendored in the reference repo; the reference's own
    * NORMALISATION.md:19-25 documents the hybrid similarity it is
    * built for — magnitude-sensitive blending
    * `hybrid_sim = α·cos + β·magnitude_penalty` with
    * `magnitude_penalty = exp(−|ln(‖q‖/‖xᵢ‖)|)` (= min(‖q‖/‖xᵢ‖,
    * ‖xᵢ‖/‖q‖)). This engine scores
    * τ·hybrid_sim + (1−τ)·λ-proximity with α+β = 1 (α = 0.5 default),
    * which reduces to [[search]] at β = 0.
    */
  def searchHybrid(
      query: Array[Double],
      tau: Double,
      topk: Int = -1,
      alpha: Double = 0.5): DataFrame = {
    val lambdaQ = prepareQueryLambda(query)
    val k = if (topk > 0) topk else params.topk
    val qNorm = math.sqrt(graft.functions.VectorKernels.normSq(query))
    val q = F.typedLit(query)
    val magPenalty =
      F.when(F.lit(qNorm) === 0.0 || l2norm(F.col("vec")) === 0.0, 0.0)
        .otherwise(F.exp(-F.abs(F.log(F.lit(qNorm) / l2norm(F.col("vec"))))))
    val hybridSim =
      F.lit(alpha) * cosine(F.col("vec"), q) + F.lit(1.0 - alpha) * magPenalty
    items
      .withColumn(
        "score",
        F.lit(tau) * hybridSim +
          F.lit(1.0 - tau) * lambdaProximity(F.col("lambda"), F.lit(lambdaQ)))
      .select("id", "score")
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** Energy-only search, no cosine (reference src/lib.rs:232-262):
    * score = w_λ·1/(1+|λ_q−λᵢ|) + w_D·1/(1+|E_q−Eᵢ|) where E is the
    * raw Dirichlet energy against the feature Laplacian (the
    * "Rayleigh-Dirichlet" term, reconstructed — SURVEY.md §2.1 O5).
    * E_q uses the same unnormalized xᵀLx as the stored per-item
    * `e_raw`, so the proximity term compares like with like.
    */
  def searchEnergy(
      query: Array[Double],
      k: Int,
      wLambda: Double = 1.0,
      wDirichlet: Double = 0.5): DataFrame = {
    validateQuery(query)
    val lambdaQ = prepareQueryLambda(query)
    val eQ = featureLaplacian.dirichlet(query)
    items
      .withColumn(
        "score",
        F.lit(wLambda) * lambdaProximity(F.col("lambda"), F.lit(lambdaQ)) +
          F.lit(wDirichlet) * lambdaProximity(F.col("e_raw"), F.lit(eQ)))
      .select("id", "score")
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** The feature Laplacian as one broadcast per model, shared by every
    * [[searchBatch]] call instead of a fresh (never released) broadcast
    * per call. */
  @transient private lazy val laplacianBc =
    items.sparkSession.sparkContext.broadcast(featureLaplacian)

  /** The items as [[graft.scale.BlockScore.blendTopK]] reads them,
    * planned once per model rather than once per [[searchBatch]] call. */
  @transient private lazy val blockItems =
    items.select(F.col("id").cast("long"), F.col("vec").cast("array<double>"),
      F.col("lambda").cast("double"))

  /** Batch λ-aware search: top-k for MANY queries (query_id, qvec[,
    * qlambda]) under the blended score of [[search]]; query λs are
    * computed per row against the broadcast F×F Laplacian unless given.
    * Rows are (query_id, id, score, rank), rank 1 the best per
    * query_id (score desc, then id asc; rows sharing a query_id rank
    * together).
    *
    * A query table whose n × k result rows fit
    * [[graft.core.DriverLocal.Default]] is held on the driver and
    * answered by ONE job when this is called: a
    * [[graft.scale.BlockScore.blendTopK]] scan of the items whose
    * tasks return a heap per query, merged by query_id on the driver
    * into a local frame (its `collect()` runs no job). A table built
    * from local rows (e.g. `Seq(...).toDF`) optimizes to a
    * `LocalRelation`, whose rows, λs and input checks are evaluated on
    * the driver while planning; any other table is read first by
    * [[graft.core.DriverLocal.collect]] (a second job). A table over the
    * bound is joined with the items in a shuffle and ranked by a
    * per-query window instead, lazily.
    */
  def searchBatch(queries: DataFrame, tau: Double, topk: Int = -1): DataFrame =
    searchBatchWithin(queries, tau, topk, graft.core.DriverLocal.Default)

  /** [[searchBatch]] with `bound` for the driver-held branch. */
  private[graft] def searchBatchWithin(queries: DataFrame, tau: Double, topk: Int,
      bound: graft.core.DriverLocal.Bound): DataFrame = {
    import graft.core.DriverLocal
    import graft.scale.BlockScore
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.Shim
    import org.apache.spark.sql.types._
    val spark = items.sparkSession
    val k = if (topk > 0) topk else params.topk
    val bcLap = laplacianBc
    val bcTau = this.tau
    val nF = nFeatures
    val lamQ = F.udf { (v: Seq[Double]) =>
      // same contract as the single-query path's validateQuery — a
      // clear error beats an ArrayIndexOutOfBounds task failure deep
      // in the Dirichlet scan
      require(v != null && v.length == nF,
        s"query length ${if (v == null) "null" else v.length} must match nfeatures $nF")
      bcLap.value.synth(v.toArray, bcTau)
    }
    // a wrong-length qvec (or a null/NaN precomputed qlambda) must
    // fail clearly on EITHER branch: the recompute branch checks
    // inside lamQ, but a caller-precomputed row would otherwise sail
    // through to the min-length cosine kernel — or rank k null-scored
    // rows NULLS-LAST — and silently return garbage
    // (size(null) = -1 trips the length check too)
    val qvec = F.col("qvec").cast("array<double>")
    val qlambda = F.col("qlambda").cast("double")
    // honor a caller-precomputed qlambda column (the documented
    // optional third column); recompute only when absent. One select:
    // every further withColumn would analyze the whole plan again
    val q =
      if (queries.columns.contains("qlambda"))
        queries.select(
          F.col("query_id"),
          F.when(F.size(qvec) === nF, qvec)
            .otherwise(F.raise_error(F.concat(
              F.lit("query length "), F.size(qvec).cast("string"),
              F.lit(s" must match nfeatures $nF")))).as("qvec"),
          F.when(qlambda.isNotNull && !F.isnan(qlambda), qlambda)
            .otherwise(F.raise_error(F.concat(
              F.lit("precomputed qlambda is null/NaN for query_id "),
              F.col("query_id").cast("string")))).as("qlambda"))
      else
        queries.select(F.col("query_id"), qvec.as("qvec"), lamQ(qvec).as("qlambda"))
    val qidT = q.schema("query_id").dataType
    // Right: the query rows on the driver, at most bound.rows / k of
    // them so the n × k result rows fit the bound (its bytes cap the
    // table: 100k × 4096-dim vectors is ~3.3 GB). Left: a larger table
    // for the shuffle join — a LocalRelation rebuilt on its optimized
    // plan so the λ UDF does not run again, any other table
    // materialized once.
    val held = bound.copy(rows = bound.rows / math.max(1, k))
    val rowsOrJoin: Either[DataFrame, Seq[InternalRow]] = q.queryExecution.optimizedPlan match {
      case local: LocalRelation if !local.isStreaming =>
        val n = local.data.length.toLong
        if (held.fits(n, n * (nF.toLong * 8L + 64L))) Right(local.data)
        else Left(Shim.ofPlan(spark, local))
      case _ =>
        DriverLocal.collect(q, held).map(_.toSeq).toRight(q.localCheckpoint())
    }
    rowsOrJoin match {
      case Right(rows) =>
        val block = BlockScore.Block.of(rows, qidT)
        val heaps = BlockScore.blendTopK(blockItems, block, tau, k, bound.rows)
        // rows sharing a query_id merge as the window partitions them
        // (NaN and -0.0 normalized); each keeps its own key value
        val key = Shim.groupingKey(qidT)
        val ranked = rows.indices.filter(heaps(_) != null).groupBy(j => key(rows(j)))
          .values.toSeq.sortBy(_.head).flatMap { js =>
            val pairs = js.flatMap { j =>
              val h = heaps(j)
              val m = h.drain()
              (0 until m).map(i => (h.scores(i), h.ties(i), j))
            }
            val h = heaps(js.head)
            pairs.sortWith((a, b) => h.worse(b._1, b._2, a._1, a._2)).take(k).zipWithIndex
              .map { case ((s, id, j), r) => InternalRow(block.keys(j), id, s, r + 1) }
          }
        // ids are LONG: both builders cast them, and load reads them back
        Shim.localFrame(spark, StructType(Seq(StructField("query_id", qidT),
          StructField("id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false),
          StructField("rank", IntegerType, nullable = false))), ranked)
      case Left(qRows) =>
        val scored = items
          .join(qRows)
          .withColumn(
            "score",
            F.lit(tau) * cosine(F.col("vec"), F.col("qvec")) +
              F.lit(1.0 - tau) * lambdaProximity(F.col("lambda"), F.col("qlambda")))
          .select("query_id", "id", "score")
          // a null score (a null qvec slot) drops the pair, as in the kernel
          .where(F.col("score").isNotNull)
        // the heap form casts the key to LONG (a string id would null
        // out, a fractional double would merge two queries), so it
        // takes integral keys only; it returns the caller's dtype
        val top = qidT match {
          case LongType | IntegerType | ShortType | ByteType =>
            graft.scale.Skew.heapTopKPerKey(scored, "query_id", "score", "id", k)
              .withColumn("query_id", F.col("query_id").cast(qidT))
          case _ =>
            graft.scale.Skew.saltedTopKPerKey(
              scored, "query_id", Seq(F.col("score").desc, F.col("id").asc), k)
        }
        val w = Window.partitionBy("query_id")
          .orderBy(F.col("score").desc, F.col("id").asc)
        top.withColumn("id", F.col("id").cast(items.schema("id").dataType))
          .withColumn("rank", F.row_number().over(w))
          .where(F.col("rank") <= k)
    }
  }

  /** Query-side S10: synthetic λ for one vector, computed driver-side
    * against the broadcastable feature Laplacian (reference
    * prepare_query_item, src/lib.rs:152-154).
    */
  def prepareQueryLambda(query: Array[Double]): Double = {
    validateQuery(query)
    featureLaplacian.synth(query, tau)
  }

  private def validateQuery(query: Array[Double]): Unit =
    require(
      query.length == nFeatures,
      s"query length ${query.length} must match nfeatures $nFeatures")

  private def scoreAndTake(
      query: Array[Double], lambdaQ: Double, tau: Double, k: Int): DataFrame = {
    val q = F.typedLit(query)
    items
      .withColumn(
        "score",
        lambdaScore(cosine(F.col("vec"), q), F.col("lambda"), lambdaQ, tau))
      .select("id", "score")
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(k)
  }

  /** Persist the index: items as Parquet (the cluster-sized part) plus
    * a small JSON sidecar for the F×F Laplacian, τ and params. The
    * items table is the only distributed artifact — everything else is
    * O(F²) metadata.
    */
  def save(path: String): Unit = {
    items.write.mode("overwrite").parquet(s"$path/items")
    val lapJson = featureLaplacian.edges
      .map(e => s"""[${e.f},${e.g},${e.w}]""").mkString("[", ",", "]")
    val meta =
      s"""{"tau":$tau,"nItems":$nItems,"nFeatures":$nFeatures,
         |"eps":${params.eps},"k":${params.k},"topk":${params.topk},
         |"p":${params.p},"sigma":${params.sigmaValue},"seed":${params.seed},
         |"normalise":${if (params.normalise) 1 else 0},
         |"lapDim":${featureLaplacian.dim},"lapEdges":$lapJson}""".stripMargin
    // the sidecar goes through the SAME filesystem as the parquet
    // (Hadoop FS resolves hdfs:// / s3a:// / file:// from the path) —
    // java.nio would silently write a driver-LOCAL file for any remote
    // path, leaving the saved model unloadable from other nodes
    ArrowSpaceModel.writeSidecar(items.sparkSession, s"$path/meta.json", meta)
  }
}

object ArrowSpaceModel {

  /** Load a model persisted by [[ArrowSpaceModel.save]]. */
  def load(spark: SparkSession, path: String): ArrowSpaceModel = {
    val items = spark.read.parquet(s"$path/items")
    val raw = sidecarText(spark, s"$path/meta.json")
    val meta = ujsonParse(raw)
    val params = GraphParams(
      eps = meta("eps"), k = meta("k").toInt, topk = meta("topk").toInt,
      p = meta("p"), sigma = Some(meta("sigma")), seed = meta("seed").toLong,
      // sidecars from before the flag was persisted default to true
      normalise = meta.get("normalise").forall(_ != 0.0))
    val edges = metaEdges(raw)
    ArrowSpaceModel(
      items,
      graft.spectral.LocalLaplacian(meta("lapDim").toInt, edges),
      meta("tau"), params, meta("nItems").toLong, meta("nFeatures").toInt)
  }

  /** Sidecar IO through Hadoop FS so save/load work on any filesystem
    * Spark itself can reach (local, HDFS, S3A, ...). */
  private[graft] def writeSidecar(
      spark: SparkSession, file: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The one sidecar reader: the file's text, None when absent (one
    * open, no separate existence probe). */
  private[graft] def readSidecar(
      spark: SparkSession, file: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  /** [[readSidecar]] for a sidecar the layout cannot lack. */
  private[graft] def sidecarText(spark: SparkSession, file: String): String =
    readSidecar(spark, file).getOrElse(
      throw new java.io.FileNotFoundException(s"no sidecar at $file"))

  /** JSON number literal: sign, integer, optional fraction, optional
    * signed exponent — negative exponents included (τ can fall back to
    * 1e-10 and edge weights/energies can be tiny). */
  private val Num = "-?\\d+(?:\\.\\d+)?(?:[eE][-+]?\\d+)?"

  /** Minimal scalar-field extractor for the sidecar (no JSON dep). */
  private def ujsonParse(s: String): Map[String, Double] = {
    val fields = s""""(\\w+)"\\s*:\\s*($Num)""".r
    fields.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private def metaEdges(s: String): Array[graft.spectral.LapEdge] = {
    val arr = "\"lapEdges\":\\[(.*)\\]\\}".r
    val triple = s"\\[($Num),($Num),($Num)\\]".r
    arr.findFirstMatchIn(s) match {
      case Some(m) =>
        triple.findAllMatchIn(m.group(1)).map { t =>
          graft.spectral.LapEdge(
            t.group(1).toDouble.toInt, t.group(2).toDouble.toInt, t.group(3).toDouble)
        }.toArray
      case None => Array.empty
    }
  }
}

/** Builds an [[ArrowSpaceModel]] + item-graph edge DataFrame from an
  * items DataFrame — the Spark-native counterpart of the reference's
  * `ArrowSpaceBuilder.build` (src/lib.rs:270-300), stages S1-S10 of
  * SURVEY.md §2.2.
  *
  * An input the graph stage would brute-force and sample-free (at most
  * `KnnGraph.BruteForceMaxRows` and `BuildOptions.sampleThreshold`
  * rows) that also fits [[graft.core.DriverLocal.Default]] is built on
  * the driver, in 3 jobs where the distributed stages take about 15:
  *
  *  1. one bounded read of (id, vec) ([[graft.core.DriverLocal.collect]]);
  *     S1 comes from those rows and the normalized vectors from the
  *     same `l2normalize` Column folded over a local frame;
  *  2. one `BlockScore` `Within` scan of the normalized vectors against
  *     their own broadcast block for S6-S8
  *     ([[graft.graph.KnnGraph.localEdges]]); the driver symmetrises
  *     the edges, sums the per-partition Gram partials in partition
  *     order (S9), computes every item's energy and Gini, resolves τ
  *     ([[TauMode.resolveLocal]]) and folds the λ Column (S10);
  *  3. persisting and counting the items frame.
  *
  * The edges come back as a local frame. Every stage shares its kernel
  * with the distributed path, so the same input and partitioning give
  * bit-identical edges, Laplacian, τ and λ either way. A larger input
  * takes the distributed S1-S10: without the read when its plan already
  * shows it over the bound (a local frame's rows, table statistics, a
  * file scan's size), else over the refused read's own RDD, so an input
  * ending in a shuffle does not run its upstream twice.
  *
  * The driver path holds the input's rows, their normalized vectors
  * (the scan's broadcast block) while the graph is built, and the
  * items' rows, and runs the Gram and the per-item energies on the
  * driver's cores. In local mode on 4 cores, at 15,000 × 1,000 (120 MB
  * of rows, just under the bytes bound), it built in 123 s within a
  * 768 MB heap; the distributed path took 188 s and needed 1 GB.
  */
object ArrowSpaceBuilder {

  /** Sampling kicks in above this N, mirroring the crate's "random
    * sampler with keep rate 60%" on large inputs (SURVEY.md §2.2 S3).
    */
  val SampleThreshold = 100000L
  val SampleRate = 0.6

  /** Large-input thresholds, overridable for tests and tuning:
    * above `sampleThreshold` the graph stage samples at `sampleRate`
    * and (when F > `projectionMinF`) computes candidate distances in a
    * JL-projected space.
    */
  final case class BuildOptions(
      jlEps: Double = 0.35,
      sampleThreshold: Long = SampleThreshold,
      sampleRate: Double = SampleRate,
      projectionMinF: Int = 96)

  /** Eps/σ/k diagnostic (reference suggested_eps.md): measures the
    * data's NN-distance quantiles on a bounded sample and suggests an
    * eps that yields a non-empty graph — run it BEFORE a build when
    * eps is a guess. See [[EpsSuggest.report]].
    */
  def suggestEps(
      itemsRaw: DataFrame,
      k: Int = 10,
      sampleSize: Int = 2000,
      seed: Long = 42L,
      normalise: Boolean = true): EpsReport =
    EpsSuggest.report(itemsRaw, k, sampleSize, seed, normalise)

  def build(
      itemsRaw: DataFrame,
      params: GraphParams,
      tauMode: TauMode): (ArrowSpaceModel, DataFrame) =
    build(itemsRaw, params, tauMode, BuildOptions())

  def build(
      itemsRaw: DataFrame,
      params: GraphParams): (ArrowSpaceModel, DataFrame) =
    build(itemsRaw, params, TauMode.Median, BuildOptions())

  /** itemsRaw must have columns (id: integral, vec: array<numeric>).
    * Returns the model plus the symmetric item-graph edges
    * (src, dst, dist, weight).
    */
  def build(
      itemsRaw: DataFrame,
      params: GraphParams,
      tauMode: TauMode,
      options: BuildOptions): (ArrowSpaceModel, DataFrame) =
    buildWithin(itemsRaw, params, tauMode, options, DriverLocal.Default)

  /** [[build]] with `bound` for the driver-held path. */
  private[graft] def buildWithin(
      itemsRaw: DataFrame,
      params: GraphParams,
      tauMode: TauMode,
      options: BuildOptions,
      bound: DriverLocal.Bound): (ArrowSpaceModel, DataFrame) = {
    val raw = itemsRaw.select(
      F.col("id").cast("long").as("id"),
      F.col("vec").cast("array<double>").as("vec"))
    val held = bound.copy(rows = Seq(bound.rows, KnnGraph.BruteForceMaxRows,
      options.sampleThreshold).min)
    val spark = raw.sparkSession
    if (pastBound(raw, held)) buildDistributed(raw, params, tauMode, options)
    else DriverLocal.collectParts(raw, held) match {
      case Some(parts) => buildLocal(spark, parts, params, tauMode)
      // refused: the distributed stages read the refused read's own RDD,
      // so an input whose plan ends in a shuffle reuses the map output
      // that read wrote rather than running its upstream again
      case None => buildDistributed(Shim.ofRows(spark, raw.queryExecution.toRdd, raw.schema),
        params, tauMode, options)
    }
  }

  /** Whether `df`'s plan already shows more than `b` holds, so the
    * bounded read could only be refused: a local relation's row count,
    * a row count from table statistics, or a size estimate over the
    * bytes bound (a file scan's is its files' size; a join's, the
    * product of its sides' sizes, shows nothing and is not used). */
  private def pastBound(df: DataFrame, b: DriverLocal.Bound): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val rows = plan match {
      case l: LocalRelation => Some(BigInt(l.data.length))
      case p => p.stats.rowCount
    }
    rows.exists(_ > b.rows) ||
      (plan.stats.sizeInBytes > b.bytes && plan.find(_.isInstanceOf[Join]).isEmpty)
  }

  /** S1's checks, shared by both paths: (nItems, nFeatures) from the
    * row count, the longest and shortest vector (size -1 = null) and the
    * count of NaN/Inf values (counted and logged, not rejected —
    * reference src/helpers.rs:34-44). */
  private def ingestStats(n: Long, f: Int, fMin: Int, nonFinite: Long): (Long, Int) = {
    require(n > 0, "items must be non-empty")
    // a clear require here beats an AIOOBE hours into the Gram pass
    require(fMin == f && f >= 0,
      s"all vectors must have the same non-null length: found lengths " +
        s"$fMin and $f (size -1 = null vector)")
    if (nonFinite > 0)
      org.apache.logging.log4j.LogManager.getLogger("graft")
        .warn(s"items contain $nonFinite non-finite values")
    (n, f)
  }

  /** The normalized vectors the graph stage scores. */
  private def vnorm(params: GraphParams): Column =
    if (params.normalise) l2normalize(F.col("vec")) else F.col("vec")

  private val idVec = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType))))

  /** The driver-held build of `parts`, the (id, vec) rows of each input
    * partition (see the object's scaladoc). Vectors are decoded where
    * they are used, not held: the rows, their normalized copy while the
    * graph is built, and the items' rows are the copies of the input
    * the driver keeps. */
  private def buildLocal(spark: SparkSession, parts: Array[Array[InternalRow]],
      params: GraphParams, tauMode: TauMode): (ArrowSpaceModel, DataFrame) = {
    val rows = parts.toSeq.flatten
    val (nItems, nFeatures) = Debug.timed("S1 ingest stats") {
      val sizes = rows.map(r => if (r.isNullAt(1)) -1 else r.getArray(1).numElements())
      val nonFinite = rows.filterNot(_.isNullAt(1)).map(_.getArray(1)).map(a =>
        (0 until a.numElements()).count(i => !a.isNullAt(i) && !a.getDouble(i).isFinite)).sum
      ingestStats(rows.length, sizes.maxOption.getOrElse(0), sizes.minOption.getOrElse(0), nonFinite)
    }
    val edges = Debug.timed("S6-S8 eps-kNN graph")(graphEdges(spark, rows, params))

    def vec(r: InternalRow): Array[Double] = {
      val v = VectorKernels.doublesOrNull(r.getArray(1))
      require(v != null, s"item ${r.getLong(0)} has a null vector slot")
      v
    }
    val lap = Debug.timed("S9 feature Laplacian") {
      val partials = parMap(parts)(p => FeatureLaplacian.gramPartial(p.iterator.map(vec), nFeatures))
      FeatureLaplacian.fromGram(DriverLocal.sumHeld(partials.toSeq, nFeatures * nFeatures),
        params, nFeatures)
    }

    val energies = parts.map(parMap(_)(r => lap.energyAndGini(vec(r))))
    val tau = Debug.timed("S10 tau resolve")(tauMode.resolveLocal(energies.toSeq.map(_.map(_._1))))
    val items = Debug.timed("S10 lambda materialize")(itemsFrame(spark, parts, energies, tau))
    (ArrowSpaceModel(items, lap, tau, params, nItems, nFeatures), edges)
  }

  /** `xs.map(f)` on the driver's cores. Each element is computed on its
    * own, so the result does not depend on the threads. */
  private def parMap[A, B: scala.reflect.ClassTag](xs: Array[A])(f: A => B): Array[B] = {
    val out = new Array[B](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel().forEach(i => out(i) = f(xs(i)))
    out
  }

  /** S6-S8 of driver-held (id, vec) rows. The normalized vectors come
    * from the Column the distributed path persists, folded on the driver
    * 1,024 rows at a time (a fold's rows hold their values boxed) and
    * decoded into one block. */
  private def graphEdges(spark: SparkSession, rows: Seq[InternalRow],
      params: GraphParams): DataFrame = {
    val nodes = rows.grouped(1024).map(slice => BlockScore.Block.of(DriverLocal.folded(
      Shim.localFrame(spark, idVec, slice).select(F.col("id"), vnorm(params).as("vnorm"))))).toSeq
    KnnGraph.localEdges(spark, BlockScore.Block.concat(nodes), params)
  }

  /** The (id, vec, lambda, e_raw) items of the input rows `parts` with
    * their (energy, Gini) `energies`, persisted and counted in one job.
    * λ comes from the distributed S10's Column ([[lambdaOf]]) folded over
    * the energies alone; each vector is copied once, into its item row. */
  private def itemsFrame(spark: SparkSession, parts: Array[Array[InternalRow]],
      energies: Array[Array[(Double, Double)]], tau: Double): DataFrame = {
    val scored = Shim.localFrame(spark, StructType(Seq(StructField("e_raw", DoubleType),
      StructField("g_raw", DoubleType))),
      energies.toSeq.flatMap(_.map { case (e, g) => InternalRow(e, g) }))
    val lambdas = DriverLocal.folded(scored.select(lambdaOf(F.col("e_raw"), F.col("g_raw"), tau)))
      .iterator.map(_.getDouble(0))
    val schema = idVec.add("lambda", DoubleType).add("e_raw", DoubleType)
    val proj = UnsafeProjection.create(schema)
    val rows = parts.iterator.zip(energies.iterator).flatMap { case (p, es) =>
      p.iterator.zip(es.iterator).map { case (r, (e, _)) =>
        proj(InternalRow(r.getLong(0), r.getArray(1), lambdas.next(), e)).copy(): InternalRow
      }
    }.toVector
    val items = Shim.ofRows(spark, spark.sparkContext.parallelize(rows, math.max(1, parts.length)),
      schema).persist(StorageLevel.MEMORY_AND_DISK)
    // the cache's one job; a Dataset count would add a shuffle stage
    items.queryExecution.toRdd.count()
    items
  }

  /** The distributed S1-S10 over the (id: long, vec) frame `raw`. */
  private def buildDistributed(
      raw: DataFrame,
      params: GraphParams,
      tauMode: TauMode,
      options: BuildOptions): (ArrowSpaceModel, DataFrame) = {
    // GraphParams.normalise mirrors the reference's flag
    // (NORMALISATION.md): when false, graph-stage distances run on the
    // RAW vectors. For the rectified-cosine metric the two coincide
    // mathematically (cosine is scale-invariant — asserted in
    // ScaleSpec); the flag matters for magnitude-sensitive metrics and
    // the LSH strategy's unit-sphere radius mapping.
    val items = raw
      .withColumn("vnorm", vnorm(params))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // S1 in ONE pass: row count, dimensionality, and the NaN/Inf count
    // come from a single aggregation job over the cached table.
    // a null vector counts as size -1 (under ANSI, size(null) is
    // null, which min() would skip), so one min() catches both null
    // and ragged vectors
    val size = F.coalesce(F.size(F.col("vec")), F.lit(-1))
    val s1 = Debug.timed("S1 ingest stats")(items.agg(
      F.count(F.lit(1)).as("n"),
      F.max(size).as("f"),
      F.min(size).as("fmin"),
      F.coalesce(
        F.sum(F.size(F.filter(F.col("vec"),
          v => F.isnan(v) || F.abs(v) === Double.PositiveInfinity))),
        F.lit(0L)).as("nonfinite")).head)
    val (nItems, nFeatures) = ingestStats(s1.getLong(0),
      if (s1.isNullAt(1)) 0 else s1.getInt(1), if (s1.isNullAt(2)) 0 else s1.getInt(2),
      s1.getLong(3))
    // S3: above the threshold the GRAPH PIPELINE (S4-S9, including the
    // F×F Laplacian built from the graph items' signals) runs on a
    // seeded sample, as the reference's scale path does; λ itself is
    // still synthesized for EVERY item against that Laplacian. Below
    // the threshold (every oracle SF and test_0) the build is exact
    // and sample/seed-independent.
    val graphItems =
      if (nItems > options.sampleThreshold)
        items.sample(withReplacement = false, options.sampleRate, params.seed)
      else items

    // S5: seeded random projection for graph-stage distances when the
    // input is large and wide (the reference's with_dims_reduction,
    // src/lib.rs:283). Signals for the feature Laplacian and query
    // scoring stay in the original F-dimensional space.
    val needsProjection =
      nItems > options.sampleThreshold && nFeatures > options.projectionMinF
    val graphInput =
      if (needsProjection) {
        val d = graft.scale.RandomProjection.jlDim(nItems, options.jlEps)
        graft.scale.RandomProjection
          .project(graphItems.select("id", "vnorm"), "vnorm", "vproj", nFeatures, d, params.seed)
          .select(F.col("id"), l2normalize(F.col("vproj")).as("vnorm"))
      } else graphItems.select("id", "vnorm")

    // S6-S8: eps-kNN item graph.
    val edges = KnnGraph
      .epsKnnEdges(graphInput, params, nItems)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the cache NOW (debug on or off): the S9 Gram pass
    // unpersists `items` afterwards, and an unfilled edges cache would
    // recompute the whole graph lineage — the most expensive build
    // stage — on the caller's first action over the returned edges
    Debug.timed("S6-S8 eps-kNN graph")(edges.count())

    // S9: F×F feature Laplacian from the raw signal columns (see
    // FeatureLaplacian's Scaladoc for the test_0-pinned construction).
    val lap = Debug.timed("S9 feature Laplacian")(
      FeatureLaplacian.build(graphItems.select("id", "vec"), params, nFeatures))

    // S10: λ for every item against the Laplacian.
    val (withLambda, tau) = synthesizeLambdas(items, lap, tauMode, "S10")
    items.unpersist()

    val model = ArrowSpaceModel(withLambda, lap, tau, params, nItems, nFeatures)
    (model, edges)
  }

  /** S10 (and the energy build's E6): per-item raw Dirichlet energy +
    * Gini concentration against `lap`, then τ via `tauMode`, then λ
    * ([[lambdaOf]]). Returns the (id, vec, lambda, e_raw) items,
    * persisted and materialized, and τ; `stage` names the debug
    * timings. */
  private[graft] def synthesizeLambdas(items: DataFrame, lap: LocalLaplacian,
      tauMode: TauMode, stage: String): (DataFrame, Double) = {
    val spark = items.sparkSession
    val bcLap = spark.sparkContext.broadcast(lap)
    import spark.implicits._
    val withEnergy = items
      .select($"id".as[Long], $"vec".as[Array[Double]])
      .mapPartitions { it =>
        val l = bcLap.value
        it.map { case (id, v) =>
          val (e, g) = l.energyAndGini(v)
          (id, e, g)
        }
      }
      .toDF("id", "e_raw", "g_raw")
      // persisted for the resolve+join span: the exact-median
      // selection runs several actions (count, sort, zipWithIndex,
      // first) and the λ join reads it again — unpersisted, each would
      // re-run the O(F²)-per-item kernel over the whole corpus
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tau = Debug.timed(s"$stage tau resolve")(
      tauMode.resolve(withEnergy, "e_raw"))
    val withLambda = items
      .join(withEnergy, "id")
      .withColumn("lambda", lambdaOf(F.col("e_raw"), F.col("g_raw"), tau))
      .select("id", "vec", "lambda", "e_raw")
      .persist(StorageLevel.MEMORY_AND_DISK)
    Debug.timed(s"$stage lambda materialize")(
      withLambda.count()) // materialize before unpersisting parents
    withEnergy.unpersist(blocking = false)
    (withLambda, tau)
  }

  /** λ = m·E/(E+τ) + (1−m)·clip(G, 0, 1) with m = τ/(1+τ) —
    * LocalLaplacian.synth's formula as one Column, which both builds
    * and the energy build's E6 evaluate. */
  private def lambdaOf(eRaw: Column, gRaw: Column, tau: Double): Column = {
    val mix = tau / (1.0 + tau)
    val bounded = F.when(eRaw + F.lit(tau) === 0.0, 0.0).otherwise(eRaw / (eRaw + F.lit(tau)))
    F.lit(mix) * bounded + F.lit(1.0 - mix) * F.least(F.lit(1.0), F.greatest(F.lit(0.0), gRaw))
  }
}
