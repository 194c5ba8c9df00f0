package graft

import graft.api.ArrowSpaceBuilder
import graft.core.GraphParams
import org.apache.spark.sql.{functions => F}

/** Port of the reference's only assert-based test
  * (reference: tests/test_0.py) plus structural properties the
  * reference leaves implicit (SURVEY.md §5).
  *
  * Exact-parity note (SURVEY.md §7.4): the τ=1.0 ordering is pure
  * cosine and is asserted exactly. The blended orderings depend on the
  * crate-internal feature-Laplacian construction + seeded
  * dims-reduction that are not vendored in the reference repo; those
  * are pinned here structurally (determinism, result size, score
  * monotonicity, λ non-degeneracy) — see FeatureLaplacian's Scaladoc
  * for the documented reconstruction.
  */
class ArrowSpaceSpec extends SparkSpec {

  val items: Array[Array[Double]] = Array(
    Array(0.82,0.11,0.43,0.28,0.64,0.32,0.55,0.48,0.19,0.73,0.07,0.36,0.58,0.23,0.44,0.31,0.52,0.16,0.61,0.40,0.27,0.49,0.35,0.29),
    Array(0.79,0.12,0.45,0.29,0.61,0.33,0.54,0.47,0.21,0.70,0.08,0.37,0.56,0.22,0.46,0.30,0.51,0.18,0.60,0.39,0.26,0.48,0.36,0.30),
    Array(0.78,0.13,0.46,0.27,0.62,0.34,0.53,0.46,0.22,0.69,0.09,0.35,0.55,0.24,0.45,0.29,0.50,0.17,0.59,0.38,0.28,0.47,0.34,0.31),
    Array(0.81,0.10,0.44,0.26,0.63,0.31,0.56,0.45,0.20,0.71,0.06,0.34,0.57,0.25,0.47,0.33,0.53,0.15,0.62,0.41,0.25,0.50,0.37,0.27),
    Array(0.80,0.12,0.42,0.25,0.60,0.35,0.52,0.49,0.23,0.68,0.10,0.38,0.54,0.21,0.43,0.28,0.49,0.19,0.58,0.37,0.29,0.46,0.33,0.32))

  // reference tests/test_0.py:12-18
  val params: GraphParams =
    GraphParams(eps = 0.05, k = 5, topk = 3, p = 2.0, sigma = Some(0.05))

  lazy val itemsDf = {
    val s = spark
    import s.implicits._
    items.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
  }

  lazy val (model, edges) = ArrowSpaceBuilder.build(itemsDf, params)

  def query: Array[Double] = items(2).map(_ * 1.05)

  def hits(tau: Double): Seq[(Long, Double)] =
    model.search(query, tau).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("metadata matches the input matrix") {
    assert(model.nItems == 5)
    assert(model.nFeatures == 24)
  }

  test("tau=1.0 is pure cosine: exact ordering [2,1,4] (test_0.py:29-32)") {
    val h = hits(1.0)
    assert(h.size == 3)
    assert(h.map(_._1) == Seq(2L, 1L, 4L))
    // query = items[2] * 1.05 => cos with item 2 is exactly 1
    assert(math.abs(h.head._2 - 1.0) < 1e-12)
  }

  test("tau=0.9 blended: exact ordering [1,2,0] (test_0.py:39-42)") {
    // Scale-sensitivity at work: the query is 1.05x item 2, so pure
    // cosine puts item 2 first, but its raw-Dirichlet lambda differs
    // from item 2's and the blend flips the order - exactly the
    // reference's pinned behavior.
    val h = hits(0.9)
    assert(h.map(_._1) == Seq(1L, 2L, 0L), s"got ${h.map(_._1)}")
  }

  test("blended search returns topk results, deterministically, scores descending") {
    for (tau <- Seq(0.9, 0.6, 0.55)) {
      val h1 = hits(tau)
      val h2 = hits(tau)
      assert(h1.size == 3, s"tau=$tau")
      assert(h1 == h2, s"tau=$tau not deterministic")
      assert(h1.map(_._2) == h1.map(_._2).sorted.reverse, s"tau=$tau not descending")
    }
  }

  test("lambdas are non-degenerate and bounded") {
    val l = model.lambdas.collect().map(_.getDouble(1))
    assert(l.length == 5)
    assert(l.forall(v => v > 0.0 && v < 1.0), l.mkString(","))
    assert(l.distinct.length > 1, "lambdas collapsed to a single value")
  }

  test("lambda_q is nonzero and search_hybrid skips the assert (src/lib.rs:182-219)") {
    assert(model.prepareQueryLambda(query) != 0.0)
    assert(model.searchHybrid(query, 0.62).count() == 3)
  }

  test("zero query vector triggers the reference's lambda-zero error (src/lib.rs:156-159)") {
    val e = intercept[IllegalArgumentException](
      model.search(new Array[Double](24), 0.62))
    assert(e.getMessage.contains("lambdas are zero"))
    // search_hybrid skips the assert (src/lib.rs:182-219) and still runs
    assert(model.searchHybrid(new Array[Double](24), 0.62).count() == 3)
  }

  test("query length validation mirrors src/lib.rs:139-146") {
    val e = intercept[IllegalArgumentException](model.search(Array(1.0, 2.0), 1.0))
    assert(e.getMessage.contains("must match nfeatures"))
  }

  test("graph is symmetric with no self-loops") {
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(es.nonEmpty)
    assert(es.forall { case (s, d, _) => s != d })
    val set = es.map { case (s, d, w) => ((s, d), w) }.toMap
    es.foreach { case (s, d, w) =>
      assert(set.get((d, s)).exists(w2 => math.abs(w2 - w) < 1e-12), s"($s,$d) not symmetric")
    }
  }

  test("scale invariance: normalized topology — scaling all items by 10 keeps orderings (NORMALISATION.md)") {
    val s = spark
    import s.implicits._
    val scaled = items.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_ * 10.0)) }
      .toSeq.toDF("id", "vec")
    val (m2, _) = ArrowSpaceBuilder.build(scaled, params)
    for (tau <- Seq(1.0, 0.6)) {
      val a = hits(tau).map(_._1)
      val b = m2.search(query.map(_ * 10.0), tau).collect().map(_.getLong(0)).toSeq
      assert(a == b, s"tau=$tau scale variance")
    }
  }

  test("batch search matches per-query search results") {
    val s = spark
    import s.implicits._
    val queries = Seq(
      (100L, items(2).map(_ * 1.05)),
      (200L, items(0).map(_ * 0.95))).toDF("query_id", "qvec")
    val batch = model.searchBatch(queries, tau = 0.62, topk = 3)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val single1 = model.search(items(2).map(_ * 1.05), 0.62).collect().map(_.getLong(0)).toSeq
    val single2 = model.search(items(0).map(_ * 0.95), 0.62).collect().map(_.getLong(0)).toSeq
    assert(batch.filter(_._1 == 100L).map(_._2) == single1)
    assert(batch.filter(_._1 == 200L).map(_._2) == single2)
  }

  test("batch search rejects wrong-length qvec on BOTH qlambda branches") {
    val s = spark
    import s.implicits._
    val nf = items(0).length
    // recompute branch: the lamQ UDF checks
    val bad = Seq((1L, Array.fill(nf + 2)(0.1))).toDF("query_id", "qvec")
    val e1 = intercept[Exception](model.searchBatch(bad, 0.62, 3).collect())
    assert(e1.getMessage.contains("must match nfeatures") ||
      Option(e1.getCause).exists(_.getMessage.contains("must match nfeatures")))
    // precomputed-qlambda branch: previously sailed through to the
    // min-length cosine kernel and scored garbage
    val badPre = Seq((1L, Array.fill(nf + 2)(0.1), 0.5))
      .toDF("query_id", "qvec", "qlambda")
    val e2 = intercept[Exception](model.searchBatch(badPre, 0.62, 3).collect())
    assert(e2.getMessage.contains("must match nfeatures") ||
      Option(e2.getCause).exists(_.getMessage.contains("must match nfeatures")))
    // a NULL precomputed qlambda must error too, not rank k null-scored
    // rows NULLS-LAST
    val badNull = Seq((1L, items(1), Option.empty[Double]))
      .toDF("query_id", "qvec", "qlambda")
    val e3 = intercept[Exception](model.searchBatch(badNull, 0.62, 3).collect())
    assert(e3.getMessage.contains("qlambda is null/NaN") ||
      Option(e3.getCause).exists(_.getMessage.contains("qlambda is null/NaN")))
    // and a RIGHT-length precomputed qlambda still works
    val good = Seq((9L, items(1), model.prepareQueryLambda(items(1))))
      .toDF("query_id", "qvec", "qlambda")
    assert(model.searchBatch(good, 0.62, 3).count() == 3L)
  }

  /** Six queries near the items, as a driver-local table and as the
    * same rows read back from Parquet. */
  lazy val (localQueries, parquetQueries) = {
    val s = spark
    import s.implicits._
    val local = (0 until 6).map(i =>
      (i.toLong, items(i % items.length).map(_ * (1.0 + 0.03 * i))))
      .toDF("query_id", "qvec")
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-q").toString
    local.write.mode("overwrite").parquet(s"$dir/q")
    (local, s.read.parquet(s"$dir/q"))
  }

  def batchRows(q: org.apache.spark.sql.DataFrame, tau: Double): Seq[(Long, Long, Double, Int)] =
    model.searchBatch(q, tau, 3).collect().toSeq.map(r => (
      r.getAs[Long]("query_id"), r.getAs[Long]("id"),
      r.getAs[Double]("score"), r.getAs[Int]("rank"))).sorted

  test("batch search: driver-local and Parquet-read queries return identical rows") {
    for (tau <- Seq(1.0, 0.8, 0.6)) {
      val local = batchRows(localQueries, tau)
      assert(local.size == 6 * 3, s"tau=$tau: ${local.size} rows")
      assert(local == batchRows(parquetQueries, tau), s"tau=$tau: sources disagree")
    }
  }

  test("batch search: driver-local queries are sized from the plan, Parquet queries are measured") {
    import org.apache.spark.graftspec.JobCount
    val sc = spark.sparkContext
    batchRows(localQueries, 0.8) // first-use work stays out of the counts
    val (outL, planL) = JobCount(sc)(model.searchBatch(localQueries, 0.8, 3))
    val (_, runL) = JobCount(sc)(outL.collect())
    // the call runs the kernel's one job and returns a local frame,
    // whose collect runs none
    assert(planL == 1, s"driver-local queries ran $planL jobs in searchBatch")
    assert(runL == 0, s"collecting a driver-local search ran $runL jobs")
    val (outP, planP) = JobCount(sc)(model.searchBatch(parquetQueries, 0.8, 3))
    val (_, runP) = JobCount(sc)(outP.collect())
    // the measured path: one bounded driver read, then the same kernel
    // job as the driver-local table
    assert(planP == 2, s"Parquet queries ran $planP jobs in searchBatch")
    assert(runP == 0, s"collecting a Parquet-sourced search ran $runP jobs")
  }

  /** The fixture items plus two exact duplicates (score ties) and a
    * zero vector. */
  lazy val (tieModel, _) = {
    val s = spark
    import s.implicits._
    val vs = items ++ Seq(items(1), items(3), Array.fill(items(0).length)(0.0))
    ArrowSpaceBuilder.build(
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec"), params)
  }

  /** String query ids (one repeated), a tied pair, a zero query and a
    * qvec with a null slot, with qlambda precomputed on the driver (0.5
    * for the null-slot row). */
  lazy val tieQueries = {
    val s = spark
    import s.implicits._
    val nf = items(0).length
    def opt(v: Array[Double]): Seq[Option[Double]] = v.toSeq.map(Some(_))
    Seq(
      ("a", opt(items(2).map(_ * 1.05))),
      ("a", opt(items(0))),
      ("b", opt(items(1))),
      ("c", opt(items(3).map(_ * 0.9))),
      ("zero", opt(Array.fill(nf)(0.0))),
      ("null-slot", opt(items(4)).updated(3, None)))
      .map { case (id, v) =>
        (id, v, if (v.contains(None)) 0.5 else tieModel.prepareQueryLambda(v.flatten.toArray))
      }
      .toDF("query_id", "qvec", "qlambda")
  }

  /** The plain Column form on the SAME model: a cross join, `cosine` +
    * `lambdaProximity`, null scores dropped, then the per-query window. */
  def crossJoinOracle(q: org.apache.spark.sql.DataFrame, tau: Double, k: Int) = {
    import graft.functions.VectorFunctions.{cosine, lambdaProximity}
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(F.col("score").desc, F.col("id").asc)
    tieModel.items.crossJoin(q)
      .withColumn("score", F.lit(tau) * cosine(F.col("vec"), F.col("qvec")) +
        F.lit(1.0 - tau) * lambdaProximity(F.col("lambda"), F.col("qlambda")))
      .where(F.col("score").isNotNull)
      .withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
  }

  /** (query_id, id, score bits, rank) rows, sorted; a double query_id
    * as its bits, so 0.0, -0.0 and NaN compare exactly. */
  def scoreBits(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Int)] =
    df.select("query_id", "id", "score", "rank").collect().toSeq.map(r => (
      r.get(0) match {
        case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
        case key => String.valueOf(key)
      }, r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3))).sorted

  /** Double query ids 0.0, -0.0, NaN (twice) and 1.5, each with its own
    * vector, qlambda precomputed on the driver. */
  lazy val doubleKeyQueries = {
    val s = spark
    import s.implicits._
    Seq(0.0 -> items(2).map(_ * 1.05), -0.0 -> items(0), Double.NaN -> items(1),
      Double.NaN -> items(3).map(_ * 0.9), 1.5 -> items(4))
      .map { case (id, v) => (id, v, tieModel.prepareQueryLambda(v)) }
      .toDF("query_id", "qvec", "qlambda")
  }

  /** Under this bound the six tie or five double-keyed queries' n × k
    * result rows never fit (k = 3 holds 4 queries), so searchBatch
    * takes the shuffle join. */
  val overBound = graft.core.DriverLocal.Default.copy(rows = 14L)

  def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isDefined

  test("batch search: the block kernel is bit-identical to the cross-join oracle") {
    import graft.core.DriverLocal
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-tie-q").toString
    tieQueries.write.mode("overwrite").parquet(s"$dir/q")
    val fromParquet = spark.read.parquet(s"$dir/q")
    // the λ-recompute branch, without the null-slot row (its λ has no
    // driver-side counterpart)
    val noLambda = tieQueries.where(F.col("query_id") =!= "null-slot").drop("qlambda")
    for (tau <- Seq(1.0, 0.8, 0.6); k <- Seq(3, 20)) {
      val want = scoreBits(crossJoinOracle(tieQueries, tau, k))
      assert(scoreBits(tieModel.searchBatch(tieQueries, tau, k)) == want, s"tau=$tau k=$k local")
      assert(scoreBits(tieModel.searchBatch(fromParquet, tau, k)) == want, s"tau=$tau k=$k Parquet")
      assert(scoreBits(tieModel.searchBatch(noLambda, tau, k)) ==
        want.filter(_._1 != "null-slot"), s"tau=$tau k=$k recomputed λ")
      val perQuery = want.groupBy(_._1).map { case (q, rs) => q -> rs.size }
      // the null-slot query scores nothing; k > items keeps all 8; the
      // repeated "a" merges its two queries in one window
      assert(perQuery == (if (k == 3) Map("a" -> 3, "b" -> 3, "c" -> 3, "zero" -> 3)
        else Map("a" -> 16, "b" -> 8, "c" -> 8, "zero" -> 8)), s"tau=$tau k=$k: $perQuery")
    }
    // the duplicate of item 1 ties it exactly and ranks after it
    val b = scoreBits(tieModel.searchBatch(tieQueries, 1.0, 3)).filter(_._1 == "b").sortBy(_._4)
    assert(b.take(2).map(r => (r._2, r._4)) == Seq((1L, 1), (5L, 2)) && b(0)._3 == b(1)._3, s"$b")

    doubleKeyQueries.write.mode("overwrite").parquet(s"$dir/d")
    val dblParquet = spark.read.parquet(s"$dir/d")
    val zero = s"d${java.lang.Double.doubleToRawLongBits(0.0)}"
    val negZero = s"d${java.lang.Double.doubleToRawLongBits(-0.0)}"
    val nan = s"d${java.lang.Double.doubleToRawLongBits(Double.NaN)}"
    for (tau <- Seq(1.0, 0.6); k <- Seq(3, 20)) {
      // 0.0 and -0.0 rank together, as do the two NaNs; each row keeps
      // its own key
      val want = scoreBits(crossJoinOracle(doubleKeyQueries, tau, k))
      assert(scoreBits(tieModel.searchBatch(doubleKeyQueries, tau, k)) == want, s"tau=$tau k=$k local")
      assert(scoreBits(tieModel.searchBatch(dblParquet, tau, k)) == want, s"tau=$tau k=$k Parquet")
      def ranked(keys: String*) = want.filter(r => keys.contains(r._1)).map(_._4).sorted
      assert(ranked(zero, negZero) == (1 to math.min(k, 16)) && ranked(nan) == (1 to math.min(k, 16)),
        s"tau=$tau k=$k: $want")
      if (k == 20) assert(want.exists(_._1 == negZero) && want.exists(_._1 == zero))
      // a heap state over the bound takes the shuffle join and its window
      val tieWant = scoreBits(crossJoinOracle(tieQueries, tau, k))
      for ((q, name) <- Seq(tieQueries -> "local", fromParquet -> "Parquet",
          doubleKeyQueries -> "double")) {
        val out = tieModel.searchBatchWithin(q, tau, k, overBound)
        assert(hasWindow(out), s"tau=$tau k=$k $name: not the shuffle join")
        assert(scoreBits(out) == (if (name == "double") want else tieWant), s"tau=$tau k=$k $name over bound")
      }
      assert(!hasWindow(tieModel.searchBatch(tieQueries, tau, k)))
    }

    // a merge deeper than one level (16 partitions, at most 2 states'
    // pairs at the driver) drains the same heaps as a plain reduce
    import graft.scale.BlockScore
    val large = tieModel.items.select("id", "vec", "lambda")
    val block = BlockScore.Block.of(DriverLocal.folded(tieQueries), StringType)
    def drained(df: org.apache.spark.sql.DataFrame, maxPairs: Long) =
      BlockScore.blendTopK(df, block, 0.8, 3, maxPairs).toSeq.map(h =>
        Option(h).map { h => val m = h.drain(); (h.scores.take(m).toSeq, h.ties.take(m).toSeq) })
    assert(BlockScore.treeDepth(16, 6L * 3, 2L * 6 * 3) > 1)
    assert(drained(large.repartition(16), 2L * 6 * 3) == drained(large, Long.MaxValue))

    // the returned schema (names, types, nullability) is the window's
    def schema(key: DataType) = StructType(Seq(StructField("query_id", key),
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    assert(model.searchBatch(localQueries, 0.8, 3).schema == schema(LongType))
    assert(model.searchBatch(parquetQueries, 0.8, 3).schema == schema(LongType))
    assert(tieModel.searchBatch(tieQueries, 0.8, 3).schema == schema(StringType))
    assert(tieModel.searchBatch(doubleKeyQueries, 0.8, 3).schema == schema(DoubleType))
    assert(tieModel.searchBatch(localQueries.withColumn("query_id", F.col("query_id").cast("int")),
      0.8, 3).schema == schema(IntegerType))
  }

  test("fluent Builder facade matches direct builder output") {
    val (m2, _) = graft.api.Builder()
      .withLambdaGraph(eps = 0.05, k = 5, topk = 3, p = 2.0, sigma = Some(0.05))
      .withSeed(42L)
      .withSparsityCheck(false)
      .build(itemsDf)
    val a = hits(0.62).map(_._1)
    val b = m2.search(query, 0.62).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(math.abs(m2.tau - model.tau) < 1e-12)
  }

  test("save/load round-trips the index and search results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    model.save(dir)
    val loaded = graft.api.ArrowSpaceModel.load(spark, dir)
    assert(loaded.nItems == model.nItems)
    assert(loaded.nFeatures == model.nFeatures)
    assert(math.abs(loaded.tau - model.tau) < 1e-12)
    assert(loaded.featureLaplacian.edges.length == model.featureLaplacian.edges.length)
    val a = hits(0.62)
    val b = loaded.search(query, 0.62).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.map(_._1) == b.map(_._1))
  }

  test("save/load round-trips the normalise flag (defaults true for old sidecars)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-raw-model").toString
    val (mRaw, _) = ArrowSpaceBuilder.build(
      itemsDf, params.copy(normalise = false))
    mRaw.save(dir)
    val loaded = graft.api.ArrowSpaceModel.load(spark, dir)
    assert(!loaded.params.normalise, "normalise=false was lost on load")
    // a sidecar WITHOUT the field (pre-round-4 layout) reads as true
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val txt = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val legacy = txt.replaceAll("\"normalise\":\\d+,\\s*", "")
    val out = fs.create(p, true)
    try out.write(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(graft.api.ArrowSpaceModel.load(spark, dir).params.normalise)
  }

  test("save/load survives negative-exponent JSON scalars (tau=1e-10)") {
    // tau falls back to 1e-10 when the median energy is 0; the sidecar
    // writes it as 1.0E-10, which the old number regex could not parse.
    val dir = java.nio.file.Files.createTempDirectory("graft-tiny-tau").toString
    val (m2, _) = ArrowSpaceBuilder.build(
      itemsDf, params, graft.spectral.TauMode.Fixed(1e-10))
    m2.save(dir)
    val loaded = graft.api.ArrowSpaceModel.load(spark, dir)
    assert(loaded.tau == 1e-10, s"tau corrupted on reload: ${loaded.tau}")
    assert(loaded.featureLaplacian.edges.length == m2.featureLaplacian.edges.length,
      "lapEdges triples dropped on reload")
    assert(loaded.featureLaplacian.edges.zip(m2.featureLaplacian.edges).forall {
      case (a, b) => a.f == b.f && a.g == b.g && math.abs(a.w - b.w) < 1e-15
    })
  }

  test("searchHybrid reduces to search at alpha=1 and diverges with magnitude spread") {
    // alpha=1 removes the magnitude-penalty term entirely
    val a = hits(0.8)
    val b = model.searchHybrid(query, 0.8, alpha = 1.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((_, sa), (_, sb)) => assert(math.abs(sa - sb) < 1e-12) }
    // default alpha=0.5 blends exp(-|ln(|q|/|x|)|): with the query
    // scaled 3x, every item's penalty shrinks, so hybrid scores drop
    // below the pure-cosine-blend scores while cosine stays unchanged
    val scaled = query.map(_ * 3.0)
    val hybrid = model.searchHybrid(scaled, 0.8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val plain = model.searchHybrid(scaled, 0.8, alpha = 1.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(hybrid.keySet == plain.keySet)
    assert(hybrid.forall { case (id, s) => s < plain(id) },
      "magnitude penalty must lower every blended score for a 3x-scaled query")
  }

  test("energy search returns k results without cosine") {
    val h = model.searchEnergy(query, k = 4)
    assert(h.count() == 4)
  }

  test("searches on README-style 3x3 matrix: cosine scores match (README.md:36-69)") {
    val s = spark
    import s.implicits._
    val m3 = Seq(
      (0L, Array(0.1, 0.2, 0.3)),
      (1L, Array(0.0, 0.5, 0.1)),
      (2L, Array(0.9, 0.1, 0.0))).toDF("id", "vec")
    val p3 = GraphParams(eps = 1.0, k = 6, topk = 3, p = 2.0, sigma = Some(1.0))
    val (mm, _) = ArrowSpaceBuilder.build(m3, p3)
    val res = mm.search(Array(0.05, 0.2, 0.25), 1.0).collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // pure-cosine scores from the README example
    val expected = Map(0L -> 0.98974, 1L -> 0.75653, 2L -> 0.22152)
    res.foreach(r => assert(math.abs(r.getDouble(1) - expected(r.getLong(0))) < 1e-4))
  }

  /** 400 Gaussian 16-d vectors in 4 Parquet files, read back. */
  lazy val gaussianParquet = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20261020L)
    val dir = java.nio.file.Files.createTempDirectory("graft-build-parity").toString
    (0 until 400).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian())))
      .toDF("id", "vec").repartition(4).write.parquet(s"$dir/emb")
    s.read.parquet(s"$dir/emb")
  }

  val gaussianParams: GraphParams = GraphParams(eps = 1.0, k = 6, topk = 5)

  /** Under this bound no input is driver-held. */
  val noDriverBuild = graft.core.DriverLocal.Default.copy(rows = -1L)

  def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  def edgeBits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("src", "dst", "dist", "weight").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), bits(r.getDouble(3)))).sorted

  def itemBits(m: graft.api.ArrowSpaceModel): Seq[(Long, Long, Long)] =
    m.items.select("id", "lambda", "e_raw").collect().toSeq.map(r =>
      (r.getLong(0), bits(r.getDouble(1)), bits(r.getDouble(2)))).sorted

  test("driver-held and distributed builds of one Parquet input are bit-identical") {
    import graft.api.ArrowSpaceBuilder.BuildOptions
    import graft.spectral.TauMode
    val input = gaussianParquet
    assert(input.rdd.getNumPartitions > 1)
    for (tauMode <- Seq(TauMode.Median, TauMode.Mean)) {
      val (local, localEdges) = ArrowSpaceBuilder.build(input, gaussianParams, tauMode, BuildOptions())
      val (dist, distEdges) = ArrowSpaceBuilder.buildWithin(
        input, gaussianParams, tauMode, BuildOptions(), noDriverBuild)
      // the driver path returns local frames; the distributed one does not
      assert(localEdges.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(!distEdges.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val es = edgeBits(localEdges)
      assert(es.nonEmpty && es == edgeBits(distEdges), s"$tauMode: graph edges differ")
      assert(local.featureLaplacian.dim == dist.featureLaplacian.dim)
      assert(local.featureLaplacian.edges.toSeq.map(e => (e.f, e.g, bits(e.w))) ==
        dist.featureLaplacian.edges.toSeq.map(e => (e.f, e.g, bits(e.w))), s"$tauMode: Laplacians differ")
      assert(bits(local.tau) == bits(dist.tau), s"$tauMode: tau ${local.tau} vs ${dist.tau}")
      assert((local.nItems, local.nFeatures) == ((dist.nItems, dist.nFeatures)))
      val li = itemBits(local)
      assert(li.size == 400 && li == itemBits(dist), s"$tauMode: lambdas differ")
      // so scores may be compared across the two builds
      val q = input.where(F.col("id") % 40 === 0).select(F.col("id").as("query_id"), F.col("vec").as("qvec"))
      for (tau <- Seq(1.0, 0.7))
        assert(scoreBits(local.searchBatch(q, tau, 5)) == scoreBits(dist.searchBatch(q, tau, 5)),
          s"$tauMode tau=$tau: scores differ across builds")
      Seq(local.items, dist.items, distEdges).foreach(_.unpersist())
    }
  }

  test("the Gram, tau and lambda bits do not depend on the order tasks finish in") {
    import graft.spectral.{FeatureLaplacian, TauMode}
    import org.apache.spark.sql.DataFrame
    val input = gaussianParquet.select(F.col("id"), F.col("vec").cast("array<double>").as("vec"))
      .repartition(4).localCheckpoint()
    // partition i finishes after (order(i) · 300) ms of sleep
    def sleepy(df: DataFrame, order: Seq[Int]): DataFrame =
      spark.createDataFrame(df.rdd.mapPartitionsWithIndex { (i, it) =>
        Thread.sleep(order(i) * 300L); it
      }, df.schema)
    val (forward, backward) = (Seq(0, 1, 2, 3), Seq(3, 2, 1, 0))
    val grams = Seq(forward, backward).map(o => FeatureLaplacian.gramMatrix(sleepy(input, o), 16))
    val moved = grams(0).indices.count(i => bits(grams(0)(i)) != bits(grams(1)(i)))
    assert(moved == 0, s"$moved of ${grams(0).length} Gram cells differ")
    val lap = FeatureLaplacian.fromGram(grams(0), gaussianParams, 16)
    for (tauMode <- Seq(TauMode.Mean, TauMode.Median)) {
      val built = Seq(forward, backward).map(o =>
        ArrowSpaceBuilder.synthesizeLambdas(sleepy(input, o), lap, tauMode, "S10"))
      assert(bits(built(0)._2) == bits(built(1)._2), s"$tauMode: tau differs")
      def lambdas(df: DataFrame) = df.select("id", "lambda").collect().toSeq
        .map(r => (r.getLong(0), bits(r.getDouble(1)))).sorted
      assert(lambdas(built(0)._1) == lambdas(built(1)._1), s"$tauMode: lambdas differ")
      built.foreach(_._1.unpersist())
    }
  }

  test("the driver-held build runs 3 jobs; the distributed build's jobs are pinned") {
    import graft.api.ArrowSpaceBuilder.BuildOptions
    import graft.spectral.TauMode
    import org.apache.spark.graftspec.JobCount
    val sc = spark.sparkContext
    ArrowSpaceBuilder.build(gaussianParquet, gaussianParams) // first-use work out of the counts
    for (input <- Seq(gaussianParquet, itemsDf)) {
      val ((m, _), jobs) = JobCount(sc)(ArrowSpaceBuilder.build(input, gaussianParams))
      assert(jobs == 3, s"the driver-held build ran $jobs jobs")
      // its items are materialized: reading them runs no build stage again
      val (_, reads) = JobCount(sc)(m.items.count())
      assert(reads <= 2, s"counting the built items ran $reads jobs")
      m.items.unpersist()
    }
    val ((m, e), jobs) = JobCount(sc)(ArrowSpaceBuilder.buildWithin(
      gaussianParquet, gaussianParams, TauMode.Median, BuildOptions(), noDriverBuild))
    // the refused bounded read, then the 15 jobs of S1-S10 (S1's
    // aggregation, the block read, the graph's scan, shuffle and count,
    // the Gram, τ's count and collect, and the λ join and its count,
    // with AQE's shuffle stages)
    assert(jobs == 16, s"the distributed build ran $jobs jobs")
    m.items.unpersist(); e.unpersist()
    // a local frame over the bound's rows skips the read: S1-S10 alone
    val ((m2, e2), jobs2) = JobCount(sc)(ArrowSpaceBuilder.buildWithin(
      itemsDf, params, TauMode.Median, BuildOptions(), graft.core.DriverLocal.Default.copy(rows = 2L)))
    assert(jobs2 == 15, s"the distributed build of a local frame ran $jobs2 jobs")
    m2.items.unpersist(); e2.unpersist()
  }

  test("a refused bounded read does not run an input's upstream shuffle stage again") {
    import graft.api.ArrowSpaceBuilder.BuildOptions
    import graft.spectral.TauMode
    import org.apache.spark.graftspec.JobCount
    val sc = spark.sparkContext
    val reads = sc.longAccumulator("vector reads")
    val counted = F.udf { (v: Seq[Double]) => reads.add(1L); v }
    val shuffled = gaussianParquet.select(F.col("id"), counted(F.col("vec")).as("vec")).repartition(3)
    val ((m, e), jobs) = JobCount(sc)(ArrowSpaceBuilder.buildWithin(
      shuffled, gaussianParams, TauMode.Median, BuildOptions(), noDriverBuild))
    assert(reads.value == 400L, s"the input's upstream read ${reads.value} vectors for 400 rows")
    // the read's two jobs (AQE's shuffle stage, then the refused read)
    // and S1-S10's 15
    assert(jobs == 17, s"the distributed build of a shuffled input ran $jobs jobs")
    val (local, _) = ArrowSpaceBuilder.build(gaussianParquet.repartition(3), gaussianParams)
    assert(itemBits(m) == itemBits(local))
    Seq(m.items, e, local.items).foreach(_.unpersist())
  }

  test("sumPartials adds partials in partition order and caps what reaches the driver") {
    import graft.core.DriverLocal
    import org.apache.spark.graftspec.JobCount
    val sc = spark.sparkContext
    val (n, size) = (64, 4096) // 64 partials of 32 KB
    val partial: Int => Array[Double] = { i =>
      val r = new scala.util.Random(i); Array.fill(size)(r.nextGaussian() * 1e3)
    }
    val held = (0 until n).map(partial)
    // partition i finishes after (n − i) · 5 ms, so the later ones first
    def sum(maxBytes: Long) = JobCount.withResultBytes(sc)(DriverLocal.sumPartials(
      sc.parallelize(0 until n, n), size, maxBytes) { it =>
      val i = it.next(); Thread.sleep((n - i) * 5L); partial(i)
    })
    val cap = 8L * size * 8 // 8 partials
    val (flat, flatJobs, flatBytes) = sum(Long.MaxValue)
    val (tree, treeJobs, treeBytes) = sum(cap)
    assert(flatJobs == 1 && treeJobs == 1)
    assert(flatBytes > n * size * 8L, s"the flat sum shipped $flatBytes bytes")
    // the capped sum's partials plus the shuffle tasks' statuses and
    // metrics, about 1.4 KB each
    assert(treeBytes < cap + n * 2048L, s"the capped sum shipped $treeBytes bytes")
    def moved(a: Array[Double], b: Array[Double]) = a.indices.count(i => bits(a(i)) != bits(b(i)))
    assert(moved(flat, DriverLocal.sumHeld(held, size, Long.MaxValue)) == 0)
    assert(moved(tree, DriverLocal.sumHeld(held, size, cap)) == 0)
    // the runs reassociate the sum: some cell's bits differ from the flat one's
    assert(moved(tree, flat) > 0)
  }

  test("S1 rejects null vectors on both build paths") {
    import graft.api.ArrowSpaceBuilder.BuildOptions
    import graft.spectral.TauMode
    val s = spark
    import s.implicits._
    for (vs <- Seq(Seq(Some(items(0)), None), Seq(None, None))) {
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
      for (bound <- Seq(graft.core.DriverLocal.Default, noDriverBuild)) {
        val e = intercept[Exception](ArrowSpaceBuilder.buildWithin(
          df, params, TauMode.Median, BuildOptions(), bound))
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(t => String.valueOf(t.getMessage).contains("same non-null length")),
          s"${vs.map(_.isDefined)} $bound: ${chain.map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")}")
      }
    }
  }

  test("setDebug names the build stages on the driver-held path") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    graft.core.Debug.setDebug(true)
    System.setErr(new java.io.PrintStream(err, true))
    try ArrowSpaceBuilder.build(itemsDf, params)._1.items.unpersist()
    finally { System.setErr(saved); graft.core.Debug.setDebug(false) }
    val log = err.toString
    for (stage <- Seq("S1 ingest stats", "S6-S8 eps-kNN graph", "S9 feature Laplacian",
        "S10 tau resolve", "S10 lambda materialize"))
      assert(log.contains(s"[graft] $stage: "), s"no $stage timing in:\n$log")
  }
}
