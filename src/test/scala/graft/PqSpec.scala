package graft

import graft.operators.Similarity
import org.apache.spark.sql.{functions => F}

/** Product-quantization codec: m-byte codes, ADC scoring = cosine of
  * the reconstruction, rerank-bounded exactness, and the save/load
  * round trip. Mirrors the SQ8 contract suite one codec over.
  */
class PqSpec extends SparkSpec {

  // 8 well-separated modes in 32 dims — real cosine structure, so a
  // per-subspace codebook of 16 entries captures the modes and tight
  // reranks still recall (near-orthogonal noise would not)
  lazy val emb = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    (0 until 600).map { i =>
      val base = Array.tabulate(32)(f => math.sin((i % 8) * 0.9 + f * 0.4))
      (i.toLong, base.map(_ + rng.nextGaussian() * 0.15))
    }.toDF("id", "vec")
  }

  lazy val query: Array[Double] =
    emb.where(F.col("id") === 11).select("vec").head.getSeq[Double](0).toArray

  test("codes are m bytes/row; full-coverage rerank reproduces exact top-k") {
    val index = Similarity.pqBuild(emb, m = 4, ksub = 16)
    try {
      assert(index.m == 4 && index.ksub == 16 && index.dsub == 8)
      // the density claim is literal: every code is a 4-byte BINARY
      val lens = index.codes.select(F.length(F.col("codes")).as("l"))
        .distinct().collect().map(_.getInt(0)).toSeq
      assert(lens == Seq(4), s"codes must be m=4 bytes, got lengths $lens")
      // rerank covering the corpus → the exact-rerank join IS the
      // answer; candidate ordering cannot lose anything
      val exact = Similarity.annTopK(emb, query, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaPq = Similarity.pqTopK(index, emb, query, 10, rerank = 600)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaPq == exact)
    } finally Similarity.pqRelease(index)
  }

  test("ADC score equals cosine(query, reconstruction) — kernel parity") {
    val index = Similarity.pqBuild(emb, m = 4, ksub = 16)
    try {
      val m = index.m; val ksub = index.ksub; val dsub = index.dsub
      val flat = index.books.flatten.flatten
      val rows = emb.limit(25).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val lutDot = new Array[Double](m * ksub)
      val lutN2 = new Array[Double](m * ksub)
      for (s <- 0 until m; j <- 0 until ksub) {
        val c = index.books(s)(j)
        lutDot(s * ksub + j) =
          (0 until dsub).map(f => query(s * dsub + f) * c(f)).sum
        lutN2(s * ksub + j) = c.map(x => x * x).sum
      }
      val qnorm = math.sqrt(query.map(x => x * x).sum)
      for ((_, x) <- rows) {
        val codes = graft.functions.PqKernels.encode(x, flat, m, ksub)
        // reconstruction by hand
        val recon = Array.tabulate(m * dsub) { i =>
          val s = i / dsub
          index.books(s)(codes(s) & 0xFF)(i % dsub)
        }
        val dot = recon.zip(query).map { case (a, b) => a * b }.sum
        val n2 = recon.map(a => a * a).sum
        val want =
          if (qnorm == 0.0 || n2 == 0.0) 0.0
          else dot / (qnorm * math.sqrt(n2))
        val got = graft.functions.PqKernels.adcCosine(codes, lutDot, lutN2, qnorm)
        assert(math.abs(got - want) < 1e-9, s"$got vs $want")
      }
    } finally Similarity.pqRelease(index)
  }

  test("tight-rerank recall tracks the code budget on clustered data") {
    // measured curve on this corpus at rerank=2k (all deterministic —
    // fixed corpus seed + DeterministicKMeans): m=4/ksub=16 → 0.75,
    // m=8/ksub=16 → 0.80, m=8/ksub=64 → 0.90, m=8/ksub=256 → 1.00.
    // Within one mode many rows share a coarse code, so ADC cannot
    // rank them and the tie-break cut loses true neighbors — the
    // classic PQ resolution/budget trade; the spec pins the documented
    // m=8/ksub=64 operating point.
    val index = Similarity.pqBuild(emb, m = 8, ksub = 64)
    try {
      val exact = Similarity.annTopK(emb, query, 20)
        .collect().map(_.getLong(0)).toSet
      val got = Similarity.pqTopK(index, emb, query, 20, rerank = 40)
        .collect().map(_.getLong(0)).toSet
      val recall = (exact & got).size / 20.0
      assert(recall >= 0.9, s"tight-rerank recall@20 = $recall < 0.9")
    } finally Similarity.pqRelease(index)
  }

  test("save/load round trip preserves results; loaded codebooks bit-match") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    val index = Similarity.pqBuild(emb, m = 4, ksub = 16)
    try {
      Similarity.pqSave(index, dir)
      val loaded = Similarity.pqLoad(spark, dir)
      assert(loaded.m == index.m && loaded.ksub == index.ksub &&
        loaded.dsub == index.dsub)
      for (s <- 0 until index.m; j <- 0 until index.ksub)
        assert(loaded.books(s)(j).toSeq == index.books(s)(j).toSeq,
          s"codebook ($s,$j) drifted through the JSON sidecar")
      val a = Similarity.pqTopK(index, emb, query, 10, rerank = 100)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Similarity.pqTopK(loaded, emb, query, 10, rerank = 100)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b)
    } finally Similarity.pqRelease(index)
  }

  test("pqTopKBatch: each qid equals the single-query path at the same rerank") {
    val s = spark
    import s.implicits._
    val index = Similarity.pqBuild(emb, m = 8, ksub = 64)
    try {
      val qids = Seq(3L, 77L, 240L, 591L)
      val qs = emb.where(F.col("id").isin(qids: _*))
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val batch = Similarity.pqTopKBatch(index, emb, qs, k = 10, rerank = 50)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      for (qid <- qids) {
        val q = emb.where(F.col("id") === qid).select("vec")
          .head.getSeq[Double](0).toArray
        val single = Similarity.pqTopK(index, emb, q, 10, rerank = 50)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid) == single, s"qid=$qid diverged from single-query")
      }
    } finally Similarity.pqRelease(index)
  }

  test("IVF+PQ: full probes degenerate to pqTopK; pruning only restricts") {
    val ivf = Similarity.ivfBuild(emb, nLists = 8)
    val pq = Similarity.pqBuild(emb, m = 8, ksub = 64)
    try {
      // probing every list = no pruning: the composition must equal
      // the plain PQ scan at the same rerank, row for row
      val all = Similarity.ivfPqTopK(ivf, pq, emb, query, 10,
          nprobe = 8, rerank = 60)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val plain = Similarity.pqTopK(pq, emb, query, 10, rerank = 60)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(all == plain)
      // pruned probes can only draw candidates from the probed lists
      val probes = Similarity.ivfProbes(ivf, query, 2).toSet
      val probedIds = ivf.assigned
        .where(F.col("cluster").isin(probes.toSeq: _*))
        .select("id").collect().map(_.getLong(0)).toSet
      val pruned = Similarity.ivfPqTopK(ivf, pq, emb, query, 10,
          nprobe = 2, rerank = 60)
        .collect().map(_.getLong(0)).toSet
      assert(pruned.subsetOf(probedIds))
      // and on clustered data 2-of-8 probes still recall the exact set
      val exact = Similarity.annTopK(emb, query, 10)
        .collect().map(_.getLong(0)).toSet
      assert((pruned & exact).size >= 9,
        s"IVF+PQ recall@10 too low: $pruned vs $exact")
    } finally {
      Similarity.ivfRelease(ivf)
      Similarity.pqRelease(pq)
    }
  }

  test("ivfPqTopKBatch: per-qid parity with single-query; full probes = pqTopKBatch") {
    val ivf = Similarity.ivfBuild(emb, nLists = 8)
    val pq = Similarity.pqBuild(emb, m = 8, ksub = 64)
    try {
      val qids = Seq(5L, 123L, 456L)
      val qs = emb.where(F.col("id").isin(qids: _*))
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      val batch = Similarity
        .ivfPqTopKBatch(ivf, pq, emb, qs, k = 10, nprobe = 3, rerank = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      for (qid <- qids) {
        val q = emb.where(F.col("id") === qid).select("vec")
          .head.getSeq[Double](0).toArray
        val single = Similarity
          .ivfPqTopK(ivf, pq, emb, q, k = 10, nprobe = 3, rerank = 50)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid) == single, s"qid=$qid diverged from single-query")
      }
      // all lists probed = no pruning: identical to the plain PQ batch
      val all = Similarity
        .ivfPqTopKBatch(ivf, pq, emb, qs, k = 10, nprobe = 8, rerank = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val plain = Similarity
        .pqTopKBatch(pq, emb, qs, k = 10, rerank = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(all == plain)
    } finally {
      Similarity.ivfRelease(ivf)
      Similarity.pqRelease(pq)
    }
  }

  test("validation: dims must split, ksub fits a byte, rerank >= k") {
    val e1 = intercept[IllegalArgumentException](
      Similarity.pqBuild(emb, m = 5, ksub = 8))
    assert(e1.getMessage.contains("subspaces"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.pqBuild(emb, m = 4, ksub = 300))
    assert(e2.getMessage.contains("256"))
    val index = Similarity.pqBuild(emb, m = 4, ksub = 8)
    try {
      val e3 = intercept[IllegalArgumentException](
        Similarity.pqTopK(index, emb, query, 10, rerank = 5))
      assert(e3.getMessage.contains("rerank"))
      val e4 = intercept[IllegalArgumentException](
        Similarity.pqTopK(index, emb, query.take(16), 10, rerank = 20))
      assert(e4.getMessage.contains("dims"))
    } finally Similarity.pqRelease(index)
  }

  test("OPQ: rotation orthonormal; cosine preserved — full-coverage rerank equals exact") {
    val index = Similarity.opqBuild(emb, m = 4, ksub = 16)
    try {
      val rot = index.rot
      val dims = rot.length
      assert(dims == 32 && rot.forall(_.length == 32))
      for (i <- 0 until dims; j <- i until dims) {
        val d = (0 until dims).map(f => rot(i)(f) * rot(j)(f)).sum
        assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
          s"R not orthonormal at ($i,$j): $d")
      }
      // orthogonality ⇒ rotated-space cosines == raw cosines, so the
      // covering rerank reproduces the exact answer, scores included
      val exact = Similarity.annTopK(emb, query, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaOpq = Similarity.opqTopK(index, emb, query, 10, rerank = 600)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaOpq == exact)
    } finally Similarity.opqRelease(index)
  }

  test("OPQ: batch equals single per qid; recall beats raw-sliced PQ on a mixed anisotropic corpus") {
    val s = spark
    import s.implicits._
    // the published OPQ win case (Ge et al. §4, "eigenvalue
    // allocation"): variance decays steadily ALONG the dim index, so
    // raw consecutive slicing hands subspace 0 every high-variance
    // dim (16 centers stretched over four wide dims) while the tail
    // subspaces spend whole codebooks on near-noise. The PCA-permuted
    // basis deals one wide dim to each subspace. NOTE the converse is
    // also real and spec-worthy: on effectively-rank-1 data (one
    // dominant latent MIXED into every raw dim) raw slicing wins,
    // because spreading the dominant direction across all m subspaces
    // quantizes it with the PRODUCT of their codebooks — rotation is
    // a measured choice, not a default (the recall rows of
    // history/SCALE_BENCH_r12_recall{40,80,160v}.json carry the
    // measurement).
    val dims = 32
    val rng = new scala.util.Random(47)
    def sample(): Array[Double] =
      Array.tabulate(dims)(f => rng.nextGaussian() * math.pow(1.35, -f))
    val data = (0 until 800).map(i => (i.toLong, sample())).toDF("id", "vec")
    val pq = Similarity.pqBuild(data, m = 8, ksub = 16)
    val opq = Similarity.opqBuild(data, m = 8, ksub = 16)
    try {
      val qs = (0 until 20).map(i => (i.toLong, {
        val r = data.where(F.col("id") === i * 37L).select("vec").head
        r.getSeq[Double](0).toArray
      }))
      def recallOf(top: Long => Seq[Long]): Double = {
        val hits = qs.map { case (qid, q) =>
          val exact = Similarity.annTopK(data, q, 10)
            .collect().map(_.getLong(0)).toSet
          top(qid).count(exact.contains)
        }.sum
        hits.toDouble / (qs.size * 10)
      }
      val qmap = qs.toMap
      // tight rerank (= k): recall reflects CODE quality, not the
      // exact rerank's ability to repair it
      val rPq = recallOf(qid =>
        Similarity.pqTopK(pq, data, qmap(qid), 10, rerank = 10)
          .collect().map(_.getLong(0)).toSeq)
      val rOpq = recallOf(qid =>
        Similarity.opqTopK(opq, data, qmap(qid), 10, rerank = 10)
          .collect().map(_.getLong(0)).toSeq)
      assert(rOpq > rPq,
        s"rotation should out-recall raw slicing here: opq=$rOpq pq=$rPq")

      // batch == single per qid at a production operating point
      val qdf = qs.map { case (qid, q) => (qid, q) }.toDF("qid", "qvec")
      val batch = Similarity.opqTopKBatch(opq, data, qdf, k = 5, rerank = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      qs.foreach { case (qid, q) =>
        val single = Similarity.opqTopK(opq, data, q, 5, rerank = 50)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid) == single, s"batch/single diverge for qid=$qid")
      }
    } finally {
      Similarity.pqRelease(pq)
      Similarity.opqRelease(opq)
    }
  }

  test("OPQ save/load round trip: rotation bit-matches, results identical") {
    val index = Similarity.opqBuild(emb, m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-opq").toString
    try {
      Similarity.opqSave(index, dir)
      val loaded = Similarity.opqLoad(spark, dir)
      assert(loaded.rot.length == index.rot.length)
      for (i <- index.rot.indices)
        assert(loaded.rot(i).toSeq == index.rot(i).toSeq,
          s"rotation row $i diverges after the round trip")
      val before = Similarity.opqTopK(index, emb, query, 10, rerank = 80)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val after = Similarity.opqTopK(loaded, emb, query, 10, rerank = 80)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(before == after)
    } finally Similarity.opqRelease(index)
  }

  test("rotation composes with any cosine index: rotated IVF at full probes equals raw exact") {
    val rot = Similarity.opqRotation(emb, m = 4)
    val rotated = Similarity.rotateEmbeddings(emb, rot)
    val iv = Similarity.ivfBuild(rotated, nLists = 8)
    try {
      val got = Similarity.ivfTopK(
          iv, Similarity.rotateQuery(query, rot), k = 10, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exact = Similarity.annTopK(emb, query, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == exact,
        "full-probe IVF over rotated vectors must equal raw exact search")
      // the composed layout is persistable: the rotation sidecar round
      // trips bit-for-bit beside whatever ivfSave wrote
      val dir = java.nio.file.Files.createTempDirectory("graft-rotsc").toString
      Similarity.rotationSave(spark, rot, dir)
      val back = Similarity.rotationLoad(spark, dir)
      assert(back.length == rot.length &&
        rot.indices.forall(i => back(i).toSeq == rot(i).toSeq))
    } finally Similarity.ivfRelease(iv)
  }

  test("residual-space OPQ: n2hat matches the rotated reconstruction; degenerate point exact; batch parity") {
    // the published IVFADC+OPQ form (VERDICT r11 #5): rotation trained
    // on residuals r = x − c(list), applied to residuals before
    // encoding — coarse quantizer stays in RAW space
    val iv = Similarity.ivfBuild(emb, nLists = 8)
    val rot = Similarity.opqRotationResidual(iv, m = 4)
    val pqr = Similarity.pqResidualBuild(iv, m = 4, ksub = 16,
      rot = Some(rot))
    try {
      assert(pqr.rot.isDefined)
      // BUILD-SIDE MATH: stored n2hat == ‖c + Rᵀ·dequant(codes)‖²
      // computed by hand (Rᵀb via the rotation rows: (Rᵀb)_f =
      // Σ_i rot(i)(f)·b(i))
      val cents = iv.centroids.sortBy(_._1).map(_._2)
      val assigned = iv.assigned.select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val codeRows = pqr.codes.limit(20).collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getDouble(2)))
      val dsub = pqr.dsub
      for ((id, codes, n2hat) <- codeRows) {
        val b = Array.tabulate(pqr.m * dsub) { i =>
          val s = i / dsub
          pqr.books(s)(codes(s) & 0xFF)(i % dsub)
        }
        val dims = cents.head.length
        val rtb = Array.tabulate(dims)(f =>
          (0 until dims).map(i => rot(i)(f) * b(i)).sum)
        val c = cents(assigned(id))
        val n2 = (0 until dims).map(f =>
          (c(f) + rtb(f)) * (c(f) + rtb(f))).sum
        assert(math.abs(n2hat - n2) < 1e-9,
          s"id=$id stored n2hat=$n2hat, hand=$n2")
      }
      // DEGENERATE POINT: full probes + full rerank == exact top-k —
      // the same oracle contract as every codec face
      val exact = Similarity.annTopK(emb, query, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = Similarity.ivfPqrTopK(iv, pqr, emb, query,
          k = 10, nprobe = 8, rerank = 600)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == exact)
      // BATCH PARITY with the rotation in play, at a PRUNED point
      // (tight rerank, half probes) so the rotated ADC ordering — not
      // the exact rerank — decides the result
      val qs = {
        val s = spark
        import s.implicits._
        emb.where(F.col("id") < 4)
          .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      }
      val single = (0L until 4L).flatMap { qid =>
        val qv = emb.where(F.col("id") === qid)
          .select("vec").head.getSeq[Double](0).toArray
        Similarity.ivfPqrTopK(iv, pqr, emb, qv, k = 5, nprobe = 4,
            rerank = 5)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      val batch = Similarity.ivfPqrTopKBatch(iv, pqr, emb, qs, k = 5,
          nprobe = 4, rerank = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(batch == single,
        s"batch/single diverge with rotation: ${batch diff single} / ${single diff batch}")
    } finally {
      Similarity.pqResidualRelease(pqr)
      Similarity.ivfRelease(iv)
    }
  }

  test("opqRotationFromMoments: merged uneven shard moments reproduce the one-shot rotation to 1e-6") {
    // the per-drop refit contract (VERDICT r11 #6): PCA moments are
    // additive, so the rotation refits from persisted sidecars
    // without rescanning history — same tolerance as PcaSpec's merge
    val oneShot = Similarity.opqRotation(emb, m = 4)
    val shards = Seq(
      emb.where(F.col("id") % 7 === 0),
      emb.where(F.col("id") % 7 === 1 || F.col("id") % 7 === 2),
      emb.where(F.col("id") % 7 >= 3))
    val merged = shards
      .map(sh => graft.scale.Pca.moments(sh, "vec", 32))
      .reduce(graft.scale.Pca.mergeMoments)
    val viaMoments = Similarity.opqRotationFromMoments(merged, 32, m = 4)
    assert(viaMoments.length == oneShot.length)
    val maxDiff = oneShot.indices.flatMap(i =>
      oneShot(i).indices.map(f =>
        math.abs(oneShot(i)(f) - viaMoments(i)(f)))).max
    assert(maxDiff < 1e-6,
      s"moments-refit rotation diverges from one-shot: max |Δ| = $maxDiff")
    intercept[IllegalArgumentException](
      Similarity.opqRotationFromMoments(merged, 32, m = 5))
  }

  test("opqBuildWithRotation: a supplied rotation builds the same index opqBuild fits itself") {
    // the build half of the per-drop refit story (r12): with the SAME
    // rotation, the caller-supplied build and the self-fitting build
    // answer identically at the degenerate exact-rerank point (the
    // codebooks train over identical rotated frames, deterministic
    // k-means makes them byte-equal), and the rotation rides the index
    val rot = Similarity.opqRotation(emb, m = 4)
    val self = Similarity.opqBuild(emb, m = 4, ksub = 8, iters = 5)
    val given = Similarity.opqBuildWithRotation(emb, rot, m = 4, ksub = 8,
      iters = 5)
    try {
      val q = emb.where(F.col("id") === 0)
        .select("vec").head.getSeq[Double](0).toArray
      val a = Similarity.opqTopK(self, emb, q, k = 10, rerank = 100000)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Similarity.opqTopK(given, emb, q, k = 10, rerank = 100000)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"supplied-rotation build diverges: $a vs $b")
      assert(given.rot.indices.forall(i =>
        given.rot(i).toSeq == rot(i).toSeq))
    } finally {
      Similarity.opqRelease(self)
      Similarity.opqRelease(given)
    }
    // a ragged (non-square) rotation is rejected upfront
    intercept[IllegalArgumentException](
      Similarity.opqBuildWithRotation(
        emb, Array(Array(1.0, 0.0), Array(0.0)), m = 1, ksub = 8))
    // dims that do not split into m subspaces are rejected upfront
    intercept[IllegalArgumentException](
      Similarity.opqBuildWithRotation(emb, rot, m = 5, ksub = 8))
  }
}
