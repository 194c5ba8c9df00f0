package graft

import graft.api.ArrowSpaceBuilder
import graft.core.GraphParams
import org.apache.spark.sql.{functions => F}

/** Physical-plan regression guards for the shapes history/SCALE.md promises:
  * scans prune and push down, top-k compiles to TakeOrderedAndProject
  * (partial per-partition top-k, no global sort), small dimension
  * sides broadcast. These break loudly if a refactor trades the plan
  * for a slower one that still returns correct rows.
  */
class PlanShapeSpec extends SparkSpec {

  test("filtered projection pushes the filter and prunes columns at the parquet scan") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .where(F.col("lang") === "en")
      .select("doc_id", "lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      plan.take(1000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      plan.take(1000))
  }

  test("lambda-aware search compiles to TakeOrderedAndProject, no global Sort") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1.0, 0.1, 0.2, 0.3)),
      (1L, Array(0.9, 0.2, 0.1, 0.4)),
      (2L, Array(0.1, 1.0, 0.3, 0.2)),
      (3L, Array(0.2, 0.9, 0.4, 0.1)),
      (4L, Array(0.3, 0.2, 1.0, 0.5))
    ).toDF("id", "vec")
    val (model, _) = ArrowSpaceBuilder.build(emb, GraphParams(eps = 1.0, k = 3, topk = 3))
    val res = model.search(Array(1.0, 0.1, 0.2, 0.3), tau = 0.62)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1000))
    assert(!plan.split("\n").exists(l => l.trim.startsWith("+- Sort") ||
      l.trim.startsWith(":- Sort")), plan.take(1000))
  }

  test("small dimension side of a fact join broadcasts") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val joined = customer
      .join(F.broadcast(nation), F.col("c_nationkey") === F.col("n_nationkey"))
      .groupBy("n_name").agg(F.count(F.lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1000))
    assert(!plan.contains("SortMergeJoin"), plan.take(1000))
  }

  test("SQ8 plans: indexed top-k is scan+TakeOrdered+broadcast rerank; batch bounds shuffle via WindowGroupLimit") {
    val s = spark
    import s.implicits._
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(f => math.sin(i * 0.3 + f)))).toDF("id", "vec")
    val index = graft.operators.Similarity.sq8Encode(emb, persist = false)
    val q = Array.tabulate(8)(f => math.cos(f * 0.2))
    val single = graft.operators.Similarity.sq8TopK(index, emb, q, 5, 20)
      .queryExecution.executedPlan.toString
    // candidate cut is a partial per-partition top-k, the rerank joins
    // a broadcast candidate list — never a sort-merge or cartesian
    assert(single.contains("TakeOrderedAndProject"), single.take(1200))
    assert(single.contains("BroadcastHashJoin"), single.take(1200))
    assert(!single.contains("SortMergeJoin") &&
      !single.contains("CartesianProduct"), single.take(1200))
    val qs = emb.where(F.col("id") < 3)
      .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
    val batch = graft.operators.Similarity.sq8TopKBatch(index, emb, qs, 5, 20)
      .queryExecution.executedPlan.toString
    // the salted per-query cut must push a group-limit BELOW the
    // exchange (WindowGroupLimit) so only ~rerank rows per (qid, salt)
    // ever shuffle — the Q×N scored rows stay in their map tasks
    assert(batch.contains("WindowGroupLimit"), batch.take(1500))
    assert(!batch.contains("SortMergeJoin"), batch.take(1500))
  }

  test("binaryTopKBatchTieAware: broadcast-only joins — queries, frontier bounds, rerank") {
    val s = spark
    import s.implicits._
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(f => math.sin(i * 0.3 + f)))).toDF("id", "vec")
    val index = graft.operators.Similarity.binaryEncode(emb, persist = false)
    val qs = emb.where(F.col("id") < 3)
      .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
    val plan = graft.operators.Similarity
      .binaryTopKBatchTieAware(index, emb, qs, k = 5, rerank = 10)
      .queryExecution.executedPlan.toString
    // every join in the face is against a bounded broadcast side —
    // the qbits fan-out, the per-qid frontier-distance attach, the
    // candidate rerank, and the query re-attach. The N×Q ham frame
    // must NEVER shuffle whole: no sort-merge, no cartesian.
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("gopherFlags is a map-only scan: no exchange in the plan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.operators.TextOps.gopherFlags(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1000))
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      plan.take(1000))
  }

  test("kCore peel round is hint-free: no forced broadcast on either side") {
    val s = spark
    import s.implicits._
    // r7 forced F.broadcast on the survivor set — in round 1 that is
    // the FULL node set, a driver/executor OOM at 100x graph scale
    // (VERDICT r7 #3). The delta-peel round (r10) must likewise leave
    // the strategy to AQE: the removed-Δ side is runtime data.
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val degs = Seq((0L, 1L), (1L, 2L), (2L, 1L)).toDF("id", "deg")
    val removed = Seq(Tuple1(2L)).toDF("id")
    val peeled = graft.graph.GraphAnalytics.peelDeltaOnce(edges, degs, removed)
    val hints = peeled.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"peelDeltaOnce must not force a join strategy: $hints")
    // the Δ application must stay an anti join (row-pruning, not outer)
    val plan = peeled.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(1200))
  }

  test("ivfPqTopK: ADC scoring sits above the probed-list id join, never the full codes scan") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val emb = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(f => math.sin((i % 4) * 0.9 + f * 0.4) +
        rng.nextGaussian() * 0.1))
    }.toDF("id", "vec")
    val ivf = graft.operators.Similarity.ivfBuild(emb, nLists = 4)
    val pq = graft.operators.Similarity.pqBuild(emb, m = 4, ksub = 16)
    try {
      val q = Array.tabulate(16)(f => math.sin(0.9 + f * 0.4))
      val out = graft.operators.Similarity.ivfPqTopK(
        ivf, pq, emb, q, k = 5, nprobe = 2, rerank = 20)
      val plan = out.queryExecution.executedPlan.toString
      // WHICH rows: the cluster membership filter must exist below the
      // codes join — the scan-fraction half of the IVF+PQ claim
      assert(plan.contains("cluster#") &&
        (plan.contains(" INSET ") || plan.contains(" IN (")),
        plan.take(2000))
      // WHAT is read: the ADC expression must be printed ABOVE (before,
      // in top-down tree print) the INNERMOST join — the id join that
      // bounds its input. The outer rerank join prints first, so
      // compare against the LAST join occurrence; ADC over the
      // unjoined full codes scan would score every row.
      val adcAt = plan.indexOf("graft_pq_adc_cosine")
      val lastJoin = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(plan.lastIndexOf).filter(_ >= 0)
      assert(adcAt >= 0, plan.take(2000))
      assert(lastJoin.nonEmpty && adcAt < lastJoin.max,
        s"ADC at $adcAt must sit above the innermost bounding join (joins at $lastJoin)")
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    } finally {
      graft.operators.Similarity.ivfRelease(ivf)
      graft.operators.Similarity.pqRelease(pq)
    }
  }

  test("ivfSq8TopK: SQ8 scoring sits above the probed-list id join, never the full codes scan") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(19)
    val emb = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(f => math.sin((i % 4) * 0.9 + f * 0.4) +
        rng.nextGaussian() * 0.1))
    }.toDF("id", "vec")
    val ivf = graft.operators.Similarity.ivfBuild(emb, nLists = 4)
    val sq8 = graft.operators.Similarity.sq8Encode(emb)
    try {
      val q = Array.tabulate(16)(f => math.sin(0.9 + f * 0.4))
      val out = graft.operators.Similarity.ivfSq8TopK(
        ivf, sq8, emb, q, k = 5, nprobe = 2, rerank = 20)
      val plan = out.queryExecution.executedPlan.toString
      // WHICH rows: the cluster membership filter must exist below the
      // codes join — the scan-fraction half of the composition
      assert(plan.contains("cluster#") &&
        (plan.contains(" INSET ") || plan.contains(" IN (")),
        plan.take(2000))
      // WHAT is read: the dequantized-cosine expression must sit ABOVE
      // the innermost bounding join (same reading as the ivfPqTopK
      // spec: the outer rerank join prints first, so compare against
      // the LAST join occurrence)
      val sqAt = plan.indexOf("graft_sq8_cosine")
      val lastJoin = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(plan.lastIndexOf).filter(_ >= 0)
      assert(sqAt >= 0, plan.take(2000))
      assert(lastJoin.nonEmpty && sqAt < lastJoin.max,
        s"SQ8 scoring at $sqAt must sit above the innermost bounding join (joins at $lastJoin)")
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    } finally {
      graft.operators.Similarity.ivfRelease(ivf)
      graft.operators.Similarity.sq8Release(sq8)
    }
  }

  test("ivfPqrTopK: residual ADC sum sits above the probed-list id join, never the full codes scan") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    val emb = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(f => math.sin((i % 4) * 0.9 + f * 0.4) +
        rng.nextGaussian() * 0.1))
    }.toDF("id", "vec")
    val ivf = graft.operators.Similarity.ivfBuild(emb, nLists = 4)
    val pqr = graft.operators.Similarity.pqResidualBuild(ivf, m = 4, ksub = 16)
    try {
      val q = Array.tabulate(16)(f => math.sin(0.9 + f * 0.4))
      val out = graft.operators.Similarity.ivfPqrTopK(
        ivf, pqr, emb, q, k = 5, nprobe = 2, rerank = 20)
      val plan = out.queryExecution.executedPlan.toString
      // WHICH rows: the cluster membership filter must exist below the
      // codes join — same scan-fraction contract as the raw composition
      assert(plan.contains("cluster#") &&
        (plan.contains(" INSET ") || plan.contains(" IN (")),
        plan.take(2000))
      // WHAT is read: the residual table-sum must sit ABOVE the
      // innermost bounding join (outer rerank join prints first, so
      // compare against the LAST join occurrence), not over the full
      // codes scan
      val adcAt = plan.indexOf("graft_pq_adc_sum")
      val lastJoin = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(plan.lastIndexOf).filter(_ >= 0)
      assert(adcAt >= 0, plan.take(2000))
      assert(lastJoin.nonEmpty && adcAt < lastJoin.max,
        s"residual ADC at $adcAt must sit above the innermost bounding join (joins at $lastJoin)")
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    } finally {
      graft.operators.Similarity.ivfRelease(ivf)
      graft.operators.Similarity.pqResidualRelease(pqr)
    }
  }

  test("every IVF codec face: list filter/join below the approx score, no cartesian; batch cut before any id shuffle") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
    import graft.operators.Similarity
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    val emb = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(f => math.sin((i % 4) * 0.9 + f * 0.4) +
        rng.nextGaussian() * 0.1))
    }.toDF("id", "vec")
    val ivf = Similarity.ivfBuild(emb, nLists = 4)
    val sq8 = Similarity.sq8Encode(emb)
    val bin = Similarity.binaryEncode(emb)
    val pq = Similarity.pqBuild(emb, m = 4, ksub = 16)
    val pqr = Similarity.pqResidualBuild(ivf, m = 4, ksub = 16)
    val res = Similarity.binaryResidualEncode(ivf)
    val two = Similarity.ivfBuildTwoLevel(emb, nLists = 4)
    val meta = emb.select(F.col("id"), (F.col("id") % 2).as("lab"))
    val pred = F.col("lab") === 0L
    try {
      val q = Array.tabulate(16)(f => math.sin(0.9 + f * 0.4))
      val qs = emb.where(F.col("id") < 3)
        .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
      // (face, output frame, the approx kernel's printed name)
      val singles = Seq(
        ("ivfSq8TopK", Similarity.ivfSq8TopK(ivf, sq8, emb, q, 5, 2, 20),
          "graft_sq8_cosine"),
        ("ivfPqTopK", Similarity.ivfPqTopK(ivf, pq, emb, q, 5, 2, 20),
          "graft_pq_adc_cosine"),
        ("ivfPqrTopK", Similarity.ivfPqrTopK(ivf, pqr, emb, q, 5, 2, 20),
          "graft_pq_adc_sum"),
        ("ivfBinaryTopK", Similarity.ivfBinaryTopK(ivf, bin, emb, q, 5, 2, 20),
          "bit_count"),
        ("ivfBinaryResidualTopK",
          Similarity.ivfBinaryResidualTopK(ivf, res, emb, q, 5, 2, 20),
          "bit_count"),
        // the raw faces score the exact vectors inside the probed scan
        ("ivfTopK", Similarity.ivfTopK(ivf, q, 5, 2), "graft_cosine"),
        ("ivfTopKWhere", Similarity.ivfTopKWhere(ivf, meta, pred, q, 5, 2),
          "graft_cosine"),
        ("ivfTopKHier", Similarity.ivfTopKHier(two, q, 5, 2), "graft_cosine"))
      val batches = Seq(
        ("ivfSq8TopKBatch", Similarity.ivfSq8TopKBatch(ivf, sq8, emb, qs, 5, 2, 20),
          "graft_sq8_cosine"),
        ("ivfPqTopKBatch", Similarity.ivfPqTopKBatch(ivf, pq, emb, qs, 5, 2, 20),
          "graft_pq_adc_cosine"),
        ("ivfPqrTopKBatch", Similarity.ivfPqrTopKBatch(ivf, pqr, emb, qs, 5, 2, 20),
          "graft_pq_adc_sum"),
        ("ivfBinaryResidualTopKBatch",
          Similarity.ivfBinaryResidualTopKBatch(ivf, res, emb, qs, 5, 2, 20),
          "bit_count"))
      val rawBatches = Seq(
        ("ivfTopKBatch", Similarity.ivfTopKBatch(ivf, qs, 5, 2), "graft_cosine"),
        ("ivfTopKBatchWhere", Similarity.ivfTopKBatchWhere(ivf, meta, pred, qs, 5, 2),
          "graft_cosine"),
        ("ivfTopKBatchHier", Similarity.ivfTopKBatchHier(two, qs, 5, 2), "graft_cosine"),
        ("ivfTopKBatchHierSharded", Similarity.ivfTopKBatchHierSharded(two, qs, 5, 2),
          "graft_cosine"))
      def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      def onCluster(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        e.references.exists(_.name == "cluster")
      def listBound(p: SparkPlan): Boolean = p match {
        case j: BaseJoinExec => (j.leftKeys ++ j.rightKeys).exists(onCluster)
        case f: FilterExec => f.condition.exists {
          case i: In => onCluster(i.value)
          case i: InSet => onCluster(i.child)
          case _ => false
        }
        case _ => false
      }
      // the nodes scoring the DATA side: the approx kernel over the codes,
      // or the exact kernel over the lists' `vec` (not the sharded face's
      // probe-side sub-center scoring)
      def scorersOf(plan: SparkPlan, kernel: String) = plan.collect {
        case n if n.expressions.exists(_.exists(x => x.prettyName == kernel &&
          (kernel != "graft_cosine" || x.references.exists(_.name == "vec")))) => n
      }
      for ((name, df, kernel) <- singles ++ batches ++ rawBatches) {
        val plan = physical(df)
        val scorers = scorersOf(plan, kernel)
        assert(scorers.nonEmpty, s"$name: no $kernel in\n$plan")
        // WHICH rows: the probed-list bound sits under every node that
        // evaluates the approx kernel — never a full codes scan
        assert(scorers.forall(_.exists(listBound)),
          s"$name: approx scored above no cluster filter/join\n$plan")
        assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
          s"$name: cartesian product\n$plan")
      }
      // no rerank join on a raw batch face: ONE projection computes the
      // score (the scan's join may re-evaluate it as a not-null filter)
      for ((name, df, kernel) <- rawBatches) {
        val plan = physical(df)
        val scoring = scorersOf(plan, kernel).collect { case p: ProjectExec => p }
        assert(scoring.size == 1, s"$name: scored by ${scoring.size} projections\n$plan")
      }
      for ((name, df, _) <- batches ++ rawBatches) {
        val plan = physical(df)
        // the candidate cut is the innermost group limit; nothing under
        // it may shuffle (qid, id) candidate rows by id
        val cuts = plan.collect {
          case w if w.nodeName == "WindowGroupLimit" &&
            !w.children.exists(_.exists(_.nodeName == "WindowGroupLimit")) => w
        }
        assert(cuts.nonEmpty, s"$name: no WindowGroupLimit\n$plan")
        val idShuffles = cuts.flatMap(_.collect {
          case e: ShuffleExchangeExec if (e.outputPartitioning match {
            case h: HashPartitioning =>
              h.expressions.exists(_.references.exists(_.name == "id")) &&
                e.child.output.exists(_.name == "qid")
            case _ => false
          }) => e
        })
        assert(idShuffles.isEmpty,
          s"$name: candidates shuffled by id before the cut\n$plan")
      }
    } finally {
      Similarity.ivfRelease(ivf)
      Similarity.sq8Release(sq8)
      Similarity.binaryRelease(bin)
      Similarity.pqRelease(pq)
      Similarity.pqResidualRelease(pqr)
      Similarity.binaryResidualRelease(res)
      Similarity.ivfRelease(two)
    }
  }

  test("zorderFrame: one range exchange on the Morton key, sort stays partition-local") {
    val s = spark
    import s.implicits._
    val df = (0 until 256).map(i => (i.toDouble, ((i * 37) % 256).toDouble))
      .toDF("x", "y")
    val frame = graft.operators.Layout.zorderFrame(df, "x", "y", bits = 8, nFiles = 4)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(__zv"), plan.take(1500))
    // the within-partition sort must NOT be global — a global sort here
    // would add a second exchange for nothing
    val sortLine = plan.split("\n").find(_.contains("Sort [__zv"))
    assert(sortLine.exists(_.contains("false")),
      s"expected partition-local sort: $sortLine")
    // exactly one exchange: quantization domains are literals from the
    // pre-pass, so nothing else in the frame shuffles
    assert(plan.split("Exchange").length - 1 == 1, plan.take(1500))
  }

  test("heavyTokens: exact count aggregates ONLY the semi-joined candidates") {
    val s = spark
    import s.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"tok$i the a b c"))
      .toDF("doc_id", "text")
    val plan = graft.operators.TextOps.heavyTokens(docs, phi = 0.01)
      .queryExecution.executedPlan.toString
    // the candidate filter must be a broadcast semi join sitting below
    // the count aggregate — the whole scale claim of the operator
    assert(plan.contains("LeftSemi"), plan.take(1500))
    val semiAt = plan.indexOf("LeftSemi")
    val aggAt = plan.indexOf("HashAggregate")
    assert(aggAt >= 0 && aggAt < semiAt,
      "semi join should be under the aggregate (printed after it)")
  }

  test("gate probe broadcast: the against-state band join never shuffles the stored state") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val base = (0L until 40L).map(i =>
      (i, s"alpha bravo charlie delta echo$i foxtrot golf hotel india"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_gate").toString
    val built = Dedup.minhashIndexBuild(base)
    Dedup.minhashIndexSave(built, dir)
    Dedup.minhashIndexRelease(built)
    val state = Dedup.minhashIndexLoadWithAppends(s, dir)
    val probe = (1000L until 1010L).map(i =>
      (i, s"kilo lima mike november oscar$i papa quebec")).toDF("doc_id", "text")
    val hinted = Dedup.minhashNearDupAgainstIndex(
      probe, state, broadcastProbe = true)
    // minhashNearDupAgainstIndex materializes eagerly; re-derive the
    // candidate join plan shape from the same inputs with the hint to
    // assert the strategy (the operator's own frame is checkpointed,
    // its lineage truncated)
    assert(hinted.columns.toSeq.take(2) == Seq("doc_id", "ref_id"))
    val a = org.apache.spark.sql.functions.broadcast(
      Dedup.bandKeys(
        Dedup.minhashSignatures(probe, state.shingleLen, state.numHashes),
        state.numHashes, state.bands)
        .select("band", "bh", "doc_id"))
    val b = state.bandRows.select(
      F.col("band"), F.col("bh"), F.col("doc_id").as("ref_id"))
    val plan = a.join(b, Seq("band", "bh"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "against-state join must not shuffle the stored band state:\n" +
        plan.take(1200))
  }

  test("embed gate state scan prunes STATICALLY to the probed clusters on both layout roots") {
    // VERDICT r13 #2: the per-batch against-state read must carry an
    // explicit partition filter (never a dynamic-partition-pruning
    // bet), so a focused batch reads ~nprobe/k of the stored list
    // bytes — in the broadcast path AND the over-budget fallback
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    def vec(i: Int) = Array.tabulate(8)(f =>
      math.sin((i % 6) * 0.9 + f * 0.7) + (if (f == i % 8) 1.5 else 0.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-prune").toString
    val built = Similarity.ivfBuild(
      (0L until 60L).map(i => (i, vec(i.toInt))).toDF("id", "vec"), nLists = 6)
    Similarity.ivfSave(built, dir)
    Similarity.ivfRelease(built)
    // one committed append segment so BOTH roots sit under the union
    val model = graft.scale.DeterministicKMeans.Model(
      Similarity.ivfLoad(s, dir).centroids.sortBy(_._1).map(_._2))
    graft.streaming.StreamingOps.ivfAppendSegment(
      graft.scale.DeterministicKMeans.assign(
        (100L until 110L).map(i => (i, vec(i.toInt))).toDF("id", "vec"),
        model, idCol = "id", vecCol = "vec").select("id", "vec", "cluster"),
      dir, 0L)
    val probed = Seq(1, 3)
    val df = graft.streaming.StreamingOps
      .embedGateStateScan(s, dir, 1L, Some(probed))
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(_.contains("PartitionFilters"))
    assert(scans.length >= 2,
      "expected partition filters on lists AND applists scans:\n" + plan.take(2000))
    assert(scans.forall(l => l.contains("cluster") && l.contains(" IN (1,3")),
      "partition filter must pin the probed clusters:\n" + scans.mkString("\n"))
    val got = df.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(got.nonEmpty && got.subsetOf(probed.toSet),
      s"scan leaked unprobed clusters: $got")
    // an empty probe set reads nothing (and plans no scan work)
    assert(graft.streaming.StreamingOps
      .embedGateStateScan(s, dir, 1L, Some(Nil)).count() == 0L)
    // None = the caller's every-list regime — the unpruned union
    assert(graft.streaming.StreamingOps
      .embedGateStateScan(s, dir, 1L, None).count() == 70L)
  }
}
