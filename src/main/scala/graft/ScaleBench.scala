package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** Synthetic scale-up bench (round-7, VERDICT r6 stretch item): every
  * scale claim so far was extrapolated from sf0.1 (5k docs / 2k
  * vectors), so this main generates a deterministic corpus 40–50×
  * that — 200k documents, 100k × 64 embeddings — ENTIRELY with Spark
  * expressions (no driver loops, no RNG: content is a pure function of
  * (id, position) via xxhash64, so runs are byte-identical) and times
  * the headline dedup / ANN / packing operators at it. Results go to
  * `SCALE_BENCH_r08.json` (override: SPARK_GRAFT_SCALE_OUT), one row
  * per operator plus the corpus shape, so the measured scaling of the
  * banded joins, IVF probe pruning, SQ8 scan, and prefix-sum packers
  * is a committed artifact instead of an asymptotic argument.
  *
  * Scale knob: SPARK_GRAFT_SCALE (default 40 = 200k docs; 1 ≈ sf0.1).
  */
object ScaleBench {

  /** Committed-artifact governance for scheduler-sensitive rows
    * (VERDICT r10 #3): `--merge a.json b.json out.json` folds two
    * same-code runs' artifacts keeping the per-row MIN wall (with that
    * run's rows/cpu), and records BOTH samples under `"samples"` so
    * the discarded one stays auditable. Rationale: this host's
    * contention mode inflates cpu WITH wall (the in-run retry cannot
    * catch it — only min-over-runs can), and r10 committed a 296 s PPR
    * sample the same code runs in 66 s. SCALE.md's methodology note
    * already names min-over-≥2-runs as the rule for PPR/k-core/
    * streaming rows; this makes the committed JSON follow it
    * mechanically. Byte metrics follow the run that won their
    * longest-prefix row (e.g. g_kcore_rounds follows g_kcore).
    */
  private[graft] def mergeArtifacts(a: String, b: String): String = {
    val rowRe = """"([a-z0-9_]+)":\{"sec":([0-9.]+),"rows":(\d+)\}""".r
    val numRe = """"([a-z0-9_]+)":(-?[0-9.]+)""".r
    def rowsOf(j: String): Seq[(String, Double, Long)] = {
      val qpart = j.substring(j.indexOf("\"queries\":{"))
      rowRe.findAllMatchIn(qpart)
        .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toLong)).toSeq
    }
    def mapOf(j: String, field: String): Seq[(String, String)] = {
      val i = j.indexOf(s""""$field":{""")
      if (i < 0) Seq.empty
      else {
        val start = i + field.length + 4
        val end = j.indexOf("}", start)
        numRe.findAllMatchIn(j.substring(start, end))
          .map(m => (m.group(1), m.group(2))).toSeq
      }
    }
    def header(j: String, key: String): String =
      s""""$key":(-?[0-9.]+)""".r.findFirstMatchIn(j).map(_.group(1))
        .getOrElse("0")
    val (ra, rb) = (rowsOf(a), rowsOf(b))
    val bMap = rb.map(r => r._1 -> r).toMap
    val aMap = ra.map(r => r._1 -> r).toMap
    val names = (ra.map(_._1) ++ rb.map(_._1).filterNot(aMap.contains))
    // winner per row: min wall; remember which run it came from
    val winner = names.map { n =>
      (aMap.get(n), bMap.get(n)) match {
        case (Some(x), Some(y)) => if (y._2 < x._2) (n, y, 'b') else (n, x, 'a')
        case (Some(x), None) => (n, x, 'a')
        case (None, Some(y)) => (n, y, 'b')
        case _ => sys.error(s"row $n in neither artifact")
      }
    }
    val cpuA = mapOf(a, "cpu_sec").toMap; val cpuB = mapOf(b, "cpu_sec").toMap
    val bytesA = mapOf(a, "bytes").toMap; val bytesB = mapOf(b, "bytes").toMap
    val winOf = winner.map { case (n, _, w) => n -> w }.toMap
    // a bytes key follows the run that won its longest-prefix row
    def bytesFor(k: String): Option[String] = {
      val owner = winOf.keys.filter(k.startsWith).toSeq.sortBy(-_.length)
        .headOption
      owner.flatMap(o => if (winOf(o) == 'b') bytesB.get(k).orElse(bytesA.get(k))
        else bytesA.get(k).orElse(bytesB.get(k)))
        .orElse(bytesA.get(k)).orElse(bytesB.get(k))
    }
    val bytesKeys = (bytesA.keys ++ bytesB.keys).toSeq.distinct
    def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    s"""{"metric":"scale_total","value":${fmt(winner.map(_._2._2).sum)},""" +
      s""""unit":"sec","scale":${header(a, "scale")},""" +
      s""""n_docs":${header(a, "n_docs")},"n_vecs":${header(a, "n_vecs")},""" +
      s""""dims":${header(a, "dims")},"merged_runs":2,"queries":{""" +
      winner.map { case (n, (_, s, r), _) =>
        s""""$n":{"sec":${fmt(s)},"rows":$r}""" }.mkString(",") +
      s"""},"cpu_sec":{""" +
      winner.flatMap { case (n, _, w) =>
        (if (w == 'b') cpuB.get(n).orElse(cpuA.get(n))
         else cpuA.get(n).orElse(cpuB.get(n))).map(c => s""""$n":$c""")
      }.mkString(",") +
      s"""},"samples":{""" +
      winner.flatMap { case (n, _, _) =>
        (aMap.get(n), bMap.get(n)) match {
          case (Some(x), Some(y)) =>
            Some(s""""$n":[${fmt(x._2)},${fmt(y._2)}]""")
          case _ => None
        }
      }.mkString(",") +
      s"""},"bytes":{""" +
      bytesKeys.flatMap(k => bytesFor(k).map(v => s""""$k":$v""")).mkString(",") +
      "}}\n"
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 4 && args(0) == "--merge") {
      val merged = mergeArtifacts(
        java.nio.file.Files.readString(java.nio.file.Paths.get(args(1))),
        java.nio.file.Files.readString(java.nio.file.Paths.get(args(2))))
      Bench.writeBoardGuarded(args(3), merged, strict = true)
      println(merged)
      return
    }
    if (sys.env.get("SPARK_GRAFT_DEBUG").exists(_ == "1"))
      graft.core.Debug.setDebug(true)
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "40").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Dedup, Similarity, TrainPrep, TextOps}

    val nDocs = 5000L * scale
    // cap raised 50 → 100 (VERDICT r8 #4): the 80× point previously
    // meant only 100k vecs (1.25× over 40×), making every v_* "curve"
    // nearly flat by construction; now 80× is a true 2× vector point
    // (160k) and the ANN/batch/bitext ratios are informative. Raised
    // again 100 → 160 for the r9 third vector point (160× = 320k
    // vecs): with corpus-proportional lists the claim is per-query
    // cost stays flat PER DOUBLING — two doublings test the law, one
    // tests the fix
    val nVecs = 2000L * scale.min(160)
    val dims = 64

    // ---- synthetic documents: ~45 tokens from a 6k vocab with a
    // cubed-uniform skew (zipf-ish head), 3% appended exact dups, 3%
    // near-dups (one token appended) — enough dup mass that the banded
    // join and verify stages do real work
    def word(h: Column): Column =
      F.concat(F.lit("w"), F.pow(F.pmod(h, F.lit(1000)).cast("double") / 1000.0, 3.0)
        .*(6000).cast("int").cast("string"))
    def textFor(id: Column): Column =
      F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.pmod(F.xxhash64(id, F.lit("len")), F.lit(31)).cast("int") + 30),
        j => word(F.xxhash64(id, j))))
    val base = spark.range(nDocs).select(
      F.col("id").as("doc_id"),
      textFor(F.col("id")).as("text"),
      F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(10))).as("source"))
    val exactDups = spark.range(nDocs / 33).select(
      (F.col("id") * 33 + nDocs).as("doc_id"),
      textFor(F.col("id") * 33).as("text"),
      F.lit("srcdup").as("source"))
    val nearDups = spark.range(nDocs / 33).select(
      (F.col("id") * 33 + 1 + nDocs + nDocs / 33 * 33).as("doc_id"),
      F.concat(textFor(F.col("id") * 33 + 1), F.lit(" extratoken")).as("text"),
      F.lit("srcnear").as("source"))
    val docs = base.unionByName(exactDups).unionByName(nearDups)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- synthetic embeddings: 32 well-separated modes + per-(id,dim)
    // hash noise, L2-normalized (the IVF/SQ8 contract), label = mode
    val vecCol = graft.functions.VectorFunctions.l2normalize(
      F.transform(F.sequence(F.lit(0), F.lit(dims - 1)), f =>
        F.sin(F.pmod(F.col("id"), F.lit(32)).cast("double") * 0.7 +
          f.cast("double") * 0.37) +
          (F.pmod(F.xxhash64(F.col("id"), f), F.lit(1000)).cast("double") / 1000.0
            - 0.5) * 0.3))
    val emb = spark.range(nVecs).select(
      F.col("id"),
      vecCol.as("vec"),
      F.pmod(F.col("id"), F.lit(32)).cast("string").as("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = spark.range(1000).select(
      (F.col("id") * (nVecs / 1000)).as("qid"))
      .join(emb.withColumnRenamed("id", "qid"), "qid")
      .select(F.col("qid"), F.col("vec").as("qvec"),
        F.col("label").as("qlabel"))

    println(s"[scale] docs=${docs.count()} vecs=${emb.count()} dims=$dims")

    val rows = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    // byte metrics live in their OWN map and JSON field: r7 stuffed
    // them into the seconds column and the headline total summed
    // 47,489,724 "seconds" of parquet bytes (VERDICT r7 #1)
    val bytesRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // same pre-row hygiene as Bench (r8): the dedup/bitext/kcore rows
    // localCheckpoint their results, and dead checkpoint blocks
    // otherwise accumulate across the run until a driver GC — the
    // in-run inflation VERDICT r7 #2 measured at 12× in Bench would
    // silently inflate the later rows of THIS artifact too. Nothing
    // long-lived here is checkpoint-backed (the corpus frames and
    // index caches are persists, released via their own release
    // calls), so the sweep is unconditional; GC every 8 rows bounds
    // non-RDD garbage (dead broadcasts, codegen classes). All outside
    // the timed body.
    val sc = spark.sparkContext
    var sinceGc = 0
    // owned-checkpoint exemption (ADVICE r8): the sweep used to
    // unpersist EVERY checkpointed RDD, resting on the comment-level
    // invariant that no long-lived index here is checkpoint-backed.
    // Mirror Bench's buildOwned instead: a cross-row index built via a
    // localCheckpoint path registers itself through adoptCheckpoints()
    // (sweep first, so dead blocks from earlier rows are never
    // adopted) and the per-row sweep skips it.
    var ownedCk = Set.empty[Int]
    def sweepCheckpoints(): Unit =
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!ownedCk.contains(id) && rdd.isCheckpointed)
          rdd.unpersist(blocking = false)
      }
    def adoptCheckpoints(): Unit = {
      sweepCheckpoints()
      ownedCk = sc.getPersistentRDDs
        .filter { case (_, rdd) => rdd.isCheckpointed }.keySet.toSet
    }
    // optional comma-separated row subset for local iteration (the
    // driver never sets it): un-selected rows are skipped, index
    // builds outside bench() still run — a selected row never pays a
    // missing dependency
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // stall defense, same shape as Bench r10 (VERDICT r9 #1): the
    // sandbox host pauses a warm JVM for 30-90 s at a time, and one
    // wall sample per row can't tell a regression from a pause.
    // Process-CPU seconds ride next to the wall; a heavy row whose
    // cpu/wall ratio collapsed re-runs ONCE keeping the min, with the
    // discarded wall recorded in its own map. Streaming rows idle
    // legitimately (trigger waits), so their retry threshold is only
    // tripped by a near-total stall.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def procCpuSec(): Double = osBean.getProcessCpuTime / 1e9
    val cpuRows = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val retriedRows = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def bench(name: String)(body: => Long): Unit = {
      if (!only.forall(_.contains(name))) return
      def sample(): (Double, Double, Long) = {
        graft.operators.TrainPrep.releasePinnedCaches()
        sweepCheckpoints()
        sinceGc += 1
        if (sinceGc >= 8) { System.gc(); sinceGc = 0 }
        val c0 = procCpuSec()
        val t0 = System.nanoTime()
        val n = body
        ((System.nanoTime() - t0) / 1e9, procCpuSec() - c0, n)
      }
      val (w1, c1, n1) = sample()
      // s_* rows are NOT retried: their bodies own streaming
      // checkpoints/sink dirs (a second run against the same
      // checkpoint is a different contract), and their trigger waits
      // make the cpu ratio an unreliable stall signal anyway
      val (sec, cpu, n) =
        if (!name.startsWith("s_") && w1 >= 5.0 && c1 < 0.45 * w1) {
          val (w2, c2, n2) = sample()
          retriedRows(name) = math.max(w1, w2)
          if (w2 < w1) (w2, c2, n2) else (w1, c1, n1)
        } else (w1, c1, n1)
      rows(name) = (sec, n)
      cpuRows(name) = cpu
      println(f"[scale] $name%-28s ${sec}%8.2f s  rows=$n")
    }

    bench("d_exact_groups") {
      Dedup.exactGroups(docs).where(F.col("n_docs") > 1).count()
    }
    bench("d_minhash_neardup") {
      Dedup.minhashNearDupPairs(docs, estFloor = 0.6)
        .where(F.col("jaccard") >= 0.8).count()
    }
    bench("d_simhash_neardup") {
      // the SHIPPED default — density-aware since r10: the pre-join
      // mass probe picks d=6 while linear, d=3 once dense. On this
      // synthetic corpus (planted dup mass) the probe falls over to
      // d=3, so this row should track d_simhash_neardup_d3 below plus
      // one probe aggregation — compare the two directly; rounds
      // before r10 measured the fixed d=6 radius here (45-143 s)
      Dedup.simhashNearDupPairs(docs).count()
    }
    bench("d_simhash_neardup_d3") {
      // the published production operating point (Manku et al. run
      // d = 3 at 8B docs) — the row that shows the default-radius
      // superlinearity is an operating-point choice, not a candidate
      // blow-up: at d=3 both buckets and output stay near-linear
      Dedup.simhashNearDupPairs(docs, maxDist = 3).count()
    }
    bench("d_decontaminate") {
      val eval = docs.where(F.col("doc_id") % 50 === 0)
      val corpus = docs.where(F.col("doc_id") % 50 =!= 0)
      Dedup.decontaminate(corpus, eval, n = 8).count()
    }
    bench("t_pack_shards") {
      val n = TrainPrep.packTokenShards(docs, budget = 1 << 20).count()
      TrainPrep.releasePinnedCaches(); n
    }
    bench("t_pack_greedy") {
      val n = TrainPrep.packTokenShardsGreedy(docs, budget = 1 << 20).count()
      TrainPrep.releasePinnedCaches(); n
    }
    bench("d_source_quota") {
      val n = TrainPrep.stratumWeightQuota(
        docs, F.col("doc_id"), F.col("source"),
        F.size(TextOps.tokens(F.col("text"))),
        budgets = Map.empty, defaultBudget = 200000L).count()
      TrainPrep.releasePinnedCaches(); n
    }
    // corpus-proportional list counts (suggestLists): constant target
    // list size keeps per-query probed-scan cost flat across scale
    // points — fixed 64 lists made the bitext rows ~3.6x at 2x
    // vectors (2x list length x 2x queries). Targets chosen so the
    // 40x point reproduces the historical 64-list rows exactly:
    // full corpus 1250/list (80k -> 64), bitext halves 625/list
    // (40k -> 64); both double lists when the corpus doubles.
    val lists = Similarity.suggestLists(nVecs)
    val halfLists = Similarity.suggestLists(nVecs / 2, targetListSize = 625)
    println(s"[scale] lists=$lists halfLists=$halfLists")
    if (only.forall(s => s.contains("v_ivf_build") ||
        s.contains("v_ivf_topk_batch"))) {
      val ivf = {
        val t0 = System.nanoTime()
        val index = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
        index.assigned.count() // materialize the lists into the build row
        rows("v_ivf_build") = ((System.nanoTime() - t0) / 1e9, nVecs)
        println(f"[scale] v_ivf_build              ${rows("v_ivf_build")._1}%8.2f s  rows=$nVecs")
        index
      }
      bench("v_ivf_topk_batch") {
        Similarity.ivfTopKBatch(ivf, queries, k = 10, nprobe = 8).count()
      }
      Similarity.ivfRelease(ivf)
    }
    // ---- two-level quantizer at HIGH resolution: ~40 rows/list
    // (2000 lists at 80k vecs, doubling with the corpus) — a
    // resolution where the flat build is already a wall (sampled fit
    // 256·k²·F·iters, assignment N·k·F) while the hierarchical build
    // stays linear. The batch row probes 250 lists ≈ 10k rows/query —
    // the same candidate budget as the 8-probe/1250-row rows above,
    // so its times are directly comparable across resolutions.
    if (only.forall(s => s.contains("v_ivf_2level_build") ||
        s.contains("v_ivf_2level_topk_batch") ||
        s.contains("v_ivf_2level_hier_topk_batch") ||
        s.contains("v_ivf_2level_sharded_topk_batch"))) {
      val hiLists = Similarity.suggestLists(nVecs, targetListSize = 40)
      val t0 = System.nanoTime()
      val tl = Similarity.ivfBuildTwoLevel(
        emb.select("id", "vec"), nLists = hiLists)
      tl.assigned.count()
      rows("v_ivf_2level_build") = ((System.nanoTime() - t0) / 1e9, nVecs)
      println(f"[scale] v_ivf_2level_build       ${rows("v_ivf_2level_build")._1}%8.2f s  rows=$nVecs  lists=${tl.k}")
      adoptCheckpoints()
      bench("v_ivf_2level_topk_batch") {
        Similarity.ivfTopKBatch(tl, queries, k = 10, nprobe = 250).count()
      }
      // same probed budget, HIERARCHICAL probe selection: per-query
      // list choice costs (√k + p·k/√k)·F instead of k·F — the term
      // that grows with corpus-proportional list counts. The delta vs
      // the row above isolates probe-selection cost at this k.
      bench("v_ivf_2level_hier_topk_batch") {
        Similarity.ivfTopKBatchHier(
          tl, queries, k = 10, nprobe = 250,
          coarseCells = 16).count()
      }
      // same budget, probe selection as a JOIN against the persisted
      // sub-center table (no k·F broadcast) — the form that survives
      // 1M lists. The untimed write mirrors build-time persistence.
      locally {
        val dir = java.nio.file.Files
          .createTempDirectory("subcscale").toString
        Similarity.ivfSubCenters(tl).write.mode("overwrite")
          .partitionBy("cell").parquet(dir)
        val subs = spark.read.parquet(dir).select("cell", "list", "cvec")
        bench("v_ivf_2level_sharded_topk_batch") {
          Similarity.ivfTopKBatchHierSharded(
            tl, queries, k = 10, nprobe = 250,
            coarseCells = 16, Some(subs)).count()
        }
      }
      Similarity.ivfRelease(tl)
    }
    val sq8 = {
      val t0 = System.nanoTime()
      val index = Similarity.sq8Encode(emb)
      index.codes.count()
      rows("v_sq8_encode") = ((System.nanoTime() - t0) / 1e9, nVecs)
      println(f"[scale] v_sq8_encode             ${rows("v_sq8_encode")._1}%8.2f s  rows=$nVecs")
      index
    }
    bench("v_sq8_topk") {
      val q = emb.where(F.col("id") === 11).select("vec")
        .head.getSeq[Double](0).toArray
      Similarity.sq8TopK(sq8, emb, q, k = 20, rerank = 200).count()
    }
    bench("v_sq8_topk_batch") {
      Similarity.sq8TopKBatch(
        sq8, emb, queries.select("qid", "qvec"), k = 10, rerank = 100).count()
    }
    // the pruned sibling (VERDICT r8 #5): same 1000-query batch, but
    // the codes scan is bounded by the probed lists — compare directly
    // against the all-codes v_sq8_topk_batch row above
    locally {
      val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
      iv.assigned.count()
      adoptCheckpoints()
      bench("v_ivf_sq8_topk_batch") {
        Similarity.ivfSq8TopKBatch(
          iv, sq8, emb, queries.select("qid", "qvec"),
          k = 10, nprobe = 8, rerank = 100).count()
      }
      Similarity.ivfRelease(iv)
    }
    // the 1-bit codec: 64 dims pack into ONE long per row, so the
    // candidate scan reads 8 B/row (vs 64 B sq8, 512 B float64) and
    // scores by xor+popcount — the cheapest first-stage filter
    locally {
      val t0 = System.nanoTime()
      val bin = Similarity.binaryEncode(emb.select("id", "vec"))
      bin.codes.count()
      rows("v_binary_encode") = ((System.nanoTime() - t0) / 1e9, nVecs)
      println(f"[scale] v_binary_encode          ${rows("v_binary_encode")._1}%8.2f s  rows=$nVecs")
      bench("v_binary_topk_batch") {
        Similarity.binaryTopKBatch(
          bin, emb, queries.select("qid", "qvec"), k = 10, rerank = 100)
          .count()
      }
      Similarity.binaryRelease(bin)
    }
    // on-disk density: the codes column vs the float64 vectors it
    // indexes, measured (parquet framing/compression included) — the
    // artifact form of the "8x smaller" claim
    locally {
      val dir = java.nio.file.Files.createTempDirectory("sq8scale").toString
      Similarity.sq8Save(sq8, dir)
      emb.select("id", "vec").write.mode("overwrite").parquet(s"$dir/vecraw")
      def bytes(p: String): Long = new java.io.File(p)
        .listFiles.filter(_.isFile).map(_.length).sum
      val cb = bytes(s"$dir/codes"); val vb = bytes(s"$dir/vecraw")
      bytesRows("sq8_codes_bytes") = cb
      bytesRows("sq8_vectors_bytes") = vb
      println(f"[scale] sq8 on-disk: codes=$cb%d B vs vectors=$vb%d B (${vb.toDouble / cb}%.1fx)")
    }
    Similarity.sq8Release(sq8)
    bench("v_hard_negatives_approx") {
      // the UN-TUNED one-shot shape: auto-sized lists (625/row
      // target), size-routed build (two-level past 128 lists),
      // sizing-matched probes (suggestNprobe, r12 — constant probe
      // FRACTION, so recall holds flat where the old constant
      // nprobe = 8 decayed per doubling) — this row measures the
      // shipped default, cliff-free by construction
      Similarity.hardNegativesApprox(emb, queries, k = 10).count()
    }
    // the amortized mining shape: quantizer fit paid once (the
    // v_ivf_build row), every batch pays only probe + score;
    // nprobe = 0 is the same sizing-matched default
    val ivf2 = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
    ivf2.assigned.count()
    bench("v_hard_negatives_idx") {
      Similarity.hardNegativesApprox(
        ivf2, emb.select("id", "label"), queries, k = 10, nprobe = 0).count()
    }
    Similarity.ivfRelease(ivf2)
    bench("d_dup_clusters") {
      // transitive closure over the banded near-dup pairs (GraphX CC)
      Dedup.dupClusters(
        Dedup.minhashNearDupPairs(docs, estFloor = 0.6)
          .where(F.col("jaccard") >= 0.8)).count()
    }
    bench("d_curate_corpus") {
      // the one-call recipe: quality -> exact-dedup -> decontamination
      val eval = docs.where(F.col("doc_id") % 50 === 0)
      val corpus = docs.where(F.col("doc_id") % 50 =!= 0)
      Dedup.curateCorpus(
        corpus, eval,
        F.size(TextOps.tokens(F.col("text"))) >= 20, n = 8).count()
    }
    bench("d_contamination_report") {
      Dedup.contaminationReport(
        docs.where(F.col("doc_id") % 50 =!= 0),
        docs.where(F.col("doc_id") % 50 === 0), n = 8).count()
    }
    // tokenizer block: merge training is ONE word-count shuffle (the
    // vocabulary, not the corpus, bounds the driver loop); the encode
    // is a map-only broadcast pass with a per-partition word memo
    val bpeMerges = {
      val t0 = System.nanoTime()
      val m = TextOps.bpeTrain(docs, numMerges = 500)
      val nm = m.count()
      rows("t_bpe_train") = ((System.nanoTime() - t0) / 1e9, nm)
      println(f"[scale] t_bpe_train              ${rows("t_bpe_train")._1}%8.2f s  rows=$nm")
      m
    }
    bench("t_bpe_encode") {
      TextOps.bpeApply(docs, bpeMerges).count()
    }

    // ---- r7-continuation additions: PQ codecs, bloom join, heavy
    // hitters, persisted dedup index, leak-free split, profile, MAD,
    // k-core — the operators whose 100 TB story landed this round
    val pqQ = emb.where(F.col("id") === 11).select("vec")
      .head.getSeq[Double](0).toArray
    val pq = {
      val t0 = System.nanoTime()
      val index = Similarity.pqBuild(emb.select("id", "vec"), m = 8, ksub = 64)
      rows("v_pq_build") = ((System.nanoTime() - t0) / 1e9, nVecs)
      println(f"[scale] v_pq_build               ${rows("v_pq_build")._1}%8.2f s  rows=$nVecs")
      index
    }
    bench("v_pq_topk") {
      Similarity.pqTopK(pq, emb, pqQ, k = 20, rerank = 200).count()
    }
    val ivf3 = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
    ivf3.assigned.count()
    bench("v_ivf_pq_topk") {
      Similarity.ivfPqTopK(ivf3, pq, emb, pqQ, k = 20, nprobe = 8,
        rerank = 200).count()
    }
    Similarity.ivfRelease(ivf3)
    Similarity.pqRelease(pq)
    // residual codec (IVFADC): same m/ksub/probes as the raw-codebook
    // v_ivf_pq_topk row above — the build pays the extra centroid join
    // + n2hat fold, the queries must cost the same (the quotient is
    // still m table reads + one divide)
    locally {
      val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
      iv.assigned.count()
      val t0 = System.nanoTime()
      val pqr = Similarity.pqResidualBuild(iv, m = 8, ksub = 64)
      pqr.codes.count()
      rows("v_pqr_build") = ((System.nanoTime() - t0) / 1e9, nVecs)
      println(f"[scale] v_pqr_build              ${rows("v_pqr_build")._1}%8.2f s  rows=$nVecs")
      adoptCheckpoints()
      bench("v_ivf_pqr_topk") {
        Similarity.ivfPqrTopK(iv, pqr, emb, pqQ, k = 20, nprobe = 8,
          rerank = 200).count()
      }
      bench("v_ivf_pqr_topk_batch") {
        Similarity.ivfPqrTopKBatch(
          iv, pqr, emb, queries.select("qid", "qvec"),
          k = 10, nprobe = 8, rerank = 100).count()
      }
      Similarity.ivfRelease(iv)
      Similarity.pqResidualRelease(pqr)
    }
    // ---- MEASURED recall at the timed operating points: every v_*
    // row above quotes a wall time at (nprobe=8, rerank=100) — this
    // block pins the quality those times BUY. Ground truth = the same
    // batch operator at nprobe = lists (probing every list scans the
    // whole corpus — exact by construction, no second code path to
    // trust). recall@10 per codec lands in the bytes map ×10⁴, so the
    // artifact carries the latency/recall POINT, not just latency —
    // the known-limits note's "recall depends on cluster quality"
    // becomes a number per scale point.
    if (only.forall(_.contains("v_ann_recall"))) {
      val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
      iv.assigned.count()
      val qdf = queries.select("qid", "qvec")
      def ids(df: org.apache.spark.sql.DataFrame) = df.select("qid", "id")
      val gt = ids(Similarity.ivfTopKBatch(iv, qdf, k = 10, nprobe = lists))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nq = gt.select("qid").distinct().count()
      def recall(df: org.apache.spark.sql.DataFrame): Long = {
        val hits = ids(df).join(gt, Seq("qid", "id"), "left_semi").count()
        math.round(hits.toDouble / (nq * 10) * 10000)
      }
      bytesRows("recall_ivf_p8_x1e4") =
        recall(Similarity.ivfTopKBatch(iv, qdf, k = 10, nprobe = 8))
      // the probe lever: lists are corpus-proportional, so a CONSTANT
      // nprobe probes a halving FRACTION per doubling and recall
      // decays (measured 1.0 → 0.87 across 40×→80×); doubling nprobe
      // with the corpus holds the probed fraction — and the candidate
      // budget, i.e. the flat-latency contract — constant
      bytesRows("recall_ivf_p16_x1e4") =
        recall(Similarity.ivfTopKBatch(iv, qdf, k = 10, nprobe = 16))
      // the SHIPPED default (r12): suggestNprobe probes a constant
      // fraction of the corpus-proportional lists, so THIS row is the
      // flat-recall law at pure defaults — it must hold ±0.02 across
      // the 40×/80×/160×v points where the constant-nprobe row above
      // decays geometrically
      bytesRows("recall_ivf_suggest_x1e4") = recall(
        Similarity.ivfTopKBatch(iv, qdf, k = 10,
          nprobe = Similarity.suggestNprobe(lists)))
      locally {
        val sq8r = Similarity.sq8Encode(emb)
        sq8r.codes.count()
        bytesRows("recall_ivf_sq8_p8_r100_x1e4") = recall(
          Similarity.ivfSq8TopKBatch(
            iv, sq8r, emb, qdf, k = 10, nprobe = 8, rerank = 100))
        Similarity.sq8Release(sq8r)
      }
      // residual-sign binary (r13): same budget as the raw row below —
      // measures what centroid-relative signs buy back of the raw
      // codec's within-mode collapse at the same dims/8-byte scan
      locally {
        val bri = Similarity.binaryResidualEncode(iv)
        bri.codes.count()
        val t0 = System.nanoTime()
        bytesRows("recall_binary_resid_p8_r100_x1e4") = recall(
          Similarity.ivfBinaryResidualTopKBatch(
            iv, bri, emb, qdf, k = 10, nprobe = 8, rerank = 100))
        rows("v_resid_batch_r100") = ((System.nanoTime() - t0) / 1e9, nq)
        // the tie-aware residual face at the SAME budget (VERDICT r13
        // #4): residual signs already rank within modes, so this
        // measures whether frontier widening buys ANY recall at r100
        // before it could ever default on — the adoption/refusal
        // evidence for the matrix's fifth column, recall and wall
        // side by side with the plain row above
        val t1 = System.nanoTime()
        bytesRows("recall_binary_resid_tieaware_r100_x1e4") = recall(
          Similarity.ivfBinaryResidualTopKBatchTieAware(
            iv, bri, emb, qdf, k = 10, nprobe = 8, rerank = 100))
        rows("v_resid_tieaware_batch_r100") =
          ((System.nanoTime() - t1) / 1e9, nq)
        println(f"[scale] resid r100: plain=" +
          f"${bytesRows("recall_binary_resid_p8_r100_x1e4")}%d " +
          f"(${rows("v_resid_batch_r100")._1}%.2f s) tieaware=" +
          f"${bytesRows("recall_binary_resid_tieaware_r100_x1e4")}%d " +
          f"(${rows("v_resid_tieaware_batch_r100")._1}%.2f s) x1e4")
        Similarity.binaryResidualRelease(bri)
      }
      locally {
        val bin = Similarity.binaryEncode(emb.select("id", "vec"))
        bin.codes.count()
        bytesRows("recall_binary_r100_x1e4") = recall(
          Similarity.binaryTopKBatch(bin, emb, qdf, k = 10, rerank = 100))
        // the 1-bit codec's recall LEVER, measured: this corpus is 32
        // tight modes, so sign codes collide massively inside a mode
        // and the Hamming cut at 100 is near-random within the tie —
        // rerank is the knob that buys recall back at 8 B/row scan
        // cost (the r100 point reads ~0.07 here; production guidance
        // on modal corpora is rerank ≈ expected tie-class size)
        bytesRows("recall_binary_r1000_x1e4") = recall(
          Similarity.binaryTopKBatch(bin, emb, qdf, k = 10, rerank = 1000))
        // the tie-aware face at the SAME r100 budget: frontier-tie
        // detection + widened cut (capped at ~2× the expected
        // tie-class size, nVecs/16 on this 32-mode corpus) — measures
        // what the auto-widening buys back of the r100 collapse
        // documented above, per query over an 8-query subset (the
        // single-query face pays two bounded probe jobs per call)
        locally {
          val tieQs = qdf.orderBy("qid").limit(8).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          val gtSub = gt.join(
              spark.createDataFrame(tieQs.map(q => Tuple1(q._1)))
                .toDF("qid"), "qid")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val hits = tieQs.map { case (qid, qv) =>
            Similarity.binaryTopKTieAware(bin, emb, qv, k = 10,
                rerank = 100,
                expandCap = math.max(1600, (nVecs / 16).toInt))
              .collect().map(r => (qid, r.getLong(0)))
              .count(gtSub.contains)
          }.sum
          bytesRows("recall_binary_tieaware_r100_x1e4") =
            math.round(hits.toDouble / (tieQs.length * 10) * 10000)
        }
        // expandCap sensitivity (VERDICT r12 #7): the 16×rerank
        // default was the one unmeasured knob in the codec family.
        // Sweep {4,16,64}×rerank on the BATCH tie-aware face over a
        // 64-query subset at the r100 budget — recall per cap lands in
        // bytes (×1e4), wall per cap in its own timing row, so the
        // artifact carries the recall/cost CURVE the default sits on.
        locally {
          val capQs = qdf.orderBy("qid").limit(64)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nCapQ = capQs.count()
          val gtCap = gt.join(capQs.select("qid"), "qid")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          for (mult <- Seq(4, 16, 64)) {
            val t0 = System.nanoTime()
            val hits = Similarity.binaryTopKBatchTieAware(
                bin, emb, capQs, k = 10, rerank = 100,
                expandCap = mult * 100)
              .select("qid", "id").collect()
              .map(r => (r.getLong(0), r.getLong(1)))
              .count(gtCap.contains)
            val name = s"v_binary_tieaware_cap${mult}x"
            rows(name) = ((System.nanoTime() - t0) / 1e9, nCapQ)
            bytesRows(s"recall_binary_tieaware_cap${mult}x_x1e4") =
              math.round(hits.toDouble / (nCapQ * 10) * 10000)
            println(f"[scale] $name%-28s ${rows(name)._1}%8.2f s  " +
              f"recall_x1e4=${bytesRows(s"recall_binary_tieaware_cap${mult}x_x1e4")}%d")
          }
          capQs.unpersist(blocking = false)
        }
        Similarity.binaryRelease(bin)
      }
      locally {
        val pqr = Similarity.pqResidualBuild(iv, m = 8, ksub = 64)
        pqr.codes.count()
        bytesRows("recall_ivf_pqr_p8_r100_x1e4") = recall(
          Similarity.ivfPqrTopKBatch(
            iv, pqr, emb, qdf, k = 10, nprobe = 8, rerank = 100))
        Similarity.pqResidualRelease(pqr)
      }
      // the composed production shape with the rotation in front —
      // OPQ+IVF+residual-PQ (faiss OPQ+IVFPQ) via the public
      // composition primitive: every stage runs in rotated space,
      // where cosine is unchanged, so this recall is directly
      // comparable to recall_ivf_pqr above at the same budget.
      locally {
        val rot = Similarity.opqRotation(emb.select("id", "vec"), 8)
        val rEmb = Similarity.rotateEmbeddings(emb.select("id", "vec"), rot)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rEmb.count()
        val rIv = Similarity.ivfBuild(rEmb, nLists = lists)
        rIv.assigned.count()
        val rPqr = Similarity.pqResidualBuild(rIv, m = 8, ksub = 64)
        rPqr.codes.count()
        val rq = Similarity.rotateEmbeddings(
            qdf.select(F.col("qid").as("id"), F.col("qvec").as("vec")), rot)
          .select(F.col("id").as("qid"), F.col("vec").as("qvec"))
        bytesRows("recall_ivf_opqr_p8_r100_x1e4") = recall(
          Similarity.ivfPqrTopKBatch(
            rIv, rPqr, rEmb, rq, k = 10, nprobe = 8, rerank = 100))
        Similarity.pqResidualRelease(rPqr)
        Similarity.ivfRelease(rIv)
        rEmb.unpersist(blocking = false)
      }
      // the RESIDUAL-trained rotation (r12, the published IVFADC+OPQ
      // form): coarse quantizer stays in raw space (same iv as the
      // recall_ivf_pqr row — directly comparable at the identical
      // budget), rotation fitted on r = x − c(list), residuals encoded
      // in R·r coordinates. This is the measurement VERDICT r11 #5
      // asked for: does training R on what the PQ actually quantizes
      // recover the composed form's −5 pp vs residual-alone?
      locally {
        val rrot = Similarity.opqRotationResidual(iv, 8)
        val rpqr = Similarity.pqResidualBuild(iv, m = 8, ksub = 64,
          rot = Some(rrot))
        rpqr.codes.count()
        bytesRows("recall_ivf_opqr_resid_p8_r100_x1e4") = recall(
          Similarity.ivfPqrTopKBatch(
            iv, rpqr, emb, qdf, k = 10, nprobe = 8, rerank = 100))
        Similarity.pqResidualRelease(rpqr)
      }
      // rotation's measured value on THIS corpus: plain PQ vs OPQ at
      // an identical (m, ksub, rerank) budget — same scan, same bytes,
      // only the basis differs. Tight rerank (=k) so the number
      // reflects code quality, not the exact rerank repairing it.
      locally {
        val pqf = Similarity.pqBuild(emb.select("id", "vec"), m = 8, ksub = 64)
        pqf.codes.count()
        bytesRows("recall_pq_r10_x1e4") = recall(
          Similarity.pqTopKBatch(pqf, emb, qdf, k = 10, rerank = 10))
        Similarity.pqRelease(pqf)
        val opq = Similarity.opqBuild(emb.select("id", "vec"), m = 8, ksub = 64)
        opq.pq.codes.count()
        bytesRows("recall_opq_r10_x1e4") = recall(
          Similarity.opqTopKBatch(opq, emb, qdf, k = 10, rerank = 10))
        Similarity.opqRelease(opq)
      }
      Similarity.ivfRelease(iv)
      gt.unpersist(blocking = false)
      println(f"[scale] recall@10 x1e4: ivf_p8=${bytesRows("recall_ivf_p8_x1e4")}%d " +
        f"suggest=${bytesRows("recall_ivf_suggest_x1e4")}%d " +
        f"sq8=${bytesRows("recall_ivf_sq8_p8_r100_x1e4")}%d " +
        f"binary=${bytesRows("recall_binary_r100_x1e4")}%d/" +
        f"${bytesRows("recall_binary_r1000_x1e4")}%d " +
        f"pqr=${bytesRows("recall_ivf_pqr_p8_r100_x1e4")}%d " +
        f"opqr=${bytesRows("recall_ivf_opqr_p8_r100_x1e4")}%d " +
        f"opqr_resid=${bytesRows("recall_ivf_opqr_resid_p8_r100_x1e4")}%d " +
        f"pq_r10=${bytesRows("recall_pq_r10_x1e4")}%d " +
        f"opq_r10=${bytesRows("recall_opq_r10_x1e4")}%d")
    }
    bench("q_bloom_semi") {
      val small = docs.where(F.col("doc_id") % 100 === 0).select("doc_id")
      graft.operators.BloomJoin.semiJoin(docs, small, "doc_id").count()
    }
    bench("t_heavy_tokens") {
      TextOps.heavyTokens(docs, phi = 0.001).count()
    }
    bench("d_dedup_against_index") {
      // the incremental-drop shape: index the established corpus once,
      // dedup the new drop against it
      val idx = Dedup.minhashIndexBuild(docs.where(F.col("source") =!= "srcnear"))
      val n = Dedup.dedupAgainstIndex(
        docs.where(F.col("source") === "srcnear"), idx).count()
      Dedup.minhashIndexRelease(idx); n
    }
    bench("d_split_leakfree") {
      val pairs = Dedup.minhashNearDupPairs(docs, estFloor = 0.6)
        .where(F.col("jaccard") >= 0.8)
      TrainPrep.leakFreeSplit(docs, pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).count()
    }
    bench("q_data_profile") {
      graft.operators.Profile.profile(
        docs, Seq("doc_id", "text", "source")).count()
    }
    bench("t_mad_outliers") {
      TextOps.madOutliers(
        docs.withColumn("n_chars", F.length(F.col("text")))).count()
    }
    // ---- r8 additions (VERDICT r7 #6): the operators whose sf0.1
    // costs surprised at r7 get measured 40× points of their own
    bench("d_dedup_against") {
      // the two-frame continual-pretraining shape: new drop (srcnear)
      // deduped against the established corpus — index-free sibling of
      // d_dedup_against_index on the same split
      Dedup.dedupAgainst(
        docs.where(F.col("source") === "srcnear"),
        docs.where(F.col("source") =!= "srcnear")).count()
    }
    bench("d_containment") {
      Dedup.containmentPairs(docs, n = 6, minContainment = 0.8,
        maxDf = 100).count()
    }
    // bucket-occupancy diagnostics (VERDICT r8 #6): the measured
    // second-order term behind the minhash/containment curves — the
    // committed numbers SCALE.md's extrapolation leans on. The summary
    // line prints the hottest bucket and the TOTAL candidate-pair mass
    // so scale points can be compared pair-mass to pair-mass.
    def occLine(tag: String, occ: Array[org.apache.spark.sql.Row]): Long = {
      if (occ.nonEmpty) {
        val h = occ.head; val t = occ.last
        println(s"[scale]   $tag occupancy: top_n_docs=${h.getLong(1)} " +
          s"top_pairs=${h.getLong(2)} top${occ.length}_cum=${t.getLong(3)} " +
          s"total_pairs=${t.getLong(4)} hot_buckets=${t.getLong(5)}")
      }
      occ.length.toLong
    }
    bench("d_minhash_occupancy") {
      occLine("band", Dedup.minhashBandOccupancy(docs, topN = 20).collect())
    }
    bench("d_gram_occupancy") {
      occLine("gram", Dedup.gramOccupancy(docs, n = 6, topN = 20).collect())
    }
    bench("d_substring_dedup") {
      // arbitrary-length exact substring dedup over the full corpus:
      // 8-token minimum span (the planted dups repeat whole ~45-token
      // docs, so real spans exist at every width)
      Dedup.substringDedupSpans(docs, minLen = 8).count()
    }
    bench("v_bitext_mine_approx") {
      // IVF-candidate mining across the even/odd halves — the approx
      // path that replaces the gated |a|*|b| exact operator at scale.
      // PURE defaults (r10): fine auto-sized lists (~40 rows/list),
      // two-level builds past the 128-list threshold, hierarchical
      // probe routing, sizing-matched nprobe — this row measures
      // exactly what an un-tuned caller gets, which VERDICT r9 #2
      // required to be the scale-safe plan (within ~1.5x of the
      // prebuilt hier row, which excludes the two quantizer fits)
      Similarity.bitextMineApprox(
        emb.where(F.col("id") % 2 === 0).select("id", "vec"),
        emb.where(F.col("id") % 2 =!= 0).select("id", "vec"),
        k = 4, threshold = 1.0).count()
    }
    locally {
      // the amortized shape: quantizer fits paid once, each re-mine
      // pays only probe + score (continuous mining over stable corpora)
      val sa = emb.where(F.col("id") % 2 === 0).select("id", "vec")
      val sb = emb.where(F.col("id") % 2 =!= 0).select("id", "vec")
      if (only.forall(s => s.contains("v_bitext_mine_idx") ||
          s.contains("v_bitext_mine_pq_idx") ||
          s.contains("v_bitext_mine_idx_resized") ||
          s.contains("v_ivf_resize_lists"))) {
        val ia = Similarity.ivfBuildAuto(sa, halfLists); ia.assigned.count()
        val ib = Similarity.ivfBuildAuto(sb, halfLists); ib.assigned.count()
        bench("v_bitext_mine_idx") {
          Similarity.bitextMineApprox(
            ia, ib, sa, sb, k = 4, threshold = 1.0, nprobe = 8).count()
        }
        // code-pruned re-mine (VERDICT r8 #2): identical probe pruning,
        // but the probed-list scans read 8-byte PQ codes instead of
        // 512-byte float64 vectors, with a 64-deep exact rerank per
        // query — compare against v_bitext_mine_idx directly (same
        // prebuilt IVF indexes, same corpus split)
        val pa = Similarity.pqBuild(sa, m = 8, ksub = 64); pa.codes.count()
        val pb = Similarity.pqBuild(sb, m = 8, ksub = 64); pb.codes.count()
        adoptCheckpoints()
        bench("v_bitext_mine_pq_idx") {
          Similarity.bitextMinePq(
            ia, ib, pa, pb, sa, sb, k = 4, threshold = 1.0, nprobe = 8,
            rerank = 64).count()
        }
        Similarity.pqRelease(pa); Similarity.pqRelease(pb)
        // the user-reachable FIX for the coarse-list amortized-mine
        // trap (VERDICT r10 #5): a caller holding the coarse prebuilt
        // indexes above resizes them once (its own row — one fit,
        // amortized exactly like the original build) and every re-mine
        // after runs at the fine-list scored-pair budget with
        // hierarchical routing. Done-criterion: the resized re-mine
        // within ~1.5× of v_bitext_mine_hier_idx without hand-sizing.
        var ra: Similarity.IvfIndex = null
        var rb: Similarity.IvfIndex = null
        bench("v_ivf_resize_lists") {
          ra = Similarity.ivfResizeLists(ia); ra.assigned.count()
          rb = Similarity.ivfResizeLists(ib); rb.assigned.count()
          nVecs
        }
        // ONLY-mode dependency: a selected resized-mine row never pays
        // a missing resize (built untimed, same rule as the ivf builds)
        if (ra == null && only.exists(_.contains("v_bitext_mine_idx_resized"))) {
          ra = Similarity.ivfResizeLists(ia); ra.assigned.count()
          rb = Similarity.ivfResizeLists(ib); rb.assigned.count()
        }
        Similarity.ivfRelease(ia); Similarity.ivfRelease(ib)
        if (ra != null) {
          bench("v_bitext_mine_idx_resized") {
            Similarity.bitextMineApprox(
              ra, rb, sa, sb, k = 4, threshold = 1.0, nprobe = 16).count()
          }
          Similarity.ivfRelease(ra); Similarity.ivfRelease(rb)
        }
      }
      // fine-list re-mine: two-level indexes at ~40-row lists run the
      // SAME margin semantics on an ~8x smaller probed budget (16
      // lists x ~40 rows = 640 scored rows/query vs 8 x 625 = 5000 on
      // the flat index). Scored-pair volume is the measured cost
      // driver of the re-mine rows (per-pair cost is flat across scale
      // points), so shrinking the budget — not the per-pair constant —
      // is the remaining lever on the board's heaviest row; the output
      // rows count doubles as the recall proxy vs v_bitext_mine_idx
      // (same corpus split, same threshold).
      if (only.forall(s => s.contains("v_bitext_mine_2level_idx") ||
          s.contains("v_bitext_mine_hier_idx"))) {
        val fineLists = Similarity.suggestLists(nVecs / 2, targetListSize = 40)
        val fa = Similarity.ivfBuildTwoLevel(sa, fineLists); fa.assigned.count()
        val fb = Similarity.ivfBuildTwoLevel(sb, fineLists); fb.assigned.count()
        adoptCheckpoints()
        bench("v_bitext_mine_2level_idx") {
          // CONTROL row: flat probe selection over the fine two-level
          // lists. Since r10 bitextMineApprox auto-routes to
          // hierarchical probes whenever the index carries a
          // hierarchy, the control must strip it explicitly — this
          // row exists to isolate the probe-selection term the hier
          // row below removes
          Similarity.bitextMineApprox(
            fa.copy(hier = None), fb.copy(hier = None),
            sa, sb, k = 4, threshold = 1.0, nprobe = 16).count()
        }
        // same fine-list re-mine with HIERARCHICAL probe selection:
        // each side's per-query probe choice drops from k sub-center
        // cosines (k doubles with the corpus) to √k-cell ranking plus
        // the probed cells' sub-centers — the one term of the re-mine
        // that still grew superlinearly at 2× vectors. coarseCells=8
        // pools ~8·√k lists for the 16 probes.
        bench("v_bitext_mine_hier_idx") {
          Similarity.bitextMineApproxHier(
            fa, fb, sa, sb, k = 4, threshold = 1.0, nprobe = 16,
            coarseCells = 8).count()
        }
        Similarity.ivfRelease(fa); Similarity.ivfRelease(fb)
      }
    }
    bench("q_entity_resolve") {
      // synthetic customer records: pairs share a base name (id/2),
      // 20% carry a one-char corruption so the deletion-neighborhood
      // blocking does real fuzzy work; fields agree within a pair
      val recs = spark.range(nDocs / 2).select(
        F.col("id"),
        F.when(F.pmod(F.xxhash64(F.col("id"), F.lit("typo")), F.lit(5)) === 0,
            F.concat(F.lit("nm"), (F.col("id") / 2).cast("long").cast("string"),
              F.lit("x")))
          .otherwise(
            F.concat(F.lit("nm"), (F.col("id") / 2).cast("long").cast("string")))
          .as("name"),
        // (id / 2) must be cast long BEFORE pmod: Divide yields DOUBLE,
        // and pmod("2.0") vs pmod("2.5") would make paired records
        // DISAGREE on every field — resolve() would link nothing
        F.pmod((F.col("id") / 2).cast("long"), F.lit(25)).cast("string").as("nation"),
        F.pmod((F.col("id") / 2).cast("long"), F.lit(5)).cast("string").as("segment"))
      graft.operators.EntityResolution.resolve(
        recs, "id", "name",
        graft.operators.EntityResolution.FieldWeight("name", 0.95, 0.001),
        Seq(
          graft.operators.EntityResolution.FieldWeight("nation", 0.9, 0.04),
          graft.operators.EntityResolution.FieldWeight("segment", 0.9, 0.2)),
        threshold = 5.0, maxDist = 1).count()
    }
    bench("g_kcore") {
      // synthetic near-random graph, avg degree ~16 after
      // symmetrization: k=12 peeling does several real rounds
      val e = spark.range(nVecs * 8).select(
        F.pmod(F.col("id"), F.lit(nVecs)).as("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("dst")), F.lit(nVecs)).as("dst"))
        .where(F.col("src") =!= F.col("dst"))
      val symg = e.unionByName(
        e.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
      // rounds land in the artifact next to the seconds (VERDICT r9
      // #6): a wall swing on this row is attributable to round count
      // vs stragglers only when both are recorded. `converged` makes
      // the capped-exit explicit (VERDICT r10 #6): rounds == the cap
      // means the row measured "20 peel rounds", not the operator's
      // fixpoint — the g_kcore_full row below measures THAT
      val (core, rounds) = graft.graph.GraphAnalytics
        .kCoreWithRounds(symg, k = 12, maxRounds = 20)
      bytesRows("g_kcore_rounds") = rounds.toLong
      bytesRows("g_kcore_converged") = if (rounds < 20) 1L else 0L
      core.count()
    }
    bench("g_kcore_full") {
      // the CONVERGED core (VERDICT r10 #6): same graph, cap high
      // enough that peeling reaches its fixpoint — this row measures
      // the operator's contract; g_kcore above is the same-work
      // cross-scale comparison row (both points capped identically)
      val e = spark.range(nVecs * 8).select(
        F.pmod(F.col("id"), F.lit(nVecs)).as("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("dst")), F.lit(nVecs)).as("dst"))
        .where(F.col("src") =!= F.col("dst"))
      val symg = e.unionByName(
        e.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
      val (core, rounds) = graft.graph.GraphAnalytics
        .kCoreWithRounds(symg, k = 12, maxRounds = 1000)
      bytesRows("g_kcore_full_rounds") = rounds.toLong
      bytesRows("g_kcore_full_converged") = if (rounds < 1000) 1L else 0L
      core.count()
    }
    bench("g_hop_distances") {
      // BFS hops from one source over the k-core row's graph shape
      // (near-random, avg degree ~16 — full reach in a few rounds, so
      // the row measures the frontier join at whole-graph width)
      val e = spark.range(nVecs * 8).select(
        F.pmod(F.col("id"), F.lit(nVecs)).as("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("dst")), F.lit(nVecs)).as("dst"))
        .where(F.col("src") =!= F.col("dst"))
      graft.graph.GraphAnalytics.hopDistances(e, Seq(0L), maxHops = 20)
        .count()
    }
    bench("g_harmonic") {
      // landmark harmonic centrality = the per-source hop matrix (two
      // landmarks ride one keyed BFS) + a groupBy — ~2× the single-
      // source row by construction
      val e = spark.range(nVecs * 8).select(
        F.pmod(F.col("id"), F.lit(nVecs)).as("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("dst")), F.lit(nVecs)).as("dst"))
        .where(F.col("src") =!= F.col("dst"))
      graft.graph.GraphAnalytics.harmonicCentrality(
        e, Seq(0L, nVecs / 2), maxHops = 20).count()
    }
    // ---- many-anchor PPR: 1024 anchors = 4 chunks of 256 slots; the
    // pair measures concurrent chunk submission (runMany's default)
    // against the old strictly-sequential chains on the same engine —
    // results are byte-identical (spec-pinned), only scheduling
    // overlap differs
    if (only.forall(s => s.contains("g_ppr_many_seq") ||
        s.contains("g_ppr_many_conc"))) {
      val e = spark.range(nVecs * 4).select(
        F.pmod(F.col("id"), F.lit(nVecs)).as("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("pprdst")), F.lit(nVecs)).as("dst"))
        .where(F.col("src") =!= F.col("dst"))
      val symg = e.unionByName(
        e.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
      val eng = new graft.graph.GraphAnalytics.PprEngine(symg, numIter = 15)
      val anchors = (0L until 1024L).map(_ * (nVecs / 1024)).toSeq
      bench("g_ppr_many_seq") {
        eng.runMany(anchors, maxBatch = 256, maxConcurrent = 1).count()
      }
      bench("g_ppr_many_conc") {
        eng.runMany(anchors, maxBatch = 256, maxConcurrent = 4).count()
      }
      eng.release()
    }
    // maxConcurrent SENSITIVITY (VERDICT r9 #8): the same engine at
    // 2 and 8 concurrent chunks, so the default (4) is pinned by a
    // measured curve instead of one point. Selected rows only — the
    // full-board run pays the seq/conc pair above, not the sweep.
    if (only.exists(s => s.contains("g_ppr_many_c2") ||
        s.contains("g_ppr_many_c8"))) {
      val e = spark.range(nVecs * 4).select(
        F.pmod(F.col("id"), F.lit(nVecs)).as("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit("pprdst")), F.lit(nVecs)).as("dst"))
        .where(F.col("src") =!= F.col("dst"))
      val symg = e.unionByName(
        e.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
      val eng = new graft.graph.GraphAnalytics.PprEngine(symg, numIter = 15)
      val anchors = (0L until 1024L).map(_ * (nVecs / 1024)).toSeq
      if (only.exists(_.contains("g_ppr_many_c2")))
        bench("g_ppr_many_c2") {
          eng.runMany(anchors, maxBatch = 256, maxConcurrent = 2).count()
        }
      if (only.exists(_.contains("g_ppr_many_c8")))
        bench("g_ppr_many_c8") {
          eng.runMany(anchors, maxBatch = 256, maxConcurrent = 8).count()
        }
      eng.release()
    }

    // ---- synthetic events: ~10 events per user across nVecs/4 users,
    // hash-jittered timestamps over a day — the time-join block
    val nEvents = nVecs * 10
    val events = spark.range(nEvents).select(
      F.pmod(F.col("id"), F.lit(nVecs / 4)).as("user_id"),
      F.timestamp_seconds(
        F.lit(1767225600L) + F.pmod(F.xxhash64(F.col("id")), F.lit(86400L)))
        .as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[scale] events=${events.count()}")
    bench("q_sessionize") {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      events
        .withColumn("prev_ts", F.lag("ts", 1).over(byUser))
        .withColumn("new_session",
          F.when(F.col("prev_ts").isNull ||
            F.col("ts").cast("long") - F.col("prev_ts").cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(byUser))
        .groupBy("user_id")
        .agg(F.max("session_id").as("n_sessions"),
          F.count(F.lit(1)).as("n_events"))
        .count()
    }
    bench("q_asof_enrich") {
      // every event enriched with the latest prior reading of its user
      val readings = events.sample(0.1, seed = 7)
        .withColumn("reading", F.col("user_id").cast("double"))
      graft.operators.AsOfJoin.asofJoin(
        events, readings, "user_id", "ts", "ts", Seq("reading")).count()
    }
    bench("q_skew_report") {
      graft.scale.Skew.report(events, "user_id").count()
    }
    bench("q_zorder_write") {
      val dir = java.nio.file.Files.createTempDirectory("zscale").toString
      graft.operators.Layout.zorderWrite(
        events.select(
          F.col("user_id").cast("double").as("uid"),
          F.col("ts").cast("double").as("tsd")),
        dir, "uid", "tsd", bits = 12, nFiles = 32)
      spark.read.parquet(dir).count()
    }
    // ---- streaming throughput (VERDICT r8 #7): the stateful
    // operators' parity laws prove correctness; these rows measure
    // RATE. The full event volume rides through a MemoryStream in 8
    // event-time-ordered chunks (so the watermark never drops rows —
    // chunk k+1's min ts >= chunk k's max ts), each processed as its
    // own micro-batch; events/sec prints beside the row.
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ordered =
        if (!only.forall(_.contains("s_sessionize_stream")))
          Array.empty[(Long, java.sql.Timestamp)]
        else events
          .select(F.col("user_id"), F.col("ts"))
          .orderBy("ts")
          .as[(Long, java.sql.Timestamp)]
          .collect()
      val chunks = ordered.grouped(math.max(1, ordered.length / 8)).toSeq
      bench("s_sessionize_stream") {
        val in = MemoryStream[(Long, java.sql.Timestamp)]
        val q = graft.streaming.StreamingOps
          .sessionizeStream(in.toDF().toDF("user_id", "ts"),
            gapSeconds = 1800L, watermarkDelay = "1 hour")
          .writeStream.format("memory").queryName("scale_sess")
          .outputMode(OutputMode.Append()).start()
        chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
        q.stop()
        val n = spark.sql("SELECT count(*) FROM scale_sess").head.getLong(0)
        println(f"[scale]   sessionizeStream: ${ordered.length} events -> " +
          s"$n closed sessions")
        n
      }
      rows.get("s_sessionize_stream").foreach { case (sec, _) =>
        println(f"[scale]   sessionizeStream rate: " +
          f"${ordered.length / sec}%.0f events/sec")
      }
      // PSI drift monitor at the same volume: value = a deterministic
      // per-event double; reference captured from the same distribution
      val valued = events.select(
        F.col("ts"),
        (F.pmod(F.xxhash64(F.col("user_id"), F.col("ts")), F.lit(1000L))
          .cast("double") / 10.0).as("value"))
      val runPsi = only.forall(_.contains("s_psi_stream"))
      val (edges, fracs) =
        if (!runPsi) (Array.empty[Double], Array.empty[Double])
        else graft.operators.Profile.psiReference(valued, "value")
      val vOrdered =
        if (!runPsi) Array.empty[(java.sql.Timestamp, Double)]
        else valued.orderBy("ts").as[(java.sql.Timestamp, Double)].collect()
      val vChunks = vOrdered.grouped(math.max(1, vOrdered.length / 8)).toSeq
      bench("s_psi_stream") {
        val in = MemoryStream[(java.sql.Timestamp, Double)]
        val q = graft.streaming.StreamingOps
          .psiStream(in.toDF().toDF("ts", "value"), edges, fracs,
            window = "1 hour", watermark = "2 hours")
          .writeStream.format("memory").queryName("scale_psi")
          .outputMode(OutputMode.Complete()).start()
        vChunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
        q.stop()
        val n = spark.sql("SELECT count(*) FROM scale_psi").head.getLong(0)
        println(s"[scale]   psiStream: ${vOrdered.length} events -> " +
          s"$n windows")
        n
      }
      rows.get("s_psi_stream").foreach { case (sec, _) =>
        println(f"[scale]   psiStream rate: " +
          f"${vOrdered.length / sec}%.0f events/sec")
      }
      // ---- streaming ANN-index ingest at a quarter of the corpus
      // volume: frozen-quantizer assignment + the cluster-partitioned
      // lists write, in 8 micro-batches against a SAVED index —
      // vectors/sec prints beside the row. Build + save are untimed
      // (index maintenance measures ingest, not construction).
      if (only.forall(_.contains("s_ivf_append_stream"))) {
        val dir = java.nio.file.Files
          .createTempDirectory("ivfappendscale").toString
        val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
        Similarity.ivfSave(iv, dir)
        Similarity.ivfRelease(iv)
        val newVecs = emb.where(F.col("id") % 4 === 0)
          .select((F.col("id") + F.lit(10000000L)).as("id"), F.col("vec"))
          .as[(Long, Array[Double])]
          .collect()
        val vecChunks = newVecs.grouped(math.max(1, newVecs.length / 8)).toSeq
        bench("s_ivf_append_stream") {
          val in = MemoryStream[(Long, Array[Double])]
          val q = graft.streaming.StreamingOps.ivfAppendStream(
            in.toDF().toDF("id", "vec"), dir, dir + "/ckpt")
          vecChunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
          q.stop()
          newVecs.length.toLong
        }
        rows.get("s_ivf_append_stream").foreach { case (sec, n) =>
          println(f"[scale]   ivfAppendStream rate: ${n / sec}%.0f vectors/sec")
        }
      }
      // ---- drift→rebuild policy face (r14, VERDICT r13 #5): the
      // no-drift path of rebuildIfDrifted must cost ONE broadcast
      // assignment pass over the drop + two k-row aggregates and SKIP
      // the rebuild — this row measures exactly that (a full rebuild
      // at this scale is the v_ivf_build-sized cost the skip avoids);
      // the measured psi lands beside it in bytes (×1e4)
      if (only.forall(_.contains("v_rebuild_check"))) {
        val dir = java.nio.file.Files
          .createTempDirectory("rebcheckscale").toString + "/index"
        val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
        Similarity.ivfSave(iv, dir)
        Similarity.ivfRelease(iv)
        bench("v_rebuild_check_nodrift") {
          val (psi, rebuilt) = Similarity.rebuildIfDrifted(
            spark, dir, emb.select("id", "vec"))
          require(!rebuilt, s"no-drift fixture tripped the rebuild: psi=$psi")
          bytesRows("v_rebuild_check_psi_x1e4") = math.round(psi * 10000)
          nVecs
        }
        rows.get("v_rebuild_check_nodrift").foreach { case (sec, n) =>
          println(f"[scale]   rebuildIfDrifted no-drift: $sec%.2f s over " +
            f"$n%d vecs (psi_x1e4=${bytesRows("v_rebuild_check_psi_x1e4")}%d)" +
            " — rebuild skipped")
        }
      }
      // ---- streaming SEMANTIC dedup gate at volume (r13): base = a
      // tenth of modes 0–15 in a saved corpus-proportional layout, the
      // other nine tenths of the corpus streamed in 8 micro-batches.
      // The 32-mode corpus makes most arrivals semantic dups: modes
      // 0–15 reject against base, modes 16–31 admit once (smallest id
      // in the first batch that carries the mode) and every later
      // arrival rejects against the APPENDED state — both gate paths
      // at volume. Per-batch cost = assignment + the cell-blocked
      // self-join + a probe-pruned broadcast join; vecs/sec prints,
      // admitted count lands in bytes.
      if (only.forall(_.contains("s_embed_gate"))) {
        val dir = java.nio.file.Files
          .createTempDirectory("egatescale").toString + "/index"
        val gaux = java.nio.file.Files
          .createTempDirectory("egatescaleaux").toString
        val basePred = F.pmod(F.col("id"), F.lit(32)) < 16 &&
          F.col("id") % 10 === 0
        val iv = Similarity.ivfBuild(
          emb.where(basePred).select("id", "vec"), nLists = lists)
        Similarity.ivfSave(iv, dir)
        Similarity.ivfRelease(iv)
        val streamVecs = emb.where(!basePred)
          .select("id", "vec").as[(Long, Array[Double])].collect()
        val chunks = streamVecs.grouped(
          math.max(1, streamVecs.length / 8)).toSeq
        // measure the gate's per-batch broadcast sizes (VERDICT r13
        // #3): the probe-side broadcast now ships scalar-SQ8 codes
        // (schema carries `bcode`), the exact-rerank broadcast ships
        // the batch's full vectors once (`bvec`, nBatch rows). The
        // pre-compression probe broadcast was the bvec payload
        // replicated nprobe× — so old ≈ nprobe · rerank_bcast; both
        // maxima land in bytes rows for the comparison.
        val probeBcast = new java.util.concurrent.atomic.AtomicLong(0L)
        val rerankBcast = new java.util.concurrent.atomic.AtomicLong(0L)
        val bcastListener = new org.apache.spark.sql.util.QueryExecutionListener {
          private def visit(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
            p match {
              case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
                val sz = b.metrics.get("dataSize").map(_.value).getOrElse(0L)
                val names = b.child.output.map(_.name).toSet
                val op = new java.util.function.LongBinaryOperator {
                  def applyAsLong(a: Long, x: Long): Long = math.max(a, x)
                }
                if (names.contains("bcode")) probeBcast.accumulateAndGet(sz, op)
                else if (names.contains("bvec")) rerankBcast.accumulateAndGet(sz, op)
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                visit(a.executedPlan)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                visit(q.plan)
              // the gate persists its frames, so the joins (and their
              // broadcasts) execute INSIDE cache materialization —
              // descend into the cached plan or every metric reads 0
              case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
                visit(m.relation.cachedPlan)
              case _ =>
            }
            p.children.foreach(visit)
          }
          override def onSuccess(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              d: Long): Unit = visit(qe.executedPlan)
          override def onFailure(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        }
        spark.listenerManager.register(bcastListener)
        bench("s_embed_gate") {
          val in = MemoryStream[(Long, Array[Double])]
          val q = graft.streaming.StreamingOps.embedGateStream(
            in.toDF().toDF("id", "vec"), dir, gaux + "/out",
            gaux + "/ckpt", cosineThreshold = 0.95)
          try {
            chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
            streamVecs.length.toLong
          } finally q.stop()
        }
        Thread.sleep(2000) // listener events deliver async — let them drain
        spark.listenerManager.unregister(bcastListener)
        rows.get("s_embed_gate").foreach { case (sec, n) =>
          val admitted = spark.read.parquet(gaux + "/out").count()
          bytesRows("s_embed_gate_admitted") = admitted
          bytesRows("s_embed_gate_probe_bcast_max") = probeBcast.get()
          bytesRows("s_embed_gate_rerank_bcast_max") = rerankBcast.get()
          println(f"[scale]   embed gate: ${n / sec}%.0f vecs/sec ingest; " +
            f"admitted $admitted%d of $n%d; probe bcast max " +
            f"${probeBcast.get()}%d B vs rerank (full-vec, 1x batch) " +
            f"${rerankBcast.get()}%d B")
        }
      }
      // ---- streaming ANN serving rate: the query face of the same
      // saved-layout loop — 1000 queries in 8 micro-batches against
      // the frozen corpus-proportional index; queries/sec prints
      // beside the row (per-batch cost = one batch retrieval + the
      // results append)
      if (only.forall(_.contains("s_ivf_query_stream"))) {
        val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
        iv.assigned.count()
        val qArr = queries.select("qid", "qvec")
          .as[(Long, Array[Double])]
          .collect()
        val qChunks = qArr.grouped(math.max(1, qArr.length / 8)).toSeq
        val outDir = java.nio.file.Files
          .createTempDirectory("ivfqscale").toString
        bench("s_ivf_query_stream") {
          val in = MemoryStream[(Long, Array[Double])]
          val q = graft.streaming.StreamingOps.ivfQueryStream(
            in.toDF().toDF("qid", "qvec"), iv, k = 10, nprobe = 8,
            outDir + "/out", outDir + "/ckpt")
          qChunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
          q.stop()
          qArr.length.toLong
        }
        rows.get("s_ivf_query_stream").foreach { case (sec, n) =>
          println(f"[scale]   ivfQueryStream rate: ${n / sec}%.0f queries/sec")
        }
        Similarity.ivfRelease(iv)
      }
      // ---- the combined ingest + serve LOOP (VERDICT r9 #7): both
      // faces run CONCURRENTLY on one saved layout — the append stream
      // lands idempotent segments (auto-compacting, drift-monitored)
      // while the query face reloads every micro-batch, so appended
      // vectors become visible without a restart. The row reports the
      // serve throughput under concurrent ingest; freshness lag
      // (sentinel append → first query answer containing it) and the
      // compaction count land in the bytes map. A reload racing a
      // segment commit can briefly see a partial batch (committed
      // files only — the ANN-serving freshness contract, not a
      // correctness one).
      if (only.forall(_.contains("s_ivf_serve_loop"))) {
        val dir = java.nio.file.Files
          .createTempDirectory("ivfservescale").toString
        val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
        Similarity.ivfSave(iv, dir)
        Similarity.ivfRelease(iv)
        val newVecs = emb.where(F.col("id") % 4 === 1)
          .select((F.col("id") + F.lit(20000000L)).as("id"), F.col("vec"))
          .as[(Long, Array[Double])].collect()
        val qArr = queries.select("qid", "qvec")
          .as[(Long, Array[Double])].collect()
        val vecChunks = newVecs.grouped(math.max(1, newVecs.length / 8)).toSeq
        val qChunks = qArr.grouped(math.max(1, qArr.length / 8)).toSeq
        val mon = new graft.streaming.StreamingOps.IvfIngestMonitor
        bench("s_ivf_serve_loop") {
          val ain = MemoryStream[(Long, Array[Double])]
          val qin = MemoryStream[(Long, Array[Double])]
          val aq = graft.streaming.StreamingOps.ivfAppendStream(
            ain.toDF().toDF("id", "vec"), dir, dir + "/ckptA",
            compactEverySegs = 6, monitor = Some(mon))
          val sq = graft.streaming.StreamingOps.ivfQueryStream(
            qin.toDF().toDF("qid", "qvec"), dir, k = 10, nprobe = 8,
            dir + "/out", dir + "/ckptQ", reloadEveryBatches = 1)
          try {
            val appender = new Thread(() => vecChunks.foreach { c =>
              ain.addData(c.toSeq); aq.processAllAvailable() })
            appender.setDaemon(true)
            appender.start()
            qChunks.foreach { c => qin.addData(c.toSeq); sq.processAllAvailable() }
            appender.join()
            // freshness lag: a sentinel vector appended NOW — how long
            // until a query answer contains it (append commit + reload
            // + one serve batch)
            val sentinel = qArr.head._2.map(_ + 1e-3)
            val t0 = System.nanoTime()
            ain.addData((99999999L, sentinel))
            aq.processAllAvailable()
            var lagMs = -1L
            var probe = 0
            while (lagMs < 0 && probe < 50) {
              qin.addData((5000000L + probe, sentinel))
              sq.processAllAvailable()
              val seen = spark.read.parquet(dir + "/out")
                .where(F.col("id") === 99999999L).limit(1).count() > 0
              if (seen) lagMs = (System.nanoTime() - t0) / 1000000L
              probe += 1
            }
            bytesRows("s_ivf_serve_freshness_ms") = lagMs
            bytesRows("s_ivf_serve_compactions") = mon.compactionsRun
            qArr.length.toLong
          } finally {
            // a failed loop must not leak running streams into (and
            // kill) the rest of the artifact run
            aq.stop(); sq.stop()
          }
        }
        rows.get("s_ivf_serve_loop").foreach { case (sec, n) =>
          println(f"[scale]   serve loop: ${n / sec}%.0f queries/sec under " +
            f"concurrent ingest; freshness ${bytesRows("s_ivf_serve_freshness_ms")}%d ms; " +
            f"compactions ${bytesRows("s_ivf_serve_compactions")}%d; " +
            f"drift ${mon.topDecileShare}%.3f")
        }
      }
      // ---- the serve loop SPANNING A DRIFT-TRIGGERED REBUILD
      // (VERDICT r10 #2 done-criterion): ingest whose first micro-batch
      // concentrates on a NEW mode (70% of it collapses onto the stale
      // quantizer's nearest lists, 30% stays spread so the minLists
      // gate is honestly cleared) fires ivfRebuild mid-stream, the
      // append model re-targets the fresh centroids, and the query
      // face keeps serving through the whole-directory swap via its
      // reload retry. Row = serve throughput across the rebuild;
      // rebuild count + post-rebuild freshness land in the bytes map.
      // The index dir holds ONLY the layout — checkpoints/out live
      // beside it, the documented rebuild contract.
      if (only.forall(_.contains("s_ivf_serve_rebuild"))) {
        val idxDir = java.nio.file.Files
          .createTempDirectory("ivfrebuildscale").toString + "/index"
        val auxDir = java.nio.file.Files
          .createTempDirectory("ivfrebuildaux").toString
        val iv = Similarity.ivfBuild(emb.select("id", "vec"), nLists = lists)
        Similarity.ivfSave(iv, idxDir)
        Similarity.ivfRelease(iv)
        def l2(a: Array[Double]): Array[Double] = {
          val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
        }
        // a 33rd mode the base quantizer never fit — deterministic
        // per-(id, dim) jitter, same shape as the corpus generator
        def hotVec(id: Long): Array[Double] = l2(Array.tabulate(dims)(f =>
          math.sin(35 * 0.7 + f * 0.37) +
            (((id * 31 + f * 7) % 1000) / 1000.0 - 0.5) * 0.3))
        val spreadVecs = emb.where(F.col("id") % 4 === 2)
          .select((F.col("id") + F.lit(30000000L)).as("id"), F.col("vec"))
          .as[(Long, Array[Double])].collect()
        val rChunks = spreadVecs.grouped(
          math.max(1, spreadVecs.length / 8)).toSeq
        val driftChunks = rChunks.head.zipWithIndex.map { case ((id, v), i) =>
          if (i % 10 < 3) (id, v) else (id, hotVec(id))
        } +: rChunks.tail
        val qArr2 = queries.select("qid", "qvec")
          .as[(Long, Array[Double])].collect()
        val qChunks2 = qArr2.grouped(math.max(1, qArr2.length / 8)).toSeq
        val mon2 = new graft.streaming.StreamingOps.IvfIngestMonitor
        bench("s_ivf_serve_rebuild") {
          val ain = MemoryStream[(Long, Array[Double])]
          val qin = MemoryStream[(Long, Array[Double])]
          val aq = graft.streaming.StreamingOps.ivfAppendStream(
            ain.toDF().toDF("id", "vec"), idxDir, auxDir + "/ckptA",
            monitor = Some(mon2), rebuildDriftThreshold = 0.5,
            rebuildTargetListSize = 1250)
          val sq = graft.streaming.StreamingOps.ivfQueryStream(
            qin.toDF().toDF("qid", "qvec"), idxDir, k = 10, nprobe = 8,
            auxDir + "/out", auxDir + "/ckptQ", reloadEveryBatches = 1)
          try {
            val appender = new Thread(() => driftChunks.foreach { c =>
              ain.addData(c.toSeq); aq.processAllAvailable() })
            appender.setDaemon(true)
            appender.start()
            qChunks2.foreach { c => qin.addData(c.toSeq); sq.processAllAvailable() }
            appender.join()
            // post-rebuild freshness: sentinel append → first answer
            val sentinel = qArr2.head._2.map(_ + 1e-3)
            val t0 = System.nanoTime()
            ain.addData((99999998L, sentinel))
            aq.processAllAvailable()
            var lagMs = -1L
            var probe = 0
            while (lagMs < 0 && probe < 50) {
              qin.addData((6000000L + probe, sentinel))
              sq.processAllAvailable()
              val seen = spark.read.parquet(auxDir + "/out")
                .where(F.col("id") === 99999998L).limit(1).count() > 0
              if (seen) lagMs = (System.nanoTime() - t0) / 1000000L
              probe += 1
            }
            bytesRows("s_ivf_serve_rebuild_count") = mon2.rebuildsRun
            bytesRows("s_ivf_serve_rebuild_freshness_ms") = lagMs
            qArr2.length.toLong
          } finally {
            aq.stop(); sq.stop()
          }
        }
        rows.get("s_ivf_serve_rebuild").foreach { case (sec, n) =>
          println(f"[scale]   serve+rebuild: ${n / sec}%.0f queries/sec; " +
            f"rebuilds ${bytesRows("s_ivf_serve_rebuild_count")}%d; " +
            f"post-rebuild freshness " +
            f"${bytesRows("s_ivf_serve_rebuild_freshness_ms")}%d ms")
        }
      }
      // ---- streaming heavy hitters at volume: the whole corpus's
      // token stream in 6 micro-batches; per batch the state written
      // is ≤ 1/φ top rows + one count-min sketch — independent of
      // stream length and vocabulary. Row = ingest wall; the merged
      // report's size and its certain-count land in the bytes map.
      if (only.forall(_.contains("s_heavy_tokens"))) {
        val hside = java.nio.file.Files
          .createTempDirectory("hhscale").toString + "/hh"
        val hck = java.nio.file.Files
          .createTempDirectory("hhscaleck").toString
        val hDocs = docs.select("doc_id", "text")
          .as[(Long, String)].collect()
        val hChunks = hDocs.grouped(math.max(1, hDocs.length / 6)).toSeq
        bench("s_heavy_tokens") {
          val hin = MemoryStream[(Long, String)]
          val hq = graft.streaming.StreamingOps.heavyTokensStream(
            hin.toDF().toDF("doc_id", "text"), phi = 0.001, hside, hck)
          try {
            hChunks.foreach { c => hin.addData(c.toSeq); hq.processAllAvailable() }
            hDocs.length.toLong
          } finally hq.stop()
        }
        rows.get("s_heavy_tokens").foreach { case (sec, n) =>
          val rep = graft.streaming.StreamingOps
            .heavyTokensOf(spark, hside, phi = 0.001)
            .select("certain").collect()
          bytesRows("s_heavy_tokens_reported") = rep.length.toLong
          bytesRows("s_heavy_tokens_certain") =
            rep.count(_.getInt(0) == 1).toLong
          println(f"[scale]   heavy hitters: ${n / sec}%.0f docs/sec ingest; " +
            f"${rep.length}%d reported, ${rep.count(_.getInt(0) == 1)}%d certain")
        }
      }
      // ---- compaction-default law (VERDICT r12 #1 done-evidence):
      // the same token corpus streamed in 32 vs 128 micro-batches at
      // the SHIPPED default cadence (64). The old never-fold default
      // grew the sidecar count — and heavyTokensOf's per-segment
      // sketch collect — linearly in batches; with the default the
      // segment count must stay bounded (≤ cadence + in-flight) and
      // the read wall flat across the 4× batch-count jump. Segment
      // counts and read milliseconds land in the bytes map.
      if (only.forall(_.exists(_.startsWith("s_heavy_longstream")))) {
        val lDocs = docs.select("doc_id", "text").as[(Long, String)].collect()
        def longRun(nBatches: Int, tag: String): Unit = {
          val side = java.nio.file.Files
            .createTempDirectory(s"hhlong$tag").toString + "/hh"
          val ck = java.nio.file.Files
            .createTempDirectory(s"hhlong${tag}ck").toString
          val chunks = lDocs.grouped(
            math.max(1, lDocs.length / nBatches)).toSeq
          bench(s"s_heavy_longstream_$tag") {
            val hin = MemoryStream[(Long, String)]
            val hq = graft.streaming.StreamingOps.heavyTokensStream(
              hin.toDF().toDF("doc_id", "text"), phi = 0.001, side, ck)
            try {
              chunks.foreach { c =>
                hin.addData(c.toSeq); hq.processAllAvailable()
              }
              lDocs.length.toLong
            } finally hq.stop()
          }
          if (rows.contains(s"s_heavy_longstream_$tag")) {
            val segs = graft.operators.SegmentTiers
              .segCount(spark, s"$side/cms").toLong
            val t0 = System.nanoTime()
            val rep = graft.streaming.StreamingOps
              .heavyTokensOf(spark, side, phi = 0.001).count()
            val readMs = (System.nanoTime() - t0) / 1000000L
            bytesRows(s"s_heavy_longstream_${tag}_segs") = segs
            bytesRows(s"s_heavy_longstream_${tag}_read_ms") = readMs
            println(f"[scale]   longstream $tag: $segs%d segments after " +
              f"default-cadence folds; heavyTokensOf $readMs%d ms, " +
              f"$rep%d reported")
          }
        }
        longRun(32, "b32")
        longRun(128, "b128")
      }
      // ---- streamed quantile sidecars at volume: per-batch state is
      // ≤ nBuckets rows REGARDLESS of batch size (the cheapest sidecar
      // here — the row pins that the per-doc cost is the scan, not the
      // state), folds at the shared cadence, read = one tiny merge
      if (only.forall(_.contains("s_hist_stream"))) {
        val hiside = java.nio.file.Files
          .createTempDirectory("histscale").toString + "/hist"
        val hick = java.nio.file.Files
          .createTempDirectory("histscaleck").toString
        val hiDocs = docs.select(
            F.col("doc_id"), F.length(F.col("text")).cast("double").as("x"))
          .as[(Long, Double)].collect()
        val hiChunks = hiDocs.grouped(math.max(1, hiDocs.length / 6)).toSeq
        bench("s_hist_stream") {
          val hin = MemoryStream[(Long, Double)]
          val hq = graft.streaming.StreamingOps.histStream(
            hin.toDF().toDF("doc_id", "x"), "x", lo = 0.0, hi = 2000.0,
            nBuckets = 200, hiside, hick, compactEverySegs = 4)
          try {
            hiChunks.foreach { c => hin.addData(c.toSeq); hq.processAllAvailable() }
            hiDocs.length.toLong
          } finally hq.stop()
        }
        rows.get("s_hist_stream").foreach { case (sec, n) =>
          val counts = graft.streaming.StreamingOps.histOf(spark, hiside)
            .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
          val p50 = graft.operators.Profile.histQuantile(
            counts, 0.5, 0.0, 2000.0, 200)
          bytesRows("s_hist_total") = counts.map(_._2).sum
          bytesRows("s_hist_p50_x100") = math.round(p50 * 100)
          println(f"[scale]   hist stream: ${n / sec}%.0f docs/sec ingest; " +
            f"${counts.length}%d live buckets, p50=$p50%.2f")
        }
      }
      // ---- the SELF-GROWING streaming dedup gate at volume: base
      // band index over 10% of the corpus, the remaining 90% streamed
      // in 6 micro-batches — each pays its own signature pass, a
      // within-batch collapse, and a banded join against base +
      // earlier survivors' appended segments, with compactions
      // folding the accumulating segments mid-run. Row = end-to-end
      // ingest wall over all batches; admitted count and final
      // segment count land in the bytes map. The per-batch cost claim
      // (candidate mass of the batch, not corpus size) shows up as
      // sub-linear row growth across the 40×/80× doc doubling.
      // guard passes for the gate row OR its chained takedown rows
      // (ADVICE r12: ONLY=d_takedown_gate_scale used to silently skip
      // everything because the outer guard only knew the gate's name);
      // the takedown rows still need the streamed layout, so the gate
      // ingest runs UNTIMED when only the takedown rows are requested
      if (only.forall(o => o.contains("s_dedup_gate") ||
          o.exists(_.startsWith("d_takedown_gate_scale")))) {
        val gdir = java.nio.file.Files
          .createTempDirectory("gatescale").toString + "/index"
        val gaux = java.nio.file.Files
          .createTempDirectory("gatescaleaux").toString
        val gBase = docs.where(F.col("doc_id") % 10 === 0)
          .select("doc_id", "text")
        val bidx = Dedup.minhashIndexBuild(gBase)
        Dedup.minhashIndexSave(bidx, gdir)
        Dedup.minhashIndexRelease(bidx)
        val streamDocs = docs.where(F.col("doc_id") % 10 =!= 0)
          .select("doc_id", "text").as[(Long, String)].collect()
        val dChunks = streamDocs.grouped(
          math.max(1, streamDocs.length / 6)).toSeq
        def runGateIngest(): Long = {
          val din = MemoryStream[(Long, String)]
          val gq = graft.streaming.StreamingOps.minhashGateStream(
            din.toDF().toDF("doc_id", "text"), gdir, gaux + "/out",
            gaux + "/ckpt", jaccardThreshold = 0.8, compactEverySegs = 4)
          try {
            dChunks.foreach { c =>
              din.addData(c.toSeq); gq.processAllAvailable()
            }
            streamDocs.length.toLong
          } finally gq.stop()
        }
        if (only.forall(_.contains("s_dedup_gate")))
          bench("s_dedup_gate")(runGateIngest())
        else runGateIngest()
        rows.get("s_dedup_gate").foreach { case (sec, n) =>
          val admitted = spark.read.parquet(gaux + "/out").count()
          val segs = spark.read.parquet(gdir + "/bands_appends")
            .select("seg").distinct().count()
          bytesRows("s_dedup_gate_admitted") = admitted
          bytesRows("s_dedup_gate_segments") = segs
          println(f"[scale]   dedup gate: ${n / sec}%.0f docs/sec ingest; " +
            f"admitted $admitted%d of $n%d; $segs%d segments after folds")
        }
        // GDPR-style erasure at volume, chained on the gate's layout
        // (base + streamed segments + folds): anti-join + staged
        // rewrite + marker swap of every live frame. Row = wall for
        // removing ~1% of ids planted across base AND appends; the
        // removed band-row count lands in the bytes map.
        // startsWith, not exact membership: ONLY=d_takedown_gate_scale_batch
        // must reach its bench call too (same silent-skip class as the
        // outer guard's ADVICE fix)
        if (only.forall(_.exists(_.startsWith("d_takedown_gate_scale")))) {
          var removedRows = 0L
          bench("d_takedown_gate_scale") {
            removedRows = Dedup.minhashLayoutRemove(spark, gdir,
              docs.where(F.col("doc_id") % 97 === 0).select("doc_id"))
            docs.where(F.col("doc_id") % 97 === 0).count()
          }
          if (rows.contains("d_takedown_gate_scale"))
            bytesRows("d_takedown_removed_band_rows") = removedRows
          // the amortization claim, measured: a takedown's cost is the
          // survivor rewrite, not the erased-id count — a 14× bigger
          // id batch (%7 of the remaining ids) should cost ≈ the same
          // wall as the 1% batch above, so batching takedowns divides
          // the per-id price by the batch size
          var removedRows10 = 0L
          bench("d_takedown_gate_scale_batch") {
            removedRows10 = Dedup.minhashLayoutRemove(spark, gdir,
              docs.where(F.col("doc_id") % 7 === 0).select("doc_id"))
            docs.where(F.col("doc_id") % 7 === 0).count()
          }
          if (rows.contains("d_takedown_gate_scale_batch"))
            bytesRows("d_takedown_batch_removed_band_rows") = removedRows10
        }
      }
    }
    events.unpersist(blocking = false)

    def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_BENCH_r14.json")
    // scale_total sums TIMINGS only; byte metrics are their own field
    val json =
      s"""{"metric":"scale_total","value":${fmt(rows.values.map(_._1).sum)},""" +
        s""""unit":"sec","scale":$scale,"n_docs":${docs.count()},""" +
        s""""n_vecs":$nVecs,"dims":$dims,"queries":{""" +
        rows.map { case (k, (s, n)) =>
          s""""$k":{"sec":${fmt(s)},"rows":$n}""" }.mkString(",") +
        s"""},"cpu_sec":{""" +
        cpuRows.map { case (k, c) => s""""$k":${fmt(c)}""" }.mkString(",") +
        s"""},"retried":{""" +
        retriedRows.map { case (k, w) => s""""$k":${fmt(w)}""" }.mkString(",") +
        s"""},"bytes":{""" +
        bytesRows.map { case (k, b) => s""""$k":$b""" }.mkString(",") +
        "}}\n"
    Bench.writeBoardGuarded(out, json, strict = false)
    println(json)
    spark.stop()
  }
}
