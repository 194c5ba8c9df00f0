package perfbench

/** Turns the traced run's spans into per-layer metrics and a table. */
object Layers {
  /** Spans that report the full counter set C. */
  val Hot: Seq[String] = Seq(
    "graph.eps_knn", "api.build", "api.search_batch",
    "similarity.raw_batch", "similarity.where_batch",
    "similarity.sq8_batch", "similarity.pq_batch",
    "streaming.embed_gate_batch", "streaming.minhash_gate_batch",
    "similarity.fresh_read")

  /** Spans that report wall time only (plus task CPU for spectral). */
  val WallOnly: Seq[String] = Seq(
    "spectral.feature_laplacian",
    "similarity.ivf_build", "similarity.ivf_save", "similarity.ivf_load",
    "similarity.codec_encode", "dedup.minhash_index_build",
    "similarity.gate_ivf_build", "similarity.ivf_probe")

  def emit(ctx: Ctx, layers: Map[String, LayerCost], ledger: JobLedger,
      streams: StreamLedger): Unit = {
    val m = ctx.metrics
    val cores = ctx.args.cores
    def c(name: String): Option[LayerCost] = layers.get(name)
    Hot.foreach { name =>
      val l = c(name)
      m(s"$name.wall_s") = l.map(_.medianWall).getOrElse(0.0)
      m(s"$name.task_cpu_s") = l.map(x => x.perOp(x.cpuS)).getOrElse(0.0)
      m(s"$name.gc_s") = l.map(x => x.perOp(x.gcS)).getOrElse(0.0)
      m(s"$name.shuffle_mb") = l.map(x => x.perOp(x.shuffleMb)).getOrElse(0.0)
      m(s"$name.input_mb") = l.map(x => x.perOp(x.inputMb)).getOrElse(0.0)
      m(s"$name.spill_mb") = l.map(x => x.perOp(x.spillMb)).getOrElse(0.0)
      m(s"$name.jobs") = l.map(x => x.perOp(x.jobs.toDouble)).getOrElse(0.0)
      m(s"$name.core_idle_frac") = l.map(_.idleFrac(cores)).getOrElse(0.0)
    }
    WallOnly.foreach { name =>
      m(s"$name.wall_s") = c(name).map(_.medianWall).getOrElse(0.0)
    }
    m("spectral.feature_laplacian.task_cpu_s") =
      c("spectral.feature_laplacian").map(x => x.perOp(x.cpuS)).getOrElse(0.0)
    // useful edges per shuffled candidate pair of the graph pass
    m("graph.edges_per_candidate") = c("graph.eps_knn")
      .filter(_.shuffleRecords > 0)
      .map(l => m.getOrElse("graph.edges", 0.0) * l.n / l.shuffleRecords)
      .getOrElse(0.0)
    Seq("embed", "minhash").foreach { g =>
      val name = s"streaming.${g}_gate_batch"
      m(s"$name.output_mb") = c(name).map(x => x.perOp(x.outputMb)).getOrElse(0.0)
      m(s"$name.engine_overhead_frac") = ctx.info.get(s"query_id.$g")
        .map(java.util.UUID.fromString)
        .map { id =>
          streams.synchronized {
            val trig = streams.triggerMs(id)
            if (trig == 0L) 0.0 else 1.0 - streams.addBatchMs(id).toDouble / trig
          }
        }.getOrElse(0.0)
    }
    m("spark.failed_tasks") =
      ledger.synchronized(ledger.cost.values.map(_.failedTasks).sum.toDouble)
    m("trace.span_cpu_coverage") = ctx.tr.coverage(ledger)
    ctx.check(m("trace.span_cpu_coverage") >= 0.9,
      f"spans cover ${m("trace.span_cpu_coverage")}%.3f of task CPU, below 0.9")
  }

  def printTable(workload: String, layers: Map[String, LayerCost], cores: Int): Unit = {
    println(s"per-layer trace: $workload (totals over the run; self = span minus children)")
    println(f"${"span"}%-34s ${"n"}%5s ${"wall_s"}%9s ${"self_s"}%9s ${"cpu_s"}%9s " +
      f"${"gc_s"}%7s ${"shuf_mb"}%9s ${"in_mb"}%8s ${"spill_mb"}%8s ${"jobs"}%6s ${"idle"}%5s")
    layers.toSeq.sortBy(-_._2.selfS).foreach { case (name, l) =>
      println(f"$name%-34s ${l.n}%5d ${l.walls.sum}%9.3f ${l.selfS}%9.3f ${l.cpuS}%9.3f " +
        f"${l.gcS}%7.3f ${l.shuffleMb}%9.2f ${l.inputMb}%8.2f ${l.spillMb}%8.2f " +
        f"${l.jobs}%6d ${l.idleFrac(cores)}%5.2f")
    }
  }
}
