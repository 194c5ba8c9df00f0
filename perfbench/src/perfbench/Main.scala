package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, smoke: Boolean, cores: Int)

/** What one run shares across its workload code: the session, the
  * tracer, the clock and the tallies that become the result line.
  */
final class Ctx(val spark: SparkSession, val args: Args, val tr: Tracer,
    val sessionS: Double) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def path(name: String): String = s"${args.work}/$name"

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs that a phase of the run ended, with the time since JVM start. */
  def mark(phase: String): Unit =
    System.err.println(f"perfbench: $phase done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.length < 20) errors += msg
  }

  /** A check that is not a timed call still counts as one attempt. */
  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Runs `call` back to back, one call outstanding, until `seconds`
    * (the run's, by default) are spent and at least `minCalls` calls
    * are done, but no more than `maxCalls`. A call that throws counts
    * as failed.
    */
  def loop(minCalls: Int, maxCalls: Int = Int.MaxValue, seconds: Int = args.seconds)(
      call: Int => Unit): Unit = {
    val end = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < maxCalls && (i < minCalls || System.nanoTime() < end)) {
      tr.nextOp()
      attempted += 1
      val t = System.nanoTime()
      try call(i)
      catch { case e: Exception => fail(s"call $i: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      System.err.println(f"perfbench: call $i took ${(System.nanoTime() - t) / 1e9}%.3f s")
      i += 1
    }
  }

  /** Set-up repeated `reps` times; set-up time is the session start
    * plus the median repetition. The last repetition's result is kept.
    */
  def setup[T](reps: Int)(prepare: Int => T): T = {
    var last: Option[T] = None
    val walls = (0 until reps).map { r =>
      tr.nextOp()
      val (v, s) = timed(tr("setup.inputs")(prepare(r)))
      last = Some(v)
      s
    }
    metrics("setup_s") = sessionS + Stats.median(walls)
    info("setup_reps_s") = walls.map(w => f"$w%.3f").mkString(",")
    last.get
  }

  /** Latency, tail and throughput of a loop's calls. */
  def callMetrics(walls: Seq[Double], itemsPerCall: Double): Unit = {
    val (tail, pct, n) = Stats.tail(walls)
    metrics("call_p50_s") = Stats.median(walls)
    metrics("call_tail_s") = tail
    metrics("items_per_s") = walls.length * itemsPerCall / walls.sum
    info("call_tail") = f"p$pct%.1f of n=$n"
  }
}

object Main {
  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m.get("smoke").contains("1"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  private def workload(name: String): Ctx => Unit = name match {
    case "paper_build_search" => PaperBuildSearch.run
    case "ann_serve" => AnnServe.run
    case "gate_ingest" => GateIngest.run
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val body = workload(args.workload)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tr = new Tracer(args.trace)
    val ledger = new JobLedger
    val streams = new StreamLedger
    if (args.trace) {
      spark.sparkContext.addSparkListener(ledger)
      spark.streams.addListener(streams)
    }
    val ctx = new Ctx(spark, args, tr, sessionS)
    try body(ctx)
    catch {
      case e: Exception =>
        ctx.attempted += 1
        ctx.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    ctx.mark("workload")
    ctx.metrics("peak_heap_mb") = peakHeapMb()
    val processCpuNs = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    ctx.metrics("bench.fail_ratio") =
      if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    // stopping the context drains the listener bus, so every task's
    // metrics have arrived before spans are charged
    spark.stop()
    ctx.mark("session stop")
    if (args.trace) {
      // CPU the listeners spent on the run, as a share of the process's
      ctx.metrics("trace.overhead_frac") =
        (ledger.selfNs + streams.selfNs).toDouble / math.max(1L, processCpuNs)
      val layers = tr.layers(ledger)
      Layers.emit(ctx, layers, ledger, streams)
      Layers.printTable(args.workload, layers, args.cores)
      tr.writeJsonl(java.nio.file.Paths.get(args.out + ".spans.jsonl"))
    }
    println("PERFBENCH_RESULT " + resultJson(ctx))
    System.out.flush()
    // a lingering non-daemon thread must not keep the JVM alive
    sys.exit(0)
  }

  private def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  def resultJson(ctx: Ctx): String = {
    val ms = ctx.metrics.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")
    val info = ctx.info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
    val errs = ctx.errors.map(q).mkString(",")
    s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{$ms},"info":{$info},"errors":[$errs]}"""
  }
}
