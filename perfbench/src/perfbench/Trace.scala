package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One timed region of the benchmark's own code around a call into a
  * layer. `op` is the timed operation (set-up step or loop call) it
  * belongs to; `parent` is 0 for a top-level span.
  */
final case class Span(
    id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task metrics of one Spark job, summed over its tasks. */
final class JobCost {
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRecords = 0L
  var input, output, spill, failedTasks = 0L
}

/** Records every job's start time and sums its tasks' metrics. Spans
  * are matched to jobs afterwards, once the listener bus has drained.
  */
final class JobLedger extends SparkListener {
  val jobStart = mutable.LinkedHashMap.empty[Int, Long]
  /** Streaming query id of jobs a stream's micro-batch ran. */
  val jobQuery = mutable.Map.empty[Int, String]
  val cost = mutable.Map.empty[Int, JobCost]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** Time spent in this listener's callbacks. */
  var selfNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = System.nanoTime()
    jobStart(e.jobId) = e.time
    cost(e.jobId) = new JobCost
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .foreach(q => jobQuery(e.jobId) = q)
    selfNs += System.nanoTime() - t
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = System.nanoTime()
    stageJob.get(e.stageId).foreach { j =>
      val c = cost(j)
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
      }
    }
    selfNs += System.nanoTime() - t
  }
}

/** Sums each streaming query's addBatch and triggerExecution times. */
final class StreamLedger extends StreamingQueryListener {
  val addBatchMs = mutable.Map.empty[java.util.UUID, Long].withDefaultValue(0L)
  val triggerMs = mutable.Map.empty[java.util.UUID, Long].withDefaultValue(0L)
  var selfNs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val t = System.nanoTime()
      val p = e.progress
      val d = p.durationMs
      def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      addBatchMs(p.id) += get("addBatch")
      triggerMs(p.id) += get("triggerExecution")
      selfNs += System.nanoTime() - t
    }
}

/** Per-span counter set C, summed over a span name's occurrences. */
final case class LayerCost(
    n: Int, walls: Seq[Double], selfS: Double, cpuS: Double, gcS: Double,
    shuffleMb: Double, shuffleRecords: Long, inputMb: Double, outputMb: Double,
    spillMb: Double, jobs: Int, runS: Double) {
  def medianWall: Double = Stats.median(walls)
  def perOp(x: Double): Double = if (n == 0) 0.0 else x / n
  def idleFrac(cores: Int): Double =
    if (selfS <= 0) 0.0 else math.max(0.0, math.min(1.0, 1.0 - runS / (selfS * cores)))
}

/** Spans kept in memory while the run lasts. With tracing off every
  * call runs bare and nothing is recorded.
  */
final class Tracer(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long, Long)]
  private var nextId = 1
  private var op = 0
  /** Streaming query id of each span recorded with [[record]]. */
  private val streamSpan = mutable.Map.empty[Int, String]

  /** Starts a new timed operation; later spans belong to it. */
  def nextOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.currentTimeMillis(), System.nanoTime()) :: open
      try body
      finally {
        val (_, _, sMs, sNs) = open.head
        open = open.tail
        done += Span(id, name, parent, op, sMs, System.currentTimeMillis(),
          sNs, System.nanoTime())
      }
    }

  /** Records a span timed by the caller, for work that runs on
    * another thread (a streaming query) while the client waits.
    * `query` names the streaming query whose jobs it owns.
    */
  def record(name: String, query: String, startMs: Long, endMs: Long,
      startNs: Long, endNs: Long): Unit =
    if (on) {
      val parent = open.headOption.map(_._1).getOrElse(0)
      done += Span(nextId, name, parent, op, startMs, endMs, startNs, endNs)
      streamSpan(nextId) = query
      nextId += 1
    }

  /** Charges each job to the innermost span open at its start time:
    * among spans whose interval holds the start, the latest-opened.
    * A streaming query's jobs go to that query's spans only.
    */
  def attribute(ledger: JobLedger): Map[Int, Seq[JobCost]] = {
    val byStart = done.sortBy(s => (s.startMs, s.id)).toArray
    ledger.synchronized {
      ledger.jobStart.toSeq.flatMap { case (job, t) =>
        val q = ledger.jobQuery.get(job)
        val holder = byStart.reverseIterator.find { s =>
          s.startMs <= t && t <= s.endMs &&
            (q.isEmpty || streamSpan.get(s.id).forall(q.contains))
        }
        holder.map(s => s.id -> ledger.cost(job))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
  }

  def layers(ledger: JobLedger): Map[String, LayerCost] = {
    val charged = attribute(ledger)
    val childWall = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    done.groupBy(_.name).map { case (name, ss) =>
      val jobs = ss.flatMap(s => charged.getOrElse(s.id, Nil))
      val mb = 1024.0 * 1024.0
      name -> LayerCost(
        n = ss.length,
        walls = ss.map(_.wallS).toSeq,
        selfS = ss.map(s => s.wallS - childWall.getOrElse(s.id, 0.0)).sum,
        cpuS = jobs.map(_.cpuNs).sum / 1e9,
        gcS = jobs.map(_.gcMs).sum / 1e3,
        shuffleMb = jobs.map(_.shuffleWrite).sum / mb,
        shuffleRecords = jobs.map(_.shuffleRecords).sum,
        inputMb = jobs.map(_.input).sum / mb,
        outputMb = jobs.map(_.output).sum / mb,
        spillMb = jobs.map(_.spill).sum / mb,
        jobs = jobs.length,
        runS = jobs.map(_.runMs).sum / 1e3)
    }
  }

  /** Share of all task CPU that landed in some span. */
  def coverage(ledger: JobLedger): Double = {
    val total = ledger.synchronized(ledger.cost.values.map(_.cpuNs).sum)
    val inSpans = attribute(ledger).values.flatten.map(_.cpuNs).sum
    if (total == 0L) 1.0 else inSpans.toDouble / total
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
  }
}
