package org.apache.spark.graftspec

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block starts, for specs that pin job counts.
  * Jobs are matched by a job tag set on the calling thread (threads the
  * block's queries spawn, such as broadcast builds, inherit it), and the
  * listener bus is drained before the count is read. Lives under
  * `org.apache.spark` for the drain.
  */
object JobCount {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val (out, jobs, _) = withResultBytes(sc)(body)
    (out, jobs)
  }

  /** The block's jobs and the serialized task-result bytes their tasks
    * shipped to the driver (what `spark.driver.maxResultSize` caps). */
  def withResultBytes[A](sc: SparkContext)(body: => A): (A, Int, Long) = {
    val tag = s"graftspec-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
          .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet)
          .getOrElse(Set.empty[String])
        if (tags.contains(tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get, bytes.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
