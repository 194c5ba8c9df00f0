package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, for specs that pin job counts.
  * Jobs are matched by a job tag set on the calling thread (threads the
  * block's queries spawn, such as broadcast builds, inherit it), and the
  * listener bus is drained before the count is read. Lives under
  * `org.apache.spark` for the drain.
  */
object JobCount {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val tag = s"graftspec-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
          .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet)
          .getOrElse(Set.empty[String])
        if (tags.contains(tag)) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
