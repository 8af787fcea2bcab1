package org.apache.spark.grafttest

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the Spark jobs a block of driver code starts, by call site; a
  * job a broadcast exchange starts reads "broadcast exchange at <site>".
  * Lives in the `org.apache.spark` package only to drain the listener bus,
  * so every job-start event of the block has been delivered before the
  * record is read. */
object JobCounter {
  def jobs[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.maxBy(_.stageId).name
        val broadcast = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .exists(_.startsWith("broadcast exchange"))
        sites.add(if (broadcast) s"broadcast exchange at $site" else site)
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
