package org.apache.spark.grafttest

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the executed physical plan of every SQL execution a block of
  * driver code starts, with the execution's description (the call site,
  * e.g. "localCheckpoint at Iterative.scala:159", when no job description
  * is set). Sits next to [[JobCounter]] for the same reason: it drains the
  * listener bus, so every start event of the block has been delivered. */
object SqlPlans {
  final case class Execution(description: String, plan: String, tree: SparkPlanInfo) {
    /** Every node of the plan tree, depth first; a cached relation's
      * node lists the plan it caches as its child. */
    def nodes: Seq[SparkPlanInfo] = {
      def walk(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(walk)
      walk(tree)
    }
  }

  def capture[T](sc: SparkContext)(body: => T): (T, Seq[Execution]) = {
    val seen = new ConcurrentLinkedQueue[Execution]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          seen.add(Execution(s.description, s.physicalPlanDescription, s.sparkPlanInfo))
        case _ =>
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
