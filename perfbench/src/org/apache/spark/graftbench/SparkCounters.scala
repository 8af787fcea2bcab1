package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark execution counters of one span. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var exchanges = 0L // completed shuffle-map stages
  var tasks = 0L
  var failedTasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  /** executor run time of each finished task, per stage */
  val taskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the most executor time */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2)
      if (med <= 0) 0.0 else ts.last.toDouble / med
    }

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; exchanges += o.exchanges
    tasks += o.tasks; failedTasks += o.failedTasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; shuffleReadRecords += o.shuffleReadRecords
    spillBytes += o.spillBytes; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    o.taskMs.foreach { case (s, ts) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }
}

/** Spark execution counters keyed by the span that was open when each job
  * started. A span is a job group (`SparkContext.setJobGroup`), so jobs
  * started from broadcast threads inherit it with the other local
  * properties. Lives in the `org.apache.spark` package only to reach the
  * listener bus drain and `StageInfo.shuffleDepId`. */
final class SparkCounters extends SparkListener {

  private val bySpan = mutable.LinkedHashMap.empty[String, SparkCounts]
  private val stageSpan = mutable.HashMap.empty[Int, String]

  private def counts(span: String): SparkCounts = bySpan.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .getOrElse("(none)")
    counts(span).jobs += 1
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { span =>
      val c = counts(span)
      c.stages += 1
      if (e.stageInfo.shuffleDepId.isDefined) c.exchanges += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counts(span)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Waits until every event posted so far has been handled, then returns
    * the counters of `span` (empty counters if it started no job). */
  def of(sc: SparkContext, span: String): SparkCounts = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      val out = new SparkCounts
      bySpan.get(span).foreach(out.add)
      out
    }
  }

  /** Drops everything recorded so far. */
  def reset(sc: SparkContext): Unit = {
    sc.listenerBus.waitUntilEmpty()
    synchronized { bySpan.clear(); stageSpan.clear() }
  }
}
