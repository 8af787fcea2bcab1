package graft.kernels

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The engine's one way to materialize a step that a driver decision
  * reads: an eager `localCheckpoint` whose single job also observes the row
  * count and any aggregate `metrics`, so a fixpoint probe or normalizer
  * costs no job of its own. A plain cut calls `localCheckpoint(true)`
  * itself; a loop input is a lazy `localCheckpoint(eager = false)` leaf the
  * first job reading it fills (a `persist()`ed input would carry the
  * caller's lineage into every plan reading it). [[free]] releases all
  * three. */
object Materialize {

  /** `df` checkpointed in one job, with Row(rows, metric_1, ..., metric_n)
    * observed on that job. An aggregate over no rows reads as SQL does:
    * count 0, sum null. */
  def apply(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val names = "rows" +: metrics.indices.map(i => s"m$i")
    val cut = df.observe(obs, count(lit(1)).as("rows"),
      metrics.zip(names.tail).map { case (m, n) => m.as(n) }: _*).localCheckpoint(true)
    val got = obs.get
    (cut, Row.fromSeq(names.map(got)))
  }

  /** Drop the blocks behind checkpointed frames: the RDD of every
    * LogicalRDD leaf of their plans, which for a stats-barrier view is the
    * checkpointed RDD it re-wraps. Safe only once nothing reads the frames
    * again: checkpointed lineage cannot be recomputed. */
  def free(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ =>
    })
}
