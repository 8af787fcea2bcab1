package graft.kernels

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The engine's one way to materialize a frame. Three entry points, one
  * storage level:
  *  - [[apply]]: an eager cut whose single job also observes the row count
  *    and any aggregate `metrics`, so a fixpoint probe or normalizer costs
  *    no job of its own;
  *  - [[cut]]: an eager cut that observes nothing;
  *  - [[leaf]]: a lazy loop or one-shot input, filled by the first job that
  *    reads it (a `persist()`ed input would carry the caller's lineage into
  *    every plan reading it).
  * [[free]] releases all three.
  *
  * Every block is stored serialized, at [[Level]]. Spark's default for a
  * local checkpoint is deserialized `MEMORY_AND_DISK`, whose put unrolls
  * the rows into a `SizeTrackingVector` that re-estimates its own size with
  * `SizeEstimator` as it grows; a serialized put only counts bytes. One
  * JFR recording per level of a seed-1 `ppr_topk` run: deserialized, 25
  * of 234 executor-thread samples sat in `SizeEstimator`/`SizeTracker`;
  * serialized, none of 243 (BASELINE.md "Serialized checkpoint blocks":
  * `wall_s` −28% over 10 pairs, the same jobs, stages and shuffle bytes).
  * `DISK_ONLY` was about as fast there but would put every loop state on
  * disk at any size, where this level keeps a block in memory when it
  * fits.
  *
  * The jobs of [[cut]] and [[leaf]] are named after the engine line that
  * called them ("localCheckpoint at GRank.scala:225"), as the
  * `localCheckpoint` calls they replace were; those of [[apply]] after this
  * file, so a plan capture tells an observed step from a plain cut. */
object Materialize {

  /** The storage level of every checkpoint block the engine writes. */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** `df` checkpointed in one job, with Row(rows, metric_1, ..., metric_n)
    * observed on that job. An aggregate over no rows reads as SQL does:
    * count 0, sum null. */
  def apply(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val names = "rows" +: metrics.indices.map(i => s"m$i")
    val cut = df.observe(obs, count(lit(1)).as("rows"),
      metrics.zip(names.tail).map { case (m, n) => m.as(n) }: _*)
      .localCheckpoint(eager = true, Level)
    val got = obs.get
    (cut, Row.fromSeq(names.map(got)))
  }

  /** `df` checkpointed in one job of its own. */
  def cut(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  /** `df` as a checkpoint leaf no job has filled yet: the first job that
    * reads it stores its blocks, later plans read them. */
  def leaf(df: DataFrame): DataFrame = checkpoint(df, eager = false)

  /** `df.localCheckpoint(eager, Level)`, its jobs named after the caller. */
  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val site = Thread.currentThread.getStackTrace
      .dropWhile(f => f.getFileName != "Materialize.scala")
      .find(f => f.getFileName != "Materialize.scala")
    val prev = sc.getLocalProperty(CallSiteShort)
    site.foreach(f => sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try df.localCheckpoint(eager, Level)
    finally sc.setLocalProperty(CallSiteShort, prev)
  }

  // org.apache.spark.util.CallSite.SHORT_FORM, which is private[spark]
  private val CallSiteShort = "callSite.short"

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
