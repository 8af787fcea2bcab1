package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.kernels.{Materialize, Metrics}

/** Per-superstep metrics row (checkpoint manifest + BENCH evidence).
  * `rows` is the new state's row count, observed on its checkpoint job. */
final case class IterMetrics(iteration: Int, maxDiff: Double, rows: Long, wallMs: Long)

/** Superstep-boundary snapshots: state parquet + a JSON manifest carrying
  * iteration number, per-partition file lineage (name/bytes), row count,
  * convergence value, and wall-clock — the north rule's "resumable from
  * checkpoint with per-partition lineage + metrics".
  *
  * Layout: `<dir>/iter_NNNNNN/{state.parquet, manifest.json}`.
  * (Iceberg-shaped: the reference sandbox ships no Iceberg runtime jar, so
  * the snapshot-per-directory + manifest layout stands in for Iceberg
  * snapshots behind this one interface — SURVEY.md §7.1.)
  */
final class CheckpointManager(dir: String) {

  private def snapDir(iter: Int): String = f"$dir/iter_$iter%06d"

  def save(state: DataFrame, iter: Int, m: IterMetrics, history: Seq[IterMetrics]): Unit = {
    val d = snapDir(iter)
    state.write.mode("overwrite").parquet(s"$d/state.parquet")
    val parts = {
      val p = new java.io.File(s"$d/state.parquet")
      Option(p.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-"))
        .sortBy(_.getName)
        .map(f => s"""{"file":"${f.getName}","bytes":${f.length()}}""")
        .mkString("[", ",", "]")
    }
    // tolerance < 0 runs record maxDiff = NaN, which is not valid JSON
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val hist = history
      .map(h => s"""{"iteration":${h.iteration},"maxDiff":${num(h.maxDiff)},"rows":${h.rows},"wallMs":${h.wallMs}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"iteration":$iter,"rows":${m.rows},"maxDiff":${num(m.maxDiff)},"wallMs":${m.wallMs},
         |"partitions":$parts,"history":$hist}""".stripMargin.replace("\n", "")
    Files.createDirectories(Paths.get(d))
    Files.writeString(Paths.get(s"$d/manifest.json"), json)
    // commit marker written last: a crash mid-snapshot leaves no _SUCCESS
    Files.writeString(Paths.get(s"$d/_COMMITTED"), "ok")
  }

  /** Iterations with a committed snapshot, ascending. */
  def committed(): Seq[Int] = {
    val root = new java.io.File(dir)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("iter_") &&
        new java.io.File(f, "_COMMITTED").exists())
      .map(_.getName.stripPrefix("iter_").toInt)
      .sorted.toSeq
  }

  def load(spark: SparkSession, iter: Int): DataFrame =
    spark.read.parquet(s"${snapDir(iter)}/state.parquet")

  def latest(spark: SparkSession): Option[(Int, DataFrame)] =
    committed().lastOption.map(i => (i, load(spark, i)))
}

/** The one driver loop every iterative operator instantiates (SURVEY.md §7.1):
  * superstep -> lineage cut -> convergence scalar -> optional checkpoint.
  *
  * A superstep is one [[graft.kernels.Materialize]] job (the cut, its row
  * count observed) plus, under a tolerance, the norm1 job. Loop inputs are
  * the caller's lazy `Materialize.leaf`s, which the caller frees after the
  * loop.
  *
  * Loop contract mirrors include/grank.h:86-92: `maxDiff` starts at
  * `tolerance` so the loop always runs at least once; a NEGATIVE tolerance
  * means "never converge early" (include/grank.h:56-57) and skips the
  * norm1 job entirely.
  */
object IterativeEngine {

  final case class Result(state: DataFrame, history: Vector[IterMetrics])

  def run(
      init: DataFrame,
      superstep: (DataFrame, Int) => DataFrame,
      maxIterations: Int,
      tolerance: Double,
      checkpointEvery: Int = 0,
      checkpoint: Option[CheckpointManager] = None,
      resume: Boolean = false,
      convergenceWindow: Int = 1): Result =
    graft.kernels.IterTuning.withoutRuntimeFilters(init.sparkSession) {
      runInner(init, superstep, maxIterations, tolerance, checkpointEvery,
        checkpoint, resume, convergenceWindow)
    }

  private def runInner(
      init: DataFrame,
      superstep: (DataFrame, Int) => DataFrame,
      maxIterations: Int,
      tolerance: Double,
      checkpointEvery: Int,
      checkpoint: Option[CheckpointManager],
      resume: Boolean,
      convergenceWindow: Int): Result = {
    val spark = init.sparkSession
    var startIter = 0
    var state = init
    if (resume) {
      checkpoint.flatMap(_.latest(spark)).foreach { case (i, df) =>
        startIter = i; state = df
      }
    }
    // Materialization policy: a checkpoint cut EVERY superstep. Plans stay
    // depth 1, so per-superstep Catalyst analysis cost stays flat, and
    // Spark 4's LogicalRDD keeps the state's hash output partitioning, so
    // the next gather join plans no state-side exchange (ScheduleSpec
    // "superstep from a localCheckpoint'ed state plans with ONE exchange").
    // A persist-chain instead grows the plan every superstep (BASELINE.md
    // "Superstep cost fix: depth-1 plans").
    // init (or the resumed snapshot): materialize + truncate lineage
    // (iterative-DataFrame failure mode #1: per-iteration plan nesting
    // makes analysis cost quadratic)
    state = Materialize.cut(state)
    var history = Vector.empty[IterMetrics]
    var i = startIter
    // convergence over a window of W recent diffs, all initialized to
    // `tolerance` — the reference's two-slot maxDiff for the partitioned
    // schedule (include/grank.h:86-92): no slot may declare victory before
    // its partition has run at least once. W = 1 is the synchronous rule.
    var recent = Vector.fill(math.max(convergenceWindow, 1))(tolerance)
    var maxDiff = tolerance
    val debugTiming = sys.env.get("SPARK_GRAFT_ITER_DEBUG").contains("1")
    // measurement hook (guide §1.2 / OPTIMIZATION round evidence): when
    // SPARK_GRAFT_EXPLAIN_DIR is set, the FIRST superstep's formatted plan
    // is written to <dir>/<job description>_superstep.txt — iterative
    // operators' returned frames are checkpoint scans, so the per-superstep
    // plan is the one that carries the Exchange/join-strategy evidence.
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    while (i < maxIterations && (tolerance < 0 || recent.max >= tolerance)) {
      val t0 = System.nanoTime()
      val stepDf = superstep(state, i)
      if (i == startIter) explainDir.foreach { d =>
        val label = Option(spark.sparkContext.getLocalProperty("spark.job.description"))
          .getOrElse("iterative").replaceAll("[^A-Za-z0-9_.-]", "_")
        new java.io.File(d).mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/${label}_superstep.txt"),
          stepDf.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      val (next, observed) = Materialize(stepDf)
      val tMat = System.nanoTime()
      maxDiff = if (tolerance < 0) Double.NaN else Metrics.maxNorm1(state, next)
      if (tolerance >= 0) recent = recent.tail :+ maxDiff
      if (debugTiming)
        println(s"ITERDEBUG it=$i mat=${(tMat - t0) / 1000000}ms norm=${(System.nanoTime() - tMat) / 1000000}ms")
      val wallMs = (System.nanoTime() - t0) / 1000000
      // the previous state's checkpoint blocks are unreachable from here on;
      // free them NOW instead of waiting for the ContextCleaner (otherwise
      // |V|*L-row block sets pile up per iteration until a GC storm).
      Materialize.free(state)
      state = next
      i += 1
      val m = IterMetrics(i, maxDiff, observed.getLong(0), wallMs)
      history :+= m
      if (checkpointEvery > 0 && checkpoint.isDefined && i % checkpointEvery == 0)
        checkpoint.get.save(state, i, m, history)
    }
    Result(state, history)
  }
}
