package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.kernels.{Materialize, Metrics}
import graft.sources.EdgeSource

/** benchmarkAlgorithm — quality evaluation of an approximated PPR result
  * against the exact oracle (include/benchmarkAlgorithm.h:52-153).
  *
  * Steps (B1-B7, SURVEY.md §2.6):
  *  - every approx seed must exist in the graph (:65-69)
  *  - sample `testNodes` seeds from the approx result; `strict` skips
  *    outdegree-0 nodes (:71-77); sampling is seeded here (the reference
  *    shuffles with std::random_device, :60-61,79 — deterministic seeding is
  *    the documented deviation)
  *  - exact oracle per sampled seed: pprSingleSource(100, 0.85, 1e-4) (:91)
  *  - oracle truncated to the approx basket's size per seed (:93-95), the
  *    untruncated copy kept for Kendall score lookup (:93, :123 — missing
  *    oracle score = 0.0)
  *  - Jaccard over the two top sets (:99-110), Kendall tau-b over paired
  *    scores of the approx top keys (:112-128)
  *  - aggregate: jaccard/kendall average + min, average approx basket size;
  *    all metrics -1.0 when zero nodes were sampled (:133-151)
  *
  * Returns DataFrame(metric STRING, value DOUBLE) with the reference's exact
  * metric names (benchmarkAlgorithm.h:138-151).
  */
object Quality {

  /** The seeded sample of test seeds (B2) for a given approx result —
    * public so callers evaluating SEVERAL algorithms over the same graph
    * (EatRun: grank + mc) can precompute ONE exact oracle for the shared
    * sample instead of re-running it per algorithm. */
  def sampleSeeds(
      approx: DataFrame,
      edges: DataFrame,
      vertices: DataFrame,
      testNodes: Int,
      strict: Boolean = true,
      sampleSeed: Long = 42L): DataFrame =
    sample(approx, edges, vertices, testNodes, strict, sampleSeed)._1

  /** [[sampleSeeds]] and its row count, observed on the checkpoint job
    * that materializes the sample. */
  private def sample(approx: DataFrame, edges: DataFrame, vertices: DataFrame,
      testNodes: Int, strict: Boolean, sampleSeed: Long): (DataFrame, Long) = {
    val approxSeeds = approx.select(col("seed")).distinct()
    val missing = approxSeeds.join(vertices, approxSeeds("seed") === vertices("id"), "left_anti").count()
    require(missing == 0, "all seeds of the approximated result must exist in the graph")

    val outdeg = EdgeSource.outDegrees(edges, vertices)
    val candidates =
      if (strict)
        approxSeeds.join(outdeg.where(col("outdeg") > 0), approxSeeds("seed") === outdeg("id"), "left_semi")
      else approxSeeds
    // seeded shuffle via the SQL-replayable mixer (deviation from the
    // reference's random_device shuffle — documented, B2)
    val (sampled, m) = Materialize(candidates
      .orderBy(graft.kernels.Mix.mix31(col("seed"), lit(0L), lit(0L),
        sampleSeed * 7919L + 424243L), col("seed"))
      .limit(testNodes))
    (sampled, m.getLong(0))
  }

  /** @param oracleIterations / oracleTolerance / quantize: the reference
    *   hardcodes the oracle at (100, 1e-4) (benchmarkAlgorithm.h:32,:91) —
    *   the defaults. Driver-verification runs pass a fixed iteration count
    *   (tolerance = -1) and quantize = 1e12 so the DuckDB oracle
    *   (OracleSql.qualityHarness) can reproduce the run hash-exactly.
    * @param precomputedOracle exact-PPR result covering this run's sampled
    *   seeds — lets N evaluate() calls share one oracle job. Extra seeds are
    *   filtered out; seeds it does NOT cover get their oracle computed here
    *   (with this call's oracleIterations/oracleTolerance/quantize) instead
    *   of aborting — failing after the caller's expensive approximation
    *   phase would waste it (ADVICE r3). CONTRACT: the precomputed frame
    *   must itself have been built with the same oracle parameters as this
    *   call's — parameter equality cannot be checked from the frame, so a
    *   mismatched oracle silently skews the metrics. */
  def evaluate(
      approx: DataFrame, // (seed, node, score)
      edges: DataFrame,
      vertices: DataFrame,
      testNodes: Int,
      strict: Boolean = true,
      sampleSeed: Long = 42L,
      oracleIterations: Int = 100,
      oracleTolerance: Double = 1e-4,
      quantize: Double = 0.0,
      precomputedOracle: Option[DataFrame] = None): DataFrame = {
    require(testNodes > 0, "testNodes must be > 0")
    val spark = approx.sparkSession
    import spark.implicits._

    val (sampled, nSampled) = sample(approx, edges, vertices, testNodes, strict, sampleSeed)

    if (nSampled == 0) {
      return Seq(
        ("jaccard average", -1.0), ("jaccard min", -1.0),
        ("kendall average", -1.0), ("kendall min", -1.0),
        ("average map size", -1.0))
        .toDF("metric", "value")
    }

    val approxS = approx.join(sampled, Seq("seed"), "left_semi").localCheckpoint(true)
    def computeOracle(seeds: DataFrame): DataFrame =
      ExactPpr.run(edges, seeds.select(col("seed").as("id")),
        iterations = oracleIterations, damping = 0.85,
        tolerance = oracleTolerance, quantize = quantize) // reference: 100/0.85/1e-4 (:32,:91)
    val oracle = precomputedOracle match {
      case Some(pre) =>
        val (uncoveredSeeds, u) = Materialize(sampled.join(pre.select(col("seed")).distinct(),
          Seq("seed"), "left_anti"))
        val covered = pre.join(sampled, Seq("seed"), "left_semi")
        val nUncovered = u.getLong(0)
        if (nUncovered == 0) covered
        else {
          // surfaced loudly: covered seeds keep the precomputed frame's
          // (uncheckable) oracle parameters while these get THIS call's —
          // a silent mix would skew the metrics invisibly (ADVICE r4)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Quality.evaluate: precomputed oracle misses $nUncovered of $nSampled sampled seeds; " +
              s"computing their oracle with this call's parameters " +
              s"(iterations=$oracleIterations, tolerance=$oracleTolerance, quantize=$quantize) — " +
              "ensure the precomputed frame used the same ones")
          covered.select(col("seed"), col("node"), col("score"))
            .union(computeOracle(uncoveredSeeds).select(col("seed"), col("node"), col("score")))
        }
      case None => computeOracle(sampled)
    }

    // per-seed approx basket size, and oracle truncated to that size (:93-95)
    val sizes = approxS.groupBy("seed").agg(count(lit(1)).as("bsize"))
    val w = Window.partitionBy("seed").orderBy(col("score").desc, col("node").asc)
    val oracleTop = oracle.join(sizes, Seq("seed"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("bsize"))
      .select(col("seed"), col("node"), col("score"))

    val jac = Metrics.jaccardPerSeed(
      approxS.select("seed", "node"), oracleTop.select("seed", "node"))

    // Kendall over the approx top keys: x = approx score, y = full oracle
    // score with 0.0 default for keys the oracle never scored (:123)
    val pairs = approxS.select(col("seed"), col("node"), col("score").as("x"))
      .join(oracle.select(col("seed"), col("node"), col("score").as("y")),
        Seq("seed", "node"), "left")
      .select(col("seed"), col("x"), coalesce(col("y"), lit(0.0)).as("y"))
    val ken = Metrics.kendallPerSeed(pairs)

    // single driver action: jaccard/kendall aggregates AND the average
    // basket size fold into ONE agg row (sizes covers exactly the sampled
    // seeds, as do jac/ken — the joins below are key-complete)
    val jk = jac.join(ken, Seq("seed"), "full_outer").join(sizes, Seq("seed"), "full_outer")
    val aggRow = jk.agg(
      avg("jaccard").as("ja"), min("jaccard").as("jm"),
      avg("kendall").as("ka"), min("kendall").as("km"),
      avg(col("bsize").cast("double")).as("asize")).head()

    Seq(
      ("jaccard average", aggRow.getDouble(0)), ("jaccard min", aggRow.getDouble(1)),
      ("kendall average", aggRow.getDouble(2)), ("kendall min", aggRow.getDouble(3)),
      ("average map size", aggRow.getDouble(4)))
      .toDF("metric", "value")
  }
}
