package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Grid, Materialize}

/** Forward-push personalized PageRank (Andersen–Chung–Lang local push,
  * FOCS'06), in its SYNCHRONOUS batched form: every superstep pushes ALL
  * (seed, node) entries whose residual crosses the degree-normalized
  * threshold at once, so the result is a pure function of the input —
  * partitioning/order-invariant and hash-exact SQL-replayable — unlike the
  * classic sequential queue formulation.
  *
  * A third algorithm family next to the reference's two (power iteration —
  * include/internal/pprSingleSource.h:29-75 / include/grank.h — and
  * Monte-Carlo walks — include/mccompletepathv2.h). The reference does not
  * contain push; it is added because it is the published *scale* path for
  * per-seed PPR: work is proportional to the mass actually moved (the
  * frontier decays geometrically once residuals fall under rmax·deg), not to
  * |V|·iterations, so a 100-TB batch of seeds costs per-seed O(1/rmax)
  * pushes rather than whole-graph supersteps.
  *
  * State is (seed, node, score, residual):
  *  - init:   {(s, s): score 0, residual 1} per seed
  *  - push(u) fires when residual > 0 AND residual ≥ rmax · outdeg(u)
  *            (dangling u: threshold 0 — it always converts, and the
  *            damping share of its residual LEAKS, matching the reference's
  *            deliberate dangling-mass leak, pprSingleSourceTest.cc:44-54)
  *  - fired:  score += (1−d)·residual; each successor w gains residual
  *            d·residual/outdeg(u) (the same adj `factor` as ExactPpr);
  *            the fired entry's residual resets to 0
  *  - fixed point (all residuals below threshold) = the SAME vector power
  *    iteration converges to: p = (1−d)·e_s + d·Pᵀp.
  *
  * Execution shape per superstep (the 100-TB plan): one left join of the
  * state against the |V|-row degree table on `node` (at cluster scale:
  * bucket both by node — a storage-partitioned join; locally it broadcasts
  * when small), one join of the fired subset against the src-partitioned
  * adjacency, one re-aggregation exchange on (seed, node). With
  * quantize > 0 the fixed-point grid also acts as residual pruning: pushed
  * slivers that round to 0 are dropped, bounding state growth.
  */
object PushPpr {

  def run(
      edges: DataFrame,
      seeds: DataFrame, // (id LONG)
      rmax: Double,
      iterations: Int = 100,
      damping: Double = 0.85,
      tolerance: Double = -1,
      quantize: Double = 0.0): IterativeEngine.Result =
    graft.kernels.IterTuning.withoutRuntimeFilters(edges.sparkSession) {
      runInner(edges, seeds, rmax, iterations, damping, tolerance, quantize)
    }

  private def runInner(
      edges: DataFrame,
      seeds: DataFrame,
      rmax: Double,
      iterations: Int,
      damping: Double,
      tolerance: Double,
      quantize: Double): IterativeEngine.Result = {
    require(rmax > 0, "rmax must be > 0")
    require(iterations > 0, "iterations must be > 0")
    require(damping >= 0 && damping <= 1, "damping must be between 0 and 1")
    // with damping = 1 a fired push converts NOTHING into score ((1-d) = 0),
    // so the engine's score-only L1 norm reads 0 while residual mass still
    // circulates — any tolerance >= 0 would exit after one superstep
    // (ADVICE r4). Fixed-iteration runs (tolerance < 0) remain legal.
    require(tolerance < 0 || damping < 1,
      "tolerance-driven convergence requires damping < 1 (score-only norm is blind to residuals)")

    // weight contract (same as ExactPpr/PageRank/GRank): a `weight` edge
    // column switches the push factor to d*w(u,v)/sum_out w(u). The FIRE
    // threshold stays count-based (residual >= rmax * outdeg(u)): a firing's
    // work is one adjacency row per out-EDGE regardless of how the mass
    // splits across them, so the work bound — pushes proportional to moved
    // mass — is unchanged; only the converged fixpoint becomes the weighted
    // PPR vector.
    val weighted = edges.columns.contains("weight")
    val pos = if (weighted) edges.where(col("weight") > 0) else edges

    // loop-invariant sides pre-partitioned on their join keys once, as
    // leaves the first superstep fills: the per-superstep joins then
    // re-shuffle only the (smaller) state side
    val outdeg = pos.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adjBase =
      if (weighted) {
        val srcNorm = pos.groupBy(col("src")).agg(sum(col("weight")).as("norm"))
        pos.join(srcNorm, "src")
          .select(col("src"), col("dst"), (lit(damping) * col("weight") / col("norm")).as("factor"))
      } else
        pos.join(outdeg, "src")
          .select(col("src"), col("dst"), (lit(damping) / col("deg")).as("factor"))
    val adj = Materialize.leaf(adjBase.repartition(col("src")))
    val degs = Materialize.leaf(outdeg.select(col("src").as("node"), col("deg"))
      .repartition(col("node")))

    def qsum(c: String) =
      if (quantize > 0) (sum(Grid.roundLong(col(c) * quantize)) / quantize).as(c)
      else sum(col(c)).as(c)

    val init = seeds.select(col("id").as("seed"), col("id").as("node"),
      lit(0.0).as("score"), lit(1.0).as("residual"))

    def superstep(state: DataFrame, i: Int): DataFrame = {
      val st = state.join(degs, Seq("node"), "left")
        .select(col("seed"), col("node"), col("score"), col("residual"),
          coalesce(col("deg"), lit(0L)).as("deg"))
      val fires = col("residual") > 0 && col("residual") >= lit(rmax) * col("deg")
      val kept = st.select(col("seed"), col("node"),
        when(fires, col("score") + lit(1.0 - damping) * col("residual"))
          .otherwise(col("score")).as("score"),
        when(fires, lit(0.0)).otherwise(col("residual")).as("residual"))
      val fired = st.where(fires)
      val pushes = fired.join(adj, fired("node") === adj("src"))
        .select(col("seed"), col("dst").as("node"),
          lit(0.0).as("score"), (col("residual") * col("factor")).as("residual"))
      kept.union(pushes)
        .groupBy(col("seed"), col("node"))
        .agg(qsum("score"), qsum("residual"))
        .where(col("score") =!= 0 || col("residual") =!= 0)
    }

    val res = IterativeEngine.run(init, superstep, iterations, tolerance)
    Materialize.free(adj, degs)
    res
  }
}
