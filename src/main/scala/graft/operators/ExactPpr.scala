package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Materialize

/** Exact single-source personalized PageRank power iteration — the
  * correctness oracle (include/internal/pprSingleSource.h:29-75), batched
  * over many seeds at once (seed is just another grouping column).
  *
  * Semantics preserved exactly:
  *  - init: scores = {source: 1.0}                      (:46)
  *  - each iteration: next = {source: 1-d}              (:53-54)
  *    plus, for every (node,score), push score*d/outdeg(node) to each
  *    successor                                          (:57-65)
  *  - stop when L1(old,new) < tolerance or max iterations (:48-49,69)
  *  - DANGLING MASS LEAKS: a node with no successors pushes nothing; its
  *    mass is NOT redistributed (deliberate; test/internal/
  *    pprSingleSourceTest.cc:44-54 — an isolated node keeps {v: 0.15}).
  */
object ExactPpr {

  def run(
      edges: DataFrame,
      seeds: DataFrame, // (id LONG)
      iterations: Int = 100,
      damping: Double = 0.85,
      tolerance: Double = 1e-4,
      quantize: Double = 0.0): DataFrame = graft.kernels.IterTuning.withoutRuntimeFilters(edges.sparkSession) {
    require(iterations > 0, "iterations must be > 0")
    require(damping >= 0 && damping <= 1, "damping must be between 0 and 1")

    val adj = Materialize.leaf(adjacency(edges, damping))

    val init = seeds.select(col("id").as("seed"), col("id").as("node"), lit(1.0).as("score"))
    val teleport = Materialize.leaf(seeds
      .select(col("id").as("seed"), col("id").as("node"), lit(1.0 - damping).as("score")))

    def superstep(state: DataFrame, i: Int): DataFrame =
      state.join(adj, state("node") === adj("src"))
        .select(col("seed"), col("dst").as("node"), (col("score") * col("factor")).as("score"))
        .union(teleport)
        .groupBy(col("seed"), col("node"))
        .agg(graft.kernels.TopK.sumScore(quantize))

    val res = IterativeEngine.run(init, superstep, iterations, tolerance)
    Materialize.free(adj, teleport)
    res.state
  }

  /** Single seed convenience (the reference's actual signature). */
  def single(edges: DataFrame, vertices: DataFrame, source: Long,
      iterations: Int = 100, damping: Double = 0.85, tolerance: Double = 1e-4): DataFrame =
    run(edges, vertices.where(col("id") === source), iterations, damping, tolerance)

  /** Teleport-VECTOR personalized PageRank — TrustRank (Gyöngyi,
    * Garcia-Molina & Pedersen, "Combating web spam with TrustRank", 2004)
    * and any other biased-restart ranking: the restart distribution is a
    * relation (id, mass) instead of one seed per row, and ONE ranking
    * vector comes back as (node, score). Same loop, same push factor, same
    * preserved dangling leak as the single-source engine; by linearity the
    * result equals Σ_t mass(t) · ppr_t, but runs as one iteration instead
    * of |T| — the 100-TB shape when the trusted set is large. */
  def runVector(
      edges: DataFrame,
      teleport: DataFrame, // (id LONG, mass DOUBLE)
      iterations: Int = 100,
      damping: Double = 0.85,
      tolerance: Double = 1e-4,
      quantize: Double = 0.0): DataFrame = graft.kernels.IterTuning.withoutRuntimeFilters(edges.sparkSession) {
    require(iterations > 0, "iterations must be > 0")
    require(damping >= 0 && damping <= 1, "damping must be between 0 and 1")
    val adj = Materialize.leaf(adjacency(edges, damping))
    val init = teleport.select(lit(0L).as("seed"), col("id").as("node"),
      col("mass").as("score"))
    val tele = Materialize.leaf(teleport.select(lit(0L).as("seed"), col("id").as("node"),
      (lit(1.0 - damping) * col("mass")).as("score")))
    def superstep(state: DataFrame, i: Int): DataFrame =
      state.join(adj, state("node") === adj("src"))
        .select(col("seed"), col("dst").as("node"), (col("score") * col("factor")).as("score"))
        .union(tele)
        .groupBy(col("seed"), col("node"))
        .agg(graft.kernels.TopK.sumScore(quantize))
    val res = IterativeEngine.run(init, superstep, iterations, tolerance)
    Materialize.free(adj, tele)
    res.state.select(col("node"), col("score"))
  }

  /** Push-factor adjacency shared by the seed-per-row and teleport-vector
    * entry points. A `weight` edge column switches the factor to
    * d*w(u,v)/sum_out w(u) (the engine-wide weighting contract; integer
    * weights keep it a single exact-operand IEEE division for hash-exact
    * oracle replay). */
  private def adjacency(edges: DataFrame, damping: Double): DataFrame = {
    val weighted = edges.columns.contains("weight")
    val pos = if (weighted) edges.where(col("weight") > 0) else edges
    val srcNorm =
      if (weighted) pos.groupBy(col("src")).agg(sum(col("weight")).as("norm"))
      else pos.groupBy(col("src")).agg(count(lit(1)).as("norm"))
    pos.join(srcNorm, "src")
      .select(col("src"), col("dst"),
        (if (weighted) lit(damping) * col("weight") / col("norm")
         else lit(damping) / col("norm")).as("factor"))
  }
}
