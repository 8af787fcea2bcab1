package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Grid, Materialize}

/** Global PageRank (north-rule extra; the reference computes only the
  * personalized variant — this is the classic teleport-to-all limit).
  *
  * Semantics: probability-normalized PageRank with uniform teleport and
  * dangling mass redistributed uniformly, so scores always sum to 1:
  *
  *   pr'(v) = (1-d)/N + d * ( sum_{u->v} pr(u)/outdeg(u) + leak/N )
  *   leak   = sum over outdeg-0 nodes of pr(u)
  *
  * (Dangling redistribution is standard for GLOBAL PageRank; the
  * personalized operators deliberately keep the reference's mass leak —
  * see ExactPpr. The two definitions are documented side by side.)
  *
  * Convergence: L1(old, new) < tolerance, same driver loop as PPR.
  *
  * The dangling-mass scalar is folded into the superstep plan as a
  * broadcast 1-row relation: no driver round-trip per superstep, the shape
  * that survives a 1000-executor cluster. (An inlined-literal variant, one
  * `head()` per superstep, measured within this VM's noise of it:
  * BASELINE.md "The q_pagerank 2x regression explained".)
  */
object PageRank {

  def run(edges: DataFrame, vertices: DataFrame,
      iterations: Int = 100, damping: Double = 0.85,
      tolerance: Double = 1e-6, quantize: Double = 0.0): DataFrame =
    runWithMetrics(edges, vertices, iterations, damping, tolerance, quantize)
      .state.select(col("node"), col("score"))

  def runWithMetrics(edges: DataFrame, vertices: DataFrame,
      iterations: Int = 100, damping: Double = 0.85,
      tolerance: Double = 1e-6, quantize: Double = 0.0): IterativeEngine.Result =
    // forLoop scope covers the adjacency leaf too: a plan compiled under
    // AQE reports opaque output partitioning, defeating the loop's
    // co-partitioned join (IterTuning.forLoop scaladoc)
    graft.kernels.IterTuning.forLoop(edges.sparkSession) {
      runInner(edges, vertices, iterations, damping, tolerance, quantize)
    }

  private def runInner(edges: DataFrame, vertices: DataFrame,
      iterations: Int, damping: Double,
      tolerance: Double, quantize: Double): IterativeEngine.Result = {
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // the teleport base re-reads `vertices` EVERY superstep — cut the
    // |V|-row id projection to a leaf once instead of re-running the
    // vertex-closure aggregation (2 scans + 3 exchanges per superstep at
    // bench scale; plans/r07/sup_before/q_pagerank_superstep.txt) (guide
    // §2.4). The count fills it; a leaf never touches a caller's cache entry
    val verts = Materialize.leaf(vertices.select(col("id")))
    val n = verts.count()
    if (n == 0) {
      Materialize.free(verts)
      return IterativeEngine.Result(
        vertices.select(lit(0L).as("seed"), col("id").as("node"), lit(0.0).as("score")),
        Vector.empty)
    }

    // WEIGHTED variant (anchor-text / link-frequency weights on a web
    // graph): if the edge relation carries a `weight` column, the push
    // factor becomes d * w(u,v) / sum_out w(u) instead of d / outdeg(u).
    // Integer weights keep the factor a single exact-operand IEEE
    // division, so the weighted oracle replays hash-exactly too.
    val weighted = edges.columns.contains("weight")
    val pos = if (weighted) edges.where(col("weight") > 0) else edges
    val srcNorm =
      if (weighted) pos.groupBy(col("src")).agg(sum(col("weight")).as("norm"))
      else pos.groupBy(col("src")).agg(count(lit(1)).as("norm"))
    // adjacency hash-partitioned on the gather key ONCE (guide §2.4): the
    // state side keeps hash(node) partitioning across supersteps (the
    // groupBy(node) output partitioning survives Spark 4's localCheckpoint),
    // so the per-superstep gather join inserts NO exchange on either side.
    // The SHUFFLE_HASH hint on the |V|-row state makes it the hash-table
    // build side, as in Hits and GRank: the |E|-row adjacency streams, so a
    // hub's many out-edges never sit in one task's hash table, and the
    // planner cannot broadcast the adjacency (re-serialized every
    // superstep, and the side that can never broadcast at 100 TB).
    val adj = Materialize.leaf(pos.join(srcNorm, "src")
      .select(col("src"), col("dst"),
        (if (weighted) lit(damping) * col("weight") / col("norm")
         else lit(damping) / col("norm")).as("factor"))
      .repartition(shufflePartitions, col("src")))
    // dangling (no positive-outgoing-mass) vertex set, computed once — the
    // per-superstep leak aggregate only semi-joins against THIS (usually
    // small) relation instead of the full degree table
    val dangling = Materialize.leaf(verts.join(srcNorm, verts("id") === srcNorm("src"), "left_anti")
      .select(col("id")))

    val init = verts.select(lit(0L).as("seed"), col("id").as("node"),
      lit(1.0 / n).as("score"))

    // sum that (when quantize > 0) is addend-order-free and oracle-exact
    def leakSum = if (quantize > 0)
      (coalesce(sum(Grid.roundLong(col("score") * quantize)), lit(0L)) / quantize).as("leak")
    else coalesce(sum(col("score")), lit(0.0)).as("leak")

    def superstep(state: DataFrame, i: Int): DataFrame = {
      val leakAgg = state.join(dangling, state("node") === dangling("id"), "left_semi")
        .agg(leakSum)
      val base = verts.crossJoin(broadcast(leakAgg))
        .select(col("id").as("node"),
          (lit((1.0 - damping) / n) + lit(damping / n) * col("leak")).as("score"))
      val contribs = state.hint("shuffle_hash").join(adj, state("node") === adj("src"))
        .select(col("dst").as("node"), (col("score") * col("factor")).as("score"))
      base.union(contribs)
        .groupBy(col("node"))
        .agg(graft.kernels.TopK.sumScore(quantize))
        .select(lit(0L).as("seed"), col("node"), col("score"))
    }

    val res = IterativeEngine.run(init, superstep, iterations, tolerance)
    Materialize.free(adj, dangling, verts)
    res
  }
}
