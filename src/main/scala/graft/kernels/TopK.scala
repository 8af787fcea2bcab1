package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-seed bounded top-L selection — the load-bearing operator of the
  * reference's approximation (`keepTop`, include/internal/pprInternal.h:109-137,
  * called after every combine: include/grank.h:82,119; mccompletepathv2.h:243).
  *
  * Reference semantics preserved:
  *   - L == 0 empties the basket (test/internal/keepTopTest.cc:12-19)
  *   - L >= size is a no-op
  *   - selection is by score descending
  * Deliberate deviation: ties at the cut are broken by `node` ascending.
  * The reference's `nth_element` is tie-arbitrary (its own tests never
  * assert tie order); a distributed engine needs determinism so results
  * are invariant under parallelism (SURVEY.md §7.4.3).
  *
  * One physical shape: an exact (seed, node) sum, then a per-seed
  * `row_number` window — the single-pass, sort-based per-key top-k of
  * *Cache-Efficient Top-k Aggregation over High Cardinality Large Datasets*
  * (VLDB 2023). Pure Tungsten sort, no object-aggregation buffers; it beat
  * the Kryo map-buffer and 2L-heap aggregators it replaced (28.2 s against
  * 35.0 s and 99.4 s, BASELINE.md round 1).
  */
object TopK {

  /** Per-(seed,node) score sum. quantize > 0 switches to fixed-point
    * (order-independent, cross-engine bit-exact) summation: each input row
    * rounds onto the 1/quantize grid ([[Grid.roundLong]]), sums as exact
    * LONGs, divides back once (PprConfig.quantize). */
  def sumScore(quantize: Double): org.apache.spark.sql.Column =
    if (quantize > 0)
      (sum(Grid.roundLong(col("score") * quantize)) / quantize).as("score")
    else sum(col("score")).as("score")

  /** Prune a state relation (seed, node, score) to the top L rows per seed:
    * duplicate (seed, node) rows are summed exactly ([[sumScore]]) before
    * the cut. `strategy` is kept for source compatibility only and must be
    * "window", the one shape there is. */
  def pruneTopL(state: DataFrame, l: Int, strategy: String = "window",
      quantize: Double = 0.0): DataFrame = {
    require(strategy == "window", s"unknown top-L strategy $strategy (only window)")
    if (l <= 0) return state.limit(0)
    topKWindow(state.groupBy(col("seed"), col("node")).agg(sumScore(quantize)), l)
  }

  /** Single-exchange top-L: one explicit repartition by seed, then the
    * (seed,node) sum-aggregation AND the per-seed rank both reuse that
    * partitioning (hash(seed) satisfies ClusteredDistribution(seed,node)
    * and the window's ClusteredDistribution(seed)) — Catalyst inserts no
    * further Exchange, only a partition-local sort. This is the superstep
    * prune of the iterative engine: its output is again hash(seed)
    * partitioned, and Spark 4's localCheckpoint keeps that partitioning,
    * so the NEXT superstep's gather join needs no state-side shuffle. */
  def pruneTopLAligned(state: DataFrame, l: Int, partitions: Int,
      quantize: Double = 0.0): DataFrame = {
    if (l <= 0) return state.limit(0)
    topKWindow(
      state.repartition(partitions, col("seed"))
        .groupBy(col("seed"), col("node")).agg(sumScore(quantize)),
      l)
  }

  /** Window-based per-seed top-K (used for the final K-truncation,
    * include/grank.h:143-147 — sorts only the already-L-bounded baskets). */
  def topKWindow(state: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("seed").orderBy(col("score").desc, col("node").asc)
    state
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }
}
