package graft.kernels

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.NodeScore

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
  * Two physical strategies (SURVEY.md §4):
  *   - [[SumTopL]]: one shuffle — groupBy(seed) with a map buffer that sums
  *     duplicate nodes exactly and cuts to L only in `finish`. Fastest at
  *     moderate per-seed fan-in; buffer size is bounded by the number of
  *     distinct contributing nodes per seed.
  *   - [[BoundedTopL]]: requires input pre-summed per (seed,node); keeps at
  *     most 2L entries in the buffer at all times, so map-side partial
  *     aggregation ships <= L rows per seed per partition. This is the
  *     scale path for hub seeds (in-degree >> L).
  */
object TopK {

  /** score desc, node asc — deterministic total order. */
  val ord: Ordering[NodeScore] = new Ordering[NodeScore] {
    def compare(a: NodeScore, b: NodeScore): Int = {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else java.lang.Long.compare(a.node, b.node)
    }
  }

  /** Local reference-law cut: top L by (score desc, node asc). */
  def cut(entries: Seq[NodeScore], l: Int): Array[NodeScore] = {
    if (l <= 0) Array.empty
    else if (entries.size <= l) entries.sorted(ord).toArray
    else entries.sorted(ord).take(l).toArray
  }

  /** Fused sum + top-L. Input rows may contain duplicate nodes per seed;
    * duplicates are summed exactly before the cut (matching `+=` at
    * include/grank.h:115 followed by keepTop at :119). */
  final class SumTopL(l: Int)
      extends Aggregator[NodeScore, mutable.HashMap[Long, Double], Array[NodeScore]] {
    def zero: mutable.HashMap[Long, Double] = new mutable.HashMap
    def reduce(b: mutable.HashMap[Long, Double], a: NodeScore): mutable.HashMap[Long, Double] = {
      b.update(a.node, b.getOrElse(a.node, 0.0) + a.score); b
    }
    def merge(b1: mutable.HashMap[Long, Double], b2: mutable.HashMap[Long, Double]): mutable.HashMap[Long, Double] = {
      val (big, small) = if (b1.size >= b2.size) (b1, b2) else (b2, b1)
      small.foreach { case (k, v) => big.update(k, big.getOrElse(k, 0.0) + v) }
      big
    }
    def finish(b: mutable.HashMap[Long, Double]): Array[NodeScore] =
      cut(b.iterator.map { case (k, v) => NodeScore(k, v) }.toSeq, l)
    def bufferEncoder: Encoder[mutable.HashMap[Long, Double]] =
      Encoders.kryo[mutable.HashMap[Long, Double]]
    def outputEncoder: Encoder[Array[NodeScore]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[NodeScore]]()
  }

  /** Bounded-heap top-L over pre-summed (seed,node) scores. Buffer never
    * exceeds 2L entries (amortized `nth_element`-style compaction, mirroring
    * pprInternal.h:117-119's partial selection). */
  final class BoundedTopL(l: Int)
      extends Aggregator[NodeScore, mutable.ArrayBuffer[NodeScore], Array[NodeScore]] {
    private def compact(b: mutable.ArrayBuffer[NodeScore]): mutable.ArrayBuffer[NodeScore] = {
      if (b.size > 2 * math.max(l, 1)) {
        val kept = cut(b.toSeq, l)
        b.clear(); b ++= kept
      }
      b
    }
    def zero: mutable.ArrayBuffer[NodeScore] = new mutable.ArrayBuffer
    def reduce(b: mutable.ArrayBuffer[NodeScore], a: NodeScore): mutable.ArrayBuffer[NodeScore] =
      compact(b += a)
    def merge(b1: mutable.ArrayBuffer[NodeScore], b2: mutable.ArrayBuffer[NodeScore]): mutable.ArrayBuffer[NodeScore] =
      compact(b1 ++= b2)
    def finish(b: mutable.ArrayBuffer[NodeScore]): Array[NodeScore] = cut(b.toSeq, l)
    def bufferEncoder: Encoder[mutable.ArrayBuffer[NodeScore]] =
      Encoders.kryo[mutable.ArrayBuffer[NodeScore]]
    def outputEncoder: Encoder[Array[NodeScore]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[NodeScore]]()
  }

  /** Prune a state relation (seed, node, score) to the top L rows per seed.
    *
    * "fused"  : one shuffle (SumTopL sums duplicate nodes and cuts in finish).
    * "bounded": exact hash-agg by (seed,node), then BoundedTopL by seed.
    * "window" : exact hash-agg by (seed,node), then row_number window —
    *            pure Tungsten sort, no object-aggregation buffers.
    */
  /** Per-(seed,node) score sum. quantize > 0 switches to fixed-point
    * (order-independent, cross-engine bit-exact) summation: each input row
    * rounds onto the 1/quantize grid ([[Grid.roundLong]]), sums as exact
    * LONGs, divides back once (PprConfig.quantize). */
  def sumScore(quantize: Double): org.apache.spark.sql.Column =
    if (quantize > 0)
      (sum(Grid.roundLong(col("score") * quantize)) / quantize).as("score")
    else sum(col("score")).as("score")

  def pruneTopL(state: DataFrame, l: Int, strategy: String = "fused",
      quantize: Double = 0.0): DataFrame = {
    if (l <= 0) return state.limit(0)
    if (strategy == "window")
      return topKWindow(
        state.groupBy(col("seed"), col("node")).agg(sumScore(quantize)), l)
    val fused = strategy == "fused"
    val agg =
      if (fused) udaf(new SumTopL(l), Encoders.product[NodeScore])
      else udaf(new BoundedTopL(l), Encoders.product[NodeScore])
    val base =
      if (fused) state
      else state.groupBy(col("seed"), col("node"))
        .agg(sum(col("score")).as("score"))
    base
      .groupBy(col("seed"))
      .agg(agg(col("node"), col("score")).as("basket"))
      .select(col("seed"), explode(col("basket")).as("e"))
      .select(col("seed"), col("e.node").as("node"), col("e.score").as("score"))
  }

  /** Single-exchange top-L: one explicit repartition by seed, then the
    * (seed,node) sum-aggregation AND the per-seed rank both reuse that
    * partitioning (hash(seed) satisfies ClusteredDistribution(seed,node)
    * and the window's ClusteredDistribution(seed)) — Catalyst inserts no
    * further Exchange, only a partition-local sort. This is the superstep
    * prune of the iterative engine: its output is again hash(seed)
    * partitioned, so the NEXT superstep's gather join needs no state-side
    * shuffle either (as long as lineage is persisted, not checkpointed). */
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
