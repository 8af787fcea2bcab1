package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Materialize

/** k-core decomposition (coreness per vertex) via the synchronous h-index
  * iteration (Lü et al., "The H-index of a network node and its relation to
  * degree and coreness", Nat. Commun. 2016): every vertex starts at its
  * undirected degree and repeatedly replaces its value with the h-index of
  * its neighbors' values; the (monotonically non-increasing) fixpoint is
  * exactly the coreness. No reference analog — added to round out the
  * link-graph family (PageRank / CC / LP / triangles / 2-coloring need a
  * density peel next to them for web-graph spam/quality analysis).
  *
  * Chosen over sequential peeling BECAUSE of the 100-TB shape: peeling is an
  * inherently sequential frontier (remove min-degree vertices, recompute),
  * while the h-index step is one gather per round — join the undirected
  * closure with the current estimates on the neighbor key, then the h-index
  * per vertex. The h-index is computed over the per-vertex VALUE HISTOGRAM,
  * not a per-vertex sort of all neighbor estimates: gathered estimates are
  * first hash-aggregated to (v, e, count) — map-side combinable, so a
  * 10^7-in-degree hub ships at most |distinct estimate values| rows per
  * partition instead of 10^7 rows into one window sorter — and the h-index
  * falls out of the cumulative count over the (small, integer-valued)
  * distinct estimates: h = max over distinct e of min(#neighbors with
  * estimate >= e, e), identical to the rank formulation because within a
  * tie group the best rank is the group's cumulative count. All integer
  * arithmetic (hash-exact replay without any quantization grid);
  * convergence is data-dependent but fast on web-like graphs
  * (degeneracy-ordered chains are the slow case).
  *
  * State is (seed = 0, node, score = current estimate) so the shared
  * IterativeEngine drives tolerance/checkpoint/lineage exactly like the PPR
  * loops — maxNorm1 over the constant seed is sum |Δestimate|, which hits 0
  * at the fixpoint.
  */
object KCore {

  /** Coreness per vertex: (id LONG, coreness INT). `rounds` unrolled
    * h-index supersteps (tolerance 0.5 stops at the integer fixpoint when
    * it arrives earlier; negative tolerance forces all rounds for oracle
    * replay). Self-loops are dropped; `vertices` supplies isolated ids
    * (coreness 0). */
  def coreness(edges: DataFrame, vertices: DataFrame, rounds: Int,
      tolerance: Double = 0.5): DataFrame =
    graft.kernels.IterTuning.forLoop(edges.sparkSession) {
      corenessInner(edges, vertices, rounds, tolerance)
    }

  private def corenessInner(edges: DataFrame, vertices: DataFrame, rounds: Int,
      tolerance: Double): DataFrame = {
    require(rounds > 0, "rounds must be > 0")
    // loop-invariant: pre-partition on the join key (dst) once, so the
    // per-round gather join re-shuffles only the state side, not 2|E| rows
    val und = Materialize.leaf(edges.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(edges.where(col("src") =!= col("dst")).select(col("dst"), col("src")))
      .distinct()
      .repartition(col("dst")))

    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val init = vertices.join(deg, vertices("id") === deg("src"), "left")
      .select(lit(0L).as("seed"), col("id").as("node"),
        coalesce(col("deg"), lit(0L)).cast("double").as("score"))

    def superstep(state: DataFrame, i: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // gather neighbor estimates; vertices absent from `und` (isolated)
      // have no rows here and keep 0 via the left join below
      val gathered = und.join(state, und("dst") === state("node"))
        .select(und("src").as("v"), col("score").as("e"))
      // histogram h-index: hash-agg to (v, value, count) first (partial
      // aggregation bounds a hub's shuffle rows by the estimate-value range,
      // not its degree), then a cumulative count over the per-vertex
      // DISTINCT values — h = max over e of min(cum(e), e)
      val hist = gathered.groupBy(col("v"), col("e")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("v")).orderBy(col("e").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val h = hist.select(col("v"), col("e"), sum(col("cnt")).over(w).as("cum"))
        .groupBy(col("v"))
        .agg(max(least(col("cum").cast("double"), col("e"))).as("h"))
      state.join(h, state("node") === h("v"), "left")
        .select(col("seed"), col("node"), coalesce(col("h"), lit(0.0)).as("score"))
    }

    val res = IterativeEngine.run(init, superstep, rounds, tolerance)
    Materialize.free(und)
    res.state.select(col("node").as("id"), col("score").cast("int").as("coreness"))
  }
}
