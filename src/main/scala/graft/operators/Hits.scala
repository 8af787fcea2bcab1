package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kernels.{Grid, Materialize}

/** HITS hubs and authorities (Kleinberg 1999) — the second classic
  * link-analysis fixpoint next to PageRank, and the one that separates
  * directories (hubs) from endorsed pages (authorities) on a web graph:
  *
  *   auth_i(v) = Σ_{u→v} hub_{i-1}(u)   then L1-normalize
  *   hub_i(v)  = Σ_{v→w} auth_i(w)      then L1-normalize
  *
  * L1 normalization (not the textbook L2) keeps every step SQL-replayable:
  * with `quantize` > 0 all sums are order-free fixed-point integer sums,
  * the global normalizer is one more grid sum, and the division is a single
  * IEEE operation on two exact grid values, re-rounded to the grid — so a
  * DuckDB oracle replays the whole trajectory hash-exactly (the engine-wide
  * verification pattern of PageRank/GRank). L1 vs L2 changes only the
  * scale of the fixpoint, not the ranking (eigenvectors are scale-free).
  *
  * State rides the shared iterative engine as (seed 0 = auth, seed 1 = hub,
  * node, score): the engine's per-seed L1 norm then measures BOTH vectors'
  * movement, its checkpoint/resume machinery applies unchanged, and each
  * iteration is two gather exchanges (auth from hubs, hub from fresh auths),
  * each cut with its normalizer observed on the same job.
  *
  * 100-TB shape: the gathers are map-side-combinable sums over the
  * src-/dst-keyed adjacency (same exchange shape as PageRank's superstep,
  * with the same hub-skew behavior); each normalizer is an aggregate over
  * the gather rows as they are checkpointed, read back as a literal.
  */
object Hits {

  /** (node, auth, hub) after `iterations` rounds (or earlier under the
    * engine's L1 tolerance across both vectors; tolerance < 0 forces all
    * rounds — the oracle-replay mode). */
  def run(edges: DataFrame, vertices: DataFrame, iterations: Int,
      tolerance: Double = 1e-8, quantize: Double = 0.0): DataFrame =
    graft.kernels.IterTuning.forLoop(edges.sparkSession) {
      runInner(edges, vertices, iterations, tolerance, quantize)
    }

  private def runInner(edges: DataFrame, vertices: DataFrame, iterations: Int,
      tolerance: Double, quantize: Double): DataFrame = {
    require(iterations > 0, "iterations must be > 0")
    val shufflePartitions = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    // loop-invariant edge sides pre-partitioned on their gather keys ONCE
    // (guide §2.4): the auth gather joins on src, the hub gather on dst —
    // two cached copies, so neither gather re-exchanges (or re-broadcasts)
    // the |E|-row side on any of the 2·iterations joins; only the |V|-row
    // vector side moves. The SHUFFLE_HASH hints below keep the planner
    // from auto-broadcasting the edge side (the side that cannot
    // broadcast at 100 TB). Both copies are leaves the first gathers fill.
    val eDedup = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .dropDuplicates("src", "dst")
    val eFwd = Materialize.leaf(eDedup.repartition(shufflePartitions, col("src")))
    val eBwd = Materialize.leaf(eDedup.repartition(shufflePartitions, col("dst")))
    val n = vertices.count()
    require(n > 0, "empty vertex set")

    def gsum(c: Column): Column =
      if (quantize > 0) coalesce(sum(Grid.roundLong(c * quantize)), lit(0L)) / quantize
      else coalesce(sum(c), lit(0.0))
    def grid(c: Column): Column =
      if (quantize > 0) Grid.roundLong(c * quantize) / quantize else c

    val ids = vertices.select(col("id").cast("long").as("id"))
    val init = ids.select(explode(array(lit(0L), lit(1L))).as("seed"),
      col("id").as("node"), lit(1.0 / n).as("score"))

    // state is SPARSE: a vertex absent from a vector has score 0 — it
    // contributes nothing to gathers or normalizers, so the per-iteration
    // |V|-wide zero-fill joins are unnecessary; zeros are joined back once,
    // at the end. The engine's L1 norm already treats missing entries as 0
    // (Metrics.norm1PerSeed).
    //
    // Each raw gather is CHECKPOINTED with its normalizer observed on the
    // same job and inlined as a LITERAL: a broadcast-subquery normalizer
    // re-executes the gather subplan (measured 2x the superstep cost), and
    // HITS normalization is a global barrier either way.
    var staleBlocks = List.empty[DataFrame]
    def superstep(state: DataFrame, i: Int): DataFrame = {
      Materialize.free(staleBlocks: _*)
      val hub = state.where(col("seed") === 1).select(col("node"), col("score"))
      // a zero gather sum (all hub mass on dangling nodes, or every
      // contribution rounding to 0 on the quantize grid) would make raw/s
      // NaN and poison all remaining iterations — normalize by 1 instead,
      // which keeps the (all-zero) vector exact (ADVICE r5)
      val (araw, a) = Materialize(hub.hint("shuffle_hash").join(eFwd, hub("node") === eFwd("src"))
        .groupBy(col("dst").as("node")).agg(gsum(col("score")).as("raw")), gsum(col("raw")))
      val sA = if (a.getDouble(1) == 0.0) 1.0 else a.getDouble(1)
      val auth = araw.select(col("node"), grid(col("raw") / lit(sA)).as("score"))
      val (hraw, h) = Materialize(auth.hint("shuffle_hash").join(eBwd, auth("node") === eBwd("dst"))
        .groupBy(col("src").as("node")).agg(gsum(col("score")).as("raw")), gsum(col("raw")))
      val sH = if (h.getDouble(1) == 0.0) 1.0 else h.getDouble(1)
      val hubNext = hraw.select(col("node"), grid(col("raw") / lit(sH)).as("score"))
      staleBlocks = List(araw, hraw)
      auth.select(lit(0L).as("seed"), col("node"), col("score"))
        .union(hubNext.select(lit(1L).as("seed"), col("node"), col("score")))
    }

    val res = IterativeEngine.run(init, superstep, iterations, tolerance)
    Materialize.free(eFwd +: eBwd +: staleBlocks: _*)
    val sparse = res.state.groupBy(col("node"))
      .agg(min(when(col("seed") === 0, col("score"))).as("a0"),
        min(when(col("seed") === 1, col("score"))).as("h0"))
    ids.join(sparse, ids("id") === sparse("node"), "left")
      .select(col("id").as("node"),
        coalesce(col("a0"), lit(0.0)).as("auth"),
        coalesce(col("h0"), lit(0.0)).as("hub"))
  }
}
