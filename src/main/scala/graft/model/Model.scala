package graft.model

/** Canonical relational shapes of the engine (SURVEY.md §1.2).
  *
  * The reference (fruttasecca/approximated_personalized_pagerank) models a
  * directed graph as `unordered_map<Key, vector<Key>>` (include/grank.h:27-43)
  * and PPR state as `map<source, map<node, double>>` (include/grank.h:60-61).
  * The Spark-native engine flattens both into relations:
  *   - graph      -> edges(src LONG, dst LONG), vertices(id LONG)
  *   - PPR state  -> state(seed LONG, node LONG, score DOUBLE)
  * so every kernel is a join/aggregate Catalyst can optimize.
  */
final case class Edge(src: Long, dst: Long)

final case class Vertex(id: Long)

/** One entry of a per-seed score basket (the relational unnesting of the
  * reference's `map<source, map<node,double>>`). */
final case class ScoreEntry(seed: Long, node: Long, score: Double)

/** Shared parameters of the approximated-PPR algorithms.
  *
  * Mirrors the template-parameter validation contract of the reference
  * (include/grank.h:51-57, include/mccompletepathv2.h:190-194):
  * K>0, L>0, K<=L, iterations>0, damping in [0,1]; a negative tolerance
  * means "never converge early".
  */
final case class PprConfig(
    K: Int,
    L: Int,
    iterations: Int,
    damping: Double = 0.85,
    tolerance: Double = 1e-4,
    // engine knobs (no reference analog: physical execution)
    /** Per-superstep top-L strategy. Kept for source compatibility only:
      * "window" (exact (seed,node) sum, then a row_number window —
      * [[graft.kernels.TopK]]) is the one shape, and no code branches on
      * this field. */
    topLStrategy: String = "window",
    /** Reference's partition-alternating schedule (include/grank.h:85,96,
      * 129-137): 2-color the undirected closure, recompute only one color
      * class per iteration, carry the other forward, alternate. ~Halves
      * per-iteration work at the cost of one-iteration-stale halves; the
      * converged fixpoint is unchanged (thesis §4.1.1). Convergence uses the
      * reference's two-slot rule: stop only when BOTH colors' last diffs
      * are below tolerance (grank.h:86-92). */
    partitionedSchedule: Boolean = false,
    /** in-degree above which gather-join keys are salted. 0 = off; -1 = AUTO:
      * the threshold is derived as saltAutoBreakEven / L from the in-degree
      * stats GRank computes anyway, so the 100-TB default needs no operator
      * knowledge — salting engages exactly for keys whose per-key gather
      * output (indeg * L rows) crosses the measured break-even, and stays
      * off (zero salting overhead) when no such key exists. */
    saltThreshold: Int = -1,
    /** number of salt buckets for skewed keys. */
    saltBuckets: Int = 8,
    /** Measured break-even for auto salting, in PER-KEY GATHER OUTPUT ROWS
      * (indeg * L): the BASELINE.md round-2 hub-salting table measured salting
      * LOSING at 40M rows/key (the downstream full-state exchange dominates)
      * and WINNING 1.4-1.9x at 150M rows/key (one task's join + shuffle
      * write dominates the superstep) — the break-even is order 1e8. Tests
      * shrink it to exercise auto engagement on small fixtures. */
    saltAutoBreakEven: Long = 100000000L,
    /** write a parquet snapshot + manifest every N supersteps (0 = off). */
    checkpointEvery: Int = 0,
    checkpointDir: Option[String] = None,
    /** Fixed-point verification mode (0 = off). When > 0 (e.g. 1e12), every
      * per-superstep aggregation sums `round(score * quantize)` as exact
      * 64-bit integers and divides back once — the sum becomes independent
      * of addend order AND bit-identical across any IEEE-754 engine, so an
      * external oracle (DuckDB) can reproduce the full iterative run
      * hash-exactly. Quantization error is <= 1/quantize per contribution
      * per superstep (1e-12 — far below every quality tolerance). */
    quantize: Double = 0.0) {

  require(K > 0, "k must be > 0")
  require(L > 0, "l must be > 0")
  require(K <= L, "k can't be greater than l")
  require(iterations > 0, "iterations must be > 0")
  require(damping >= 0 && damping <= 1, "damping must be between 0 and 1")
  require(topLStrategy == "window", s"unknown topLStrategy $topLStrategy (only window)")
  require(saltThreshold >= -1, "saltThreshold must be -1 (auto), 0 (off) or a positive in-degree")
  require(saltBuckets > 0, "saltBuckets must be > 0")
  require(saltAutoBreakEven > 0, "saltAutoBreakEven must be > 0")
}
