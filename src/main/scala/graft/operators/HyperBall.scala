package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Grid, Materialize, Mix}

/** HyperBall (Boldi & Vigna, "In-core computation of geometric centralities
  * with HyperBall", 2013): per-vertex HyperLogLog sketches of the forward
  * ball — ball_{t+1}(v) = {v} ∪ ⋃_{v→w} ball_t(w) — iterated by bucket-wise
  * register max until the fixpoint (registers = sketch of the full forward
  * reachable set). The per-round per-vertex estimates give the neighborhood
  * function N(v, t) ≈ |ball_t(v)|, the standard way to estimate average
  * distance / effective diameter on web-scale graphs where exact all-pairs
  * BFS is impossible.
  *
  * Built on functions.Sketch's SQL-replayable HLL register layout (same
  * mixer hash, same bin/ltrim rho idiom — INTEGER state throughout, so
  * every round replays hash-exactly with no grid). State is relational (one
  * row per non-empty (vertex, bucket)): |V|·2^p rows at most, merged with
  * MAX — fully map-side combinable, the same property that makes plain HLL
  * shard-mergeable. ONE register loop ([[registerLoop]]) serves every
  * entry point: it stops at the exact ball fixpoint, read off a (count,
  * Σrho) fingerprint observed on each round's checkpoint, so a round costs
  * no probe job of its own.
  *
  * 100-TB shape per round: one join of the register table against the
  * src-partitioned adjacency (gather successors' registers) + one
  * max-aggregation exchange on (vertex, bucket). Register rows, not
  * payloads, shuffle.
  */
object HyperBall {

  /** Per-vertex register table of ball_rounds: (id, bucket, rho).
    *
    * Choosing p: each per-vertex ball estimate carries HLL's ±1.04/√2^p
    * standard error (p=6 → ±13%, p=8 → ±6.5%, p=10 → ±3.25% — see
    * Sketch.hllRegisters and the measured sweep in BASELINE.md §HLL), and
    * state is |V|·2^p register rows — the p knob trades one directly for
    * the other (Boldi & Vigna run p=4..12 at web scale for this reason). */
  def registers(edges: DataFrame, vertices: DataFrame, rounds: Int,
      p: Int = 6, salt: Long = 42L): DataFrame =
    registerLoop(edges, vertices, rounds, p, salt)(_ => ())
      .select(col("id"), col("bucket").cast("int").as("bucket"), col("rho"))

  /** Per-vertex ball-size estimates: (id, est DOUBLE on the 1e-6 grid,
    * filled) — Sketch's shared estimate math, grouped per vertex. */
  def estimates(registers: DataFrame, p: Int): DataFrame =
    graft.functions.Sketch.estimateFrom(registers, p, Seq("id"))

  /** Convenience: ball_rounds size estimate per vertex. */
  def neighborhood(edges: DataFrame, vertices: DataFrame, rounds: Int,
      p: Int = 6, salt: Long = 42L): DataFrame =
    estimates(registers(edges, vertices, rounds, p, salt), p)

  /** ONE register sweep shared by the whole HyperBall family (r7
    * optimization, the scc+bowtie composition pattern): the per-round
    * estimate frames est_0..est_rounds as (id, est, filled), each
    * localCheckpointed. `sweep(...).last` equals [[neighborhood]] (both
    * read the same register loop), and [[centralitiesFrom]] /
    * [[neighborhoodFunctionFrom]] consume the same frames — a caller
    * wanting all three artifacts pays for one sweep instead of three. */
  def sweep(edges: DataFrame, vertices: DataFrame, rounds: Int,
      p: Int = 6, salt: Long = 42L): Seq[DataFrame] =
    estimatesPerRound(edges, vertices, rounds, p, salt)

  /** [[centralities]] over a precomputed [[sweep]] (est_0..est_rounds). */
  def centralitiesFrom(ests: Seq[DataFrame], rounds: Int): DataFrame = {
    require(ests.length == rounds + 1, s"sweep must carry ${rounds + 1} frames")
    val joined = ests.zipWithIndex
      .map { case (df, t) => df.select(col("id"), col("est").as(s"est_$t")) }
      .reduce(_.join(_, Seq("id")))
    val harmonic = (1 to rounds)
      .map(t => (col(s"est_$t") - col(s"est_${t - 1}")) / lit(t.toDouble))
      .reduce(_ + _)
    val sumDist = (1 to rounds)
      .map(t => (col(s"est_$t") - col(s"est_${t - 1}")) * lit(t.toDouble))
      .reduce(_ + _)
    joined.select(col("id"),
      (round(harmonic * lit(1e6)) / 1e6).as("harmonic"),
      (round(sumDist * lit(1e6)) / 1e6).as("sum_dist"))
  }

  /** [[neighborhoodFunction]] over a precomputed [[sweep]]. */
  def neighborhoodFunctionFrom(ests: Seq[DataFrame], rounds: Int): DataFrame = {
    require(ests.length == rounds + 1, s"sweep must carry ${rounds + 1} frames")
    val nf = ests.zipWithIndex.map { case (df, t) =>
      df.agg((coalesce(sum(Grid.roundLong(col("est") * 1e6)), lit(0L)) / 1e6)
        .as("pairs")).select(lit(t).as("t"), col("pairs"))
    }.reduce(_ union _)
    val pmax = nf.where(col("t") === rounds).select(col("pairs").as("pmax"))
    nf.crossJoin(broadcast(pmax))
      .select(col("t"), col("pairs"),
        (round(col("pairs") / col("pmax") * lit(1e6)) / 1e6).as("frac"))
  }

  /** Geometric centralities from the per-round neighborhood function — the
    * actual purpose of HyperBall (Boldi & Vigna 2013, §4): with
    * N(v, t) = |ball_t(v)| estimated per round,
    *
    *   harmonic(v) = Σ_{t=1..rounds} (N(v,t) − N(v,t−1)) / t
    *   sum_dist(v) = Σ_{t=1..rounds} (N(v,t) − N(v,t−1)) · t   (closeness
    *                 denominator)
    *
    * over distances along the EDGE DIRECTION GIVEN — pass reversed edges
    * for the standard incoming-paths harmonic centrality. `rounds` is part
    * of the contract (balls truncate at that radius), matching how a
    * bounded HyperBall sweep reports centralities at web scale.
    *
    * Determinism: each N(v,t) is the 1e-6-grid HLL estimate (integer
    * registers, one float division — Sketch.estimateFrom); the two sums
    * are FIXED-ORDER expression trees over the per-round columns (t
    * ascending), so every IEEE operation replays bit-identically in the
    * DuckDB oracle — no aggregation-order nondeterminism anywhere.
    *
    * 100-TB shape: the register loop is [[registers]]'s (gather + max-merge,
    * |V|·2^p rows); each per-round estimate is one map-side-combinable
    * aggregation; the final assembly is `rounds` narrow joins on id. */
  def centralities(edges: DataFrame, vertices: DataFrame, rounds: Int,
      p: Int = 6, salt: Long = 42L): DataFrame =
    centralitiesFrom(sweep(edges, vertices, rounds, p, salt), rounds)

  /** Global neighborhood function and (discrete) effective diameter — the
    * OTHER HyperBall headline (Boldi & Vigna 2013 §1): pairs(t) =
    * Σ_v N(v, t) estimates the number of ordered pairs within distance t;
    * the table (t, pairs, frac = pairs(t)/pairs(rounds)) makes the
    * alpha-effective diameter (min t with frac ≥ alpha) readable off the
    * result. All sums are order-free 1e-6-grid integer sums and the one
    * division per row has exact grid operands — the DuckDB oracle replays
    * the table hash-exactly. */
  def neighborhoodFunction(edges: DataFrame, vertices: DataFrame, rounds: Int,
      p: Int = 6, salt: Long = 42L): DataFrame =
    neighborhoodFunctionFrom(sweep(edges, vertices, rounds, p, salt), rounds)

  /** The per-round ball-size estimate frames est_0..est_rounds as
    * (id, est, filled), each materialized (small: |V| rows) so the register
    * state backing it can be freed as the ball advances. A round after the
    * fixpoint reuses the fixpoint's frame (identical values — the unrolled
    * oracle replays those rounds as no-ops). */
  private def estimatesPerRound(edges: DataFrame, vertices: DataFrame,
      rounds: Int, p: Int, salt: Long): Seq[DataFrame] = {
    val out = Vector.newBuilder[DataFrame]
    val last = registerLoop(edges, vertices, rounds, p, salt)(state =>
      out += graft.functions.Sketch.estimateFrom(state, p, Seq("id")).localCheckpoint(true))
    Materialize.free(last)
    val ests = out.result()
    ests ++ Seq.fill(rounds + 1 - ests.size)(ests.last)
  }

  /** The register loop: (id, bucket, rho) after `rounds` rounds of gather
    * + max-merge, or at the fixpoint if that comes first. `moved` sees the
    * initial state and each state a round changed, before the loop frees
    * it; the returned final state is the caller's to free.
    *
    * EXACT fixpoint probe (r7): registers only ever GROW under max-merge
    * (rho per (id, bucket) is non-decreasing; rows are only added), so the
    * state is unchanged iff (row count, Σrho) is unchanged — and a round
    * that changes nothing proves the ball fixpoint, after which every
    * further round is the identity. The fingerprint is observed on the
    * state's own checkpoint job. */
  private def registerLoop(edges: DataFrame, vertices: DataFrame,
      rounds: Int, p: Int, salt: Long)(moved: DataFrame => Unit): DataFrame =
    graft.kernels.IterTuning.withoutRuntimeFilters(edges.sparkSession) {
      require(rounds > 0, "rounds must be > 0")
      require(p >= 4 && p <= 16, "p must be in [4, 16]")
      val m = 1 << p
      // forward-ball gather joins successors' registers on edge src
      val adj = edges.select(col("src"), col("dst")).distinct()
        .repartition(col("dst")).localCheckpoint(eager = false)
      val h = Mix.mix31(col("id"), lit(0L), lit(1L), salt)
      val w = shiftright(h.cast("long"), p)
      val rho = lit(31 - p + 1) - length(ltrim(bin(w), "0"))
      val rhoSum = coalesce(sum(col("rho")), lit(0L))
      var (state, fp) = Materialize(vertices.select(col("id"),
        pmod(h, lit(m.toLong)).cast("long").as("bucket"), rho.cast("int").as("rho")), rhoSum)
      moved(state)
      var t = 1
      var fixed = false
      while (t <= rounds && !fixed) {
        val gathered = adj.join(state, adj("dst") === state("id"))
          .select(adj("src").as("id"), col("bucket"), col("rho"))
        val (next, nfp) = Materialize(state.union(gathered)
          .groupBy(col("id"), col("bucket"))
          .agg(max(col("rho")).as("rho")), rhoSum)
        Materialize.free(state)
        state = next
        fixed = nfp == fp
        if (!fixed) { fp = nfp; moved(state) }
        t += 1
      }
      Materialize.free(adj)
      state
    }
}
