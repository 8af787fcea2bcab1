package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernels.{Materialize, TopK}
import graft.model.PprConfig
import graft.sources.EdgeSource

/** GRank — iterative all-sources approximated personalized PageRank
  * (include/grank.h:43-149), re-expressed as a relational fixpoint:
  *
  *   PR_s(i) = d * sum_{j in Succ(s)} PR_j(i) / outdeg(s) + (1-d)*[s=i]
  *   (thesis Eq. 4.2; gather loop include/grank.h:96-126)
  *
  * Superstep = one sparse SpMV on the seed axis:
  *   state(seed=j, node=i, score) JOIN adj(src=s, dst=j, factor=d/outdeg(s))
  *     ON seed = dst
  *   -> project (seed=s, node=i, score*factor)
  *   -> UNION per-seed teleport rows (s, s, 1-d)        (grank.h:100-101)
  *   -> per-seed exact sum + top-L prune                (grank.h:115,119)
  * Convergence: max over seeds of L1(old basket, new basket) < tolerance
  * (grank.h:92,123); negative tolerance never converges early (grank.h:56).
  * Final result truncated to top-K per seed (grank.h:143-147).
  *
  * Scale machinery (no reference analog — physical execution, SURVEY.md §4):
  *  - adjacency is shuffled ONCE (hash-partitioned by `dst`, the join key)
  *    and cut to a lazy `Materialize.leaf`; every superstep's join reuses
  *    that partitioning. The loop inputs (adjacency, teleport, schedule
  *    halves) are all checkpoint leaves, never `persist()`ed plans: a
  *    persisted input carries the caller's whole lineage into every
  *    superstep as an InMemoryRelation child (84 planned operators against
  *    16 on three LogicalRDD leaves, BASELINE.md "ppr_topk on leaf plans").
  *  - explicit skew handling: gather-join keys whose in-degree exceeds
  *    `cfg.saltThreshold` are split into `cfg.saltBuckets` salted copies
  *    (adjacency side salted by hash(src); the <=L state rows of hub seeds
  *    are replicated per bucket), re-merged by the following aggregation.
  *  - top-L pruning keeps the shuffled state <= |V|*L rows (the core
  *    approximation, thesis §4.1: O(|E|*L*I)).
  *
  * Deliberate deviations from the reference, both documented in SURVEY.md §7.4:
  *  - ties at the top-L cut break by node asc (reference: nth_element
  *    arbitrary) so results are invariant under parallelism.
  *  - the partition-alternating schedule (grank.h:85,96,129-137) is a
  *    single-machine wall-clock optimization that leaves the fixpoint
  *    unchanged (thesis §4.1.1); the engine runs the synchronous schedule,
  *    whose per-superstep work Spark already spreads across executors.
  */
object GRank {

  /** Effective salting in-degree threshold for a config: explicit value if
    * >= 0, else (auto) the measured per-key gather-output break-even divided
    * by L — a key's gather join emits indeg * L rows, so indeg beyond
    * saltAutoBreakEven / L is where one task's join + shuffle write starts
    * to dominate the superstep (BASELINE.md "Hub salting: measured
    * break-even": loses at 40M rows/key, wins 1.4-1.9x at 150M). At the
    * defaults (break-even 1e8, L=100) that is indeg 1e6: the table's
    * 1.5M-indeg fixture engages, the 400k one does not. */
  private[graft] def resolveSaltThreshold(cfg: PprConfig): Long =
    if (cfg.saltThreshold >= 0) cfg.saltThreshold.toLong
    else math.max(1L, cfg.saltAutoBreakEven / math.max(cfg.L, 1))

  /** @return converged state truncated to top-K: (seed, node, score). */
  def run(edges: DataFrame, vertices: DataFrame, cfg: PprConfig): DataFrame =
    runWithMetrics(edges, vertices, cfg).state

  def runWithMetrics(edges: DataFrame, vertices: DataFrame, cfg: PprConfig): IterativeEngine.Result =
    graft.kernels.IterTuning.forLoop(edges.sparkSession) { runInner(edges, vertices, cfg) }

  private def runInner(edges: DataFrame, vertices: DataFrame, cfg: PprConfig): IterativeEngine.Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // weight contract (same as ExactPpr/PageRank/PushPpr): a `weight` edge
    // column switches the gather factor to d*w(s,dst)/sum_out w(s) —
    // integer weights keep it one exact-operand IEEE division, so the
    // unrolled DuckDB oracle stays hash-exact. Non-positive weights drop.
    val weighted = edges.columns.contains("weight")
    val pos = if (weighted) edges.where(col("weight") > 0) else edges
    val srcNorm =
      if (weighted) pos.groupBy(col("src")).agg(sum(col("weight")).as("norm"))
      else pos.groupBy(col("src")).agg(count(lit(1)).as("norm"))
    val saltThreshold = resolveSaltThreshold(cfg)
    // hub ids are collected ONCE (<= |E|/saltThreshold of them by
    // construction — a handful at real thresholds) and drive both the
    // engage-salting decision and the broadcast sides below; the earlier
    // isEmpty-then-join form ran the full in-degree aggregation twice
    // (ADVICE r4). A small user-supplied threshold on a huge graph could
    // make the hub set driver-OOM-sized, so the collect is limit-guarded:
    // |E|/saltThreshold bounds the true hub count, and past `hubCap` the
    // premise "hubs are a handful worth special-casing" is wrong anyway —
    // fail fast with the fix instead of OOMing (ADVICE r5). ONE job: each
    // task ships at most hubCap + 1 hub ids and the driver folds them into
    // at most hubCap + 1 (`limit(n).collect()` would scan the partitions
    // over several incremental jobs)
    val hubCap = 1000000
    val hubIds: Array[Long] =
      if (saltThreshold > 0) {
        val hubs = pos.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
          .where(col("indeg") > saltThreshold)
          .select(col("dst")).as[Long].rdd
          .mapPartitions(it => Iterator(it.take(hubCap + 1).toArray))
          .fold(Array.empty[Long])((a, b) => if (a.length > hubCap) a else (a ++ b).take(hubCap + 1))
        require(hubs.length <= hubCap,
          s"saltThreshold=$saltThreshold marks > $hubCap vertices as hubs — " +
            "that is a dense graph, not a skewed one; raise saltThreshold " +
            "(or pass saltThreshold = 0 to disable salting)")
        hubs
      } else Array.empty
    // auto mode pays that ONE setup job to check for hubs and runs the plain
    // unsalted plan (zero per-superstep salting overhead) when none exist —
    // blanket salting measured regressing moderate skew (BASELINE.md
    // "Hub salting: measured break-even")
    val salted = saltThreshold > 0 && (cfg.saltThreshold >= 0 || hubIds.nonEmpty)

    // CSR-like layout: one shuffle up front, reused by every superstep's join
    val adjBase = pos.join(srcNorm, "src")
      .select(col("src"), col("dst"),
        (if (weighted) lit(cfg.damping) * col("weight") / col("norm")
         else lit(cfg.damping) / col("norm")).as("factor"))
    val adj = Materialize.leaf(if (salted) {
      val hubs = hubIds.toSeq.toDF("hub")
      adjBase.join(broadcast(hubs), adjBase("dst") === hubs("hub"), "left")
        .select(col("src"), col("dst"), col("factor"),
          when(col("hub").isNotNull, pmod(xxhash64(col("src")), lit(cfg.saltBuckets)))
            .otherwise(lit(0L)).cast("int").as("salt"))
        .repartition(shufflePartitions, col("dst"), col("salt"))
    } else {
      adjBase.withColumn("salt", lit(0))
        .repartition(shufflePartitions, col("dst"))
    }) // filled by the init job, which reads every partition
    val hubSeeds =
      if (salted) hubIds.toSeq.toDF("hub") // a local relation: already a leaf
      else null

    val teleport = Materialize.leaf(vertices
      .select(col("id").as("seed"), col("id").as("node"), lit(1.0 - cfg.damping).as("score")))

    // G5 partitioned schedule: 2-coloring + per-color adjacency/teleport
    // halves, computed once; each half is a checkpoint leaf, filled by the
    // first job that reads it. adjacency filtered by SOURCE color: only
    // active-color seeds gather in an active iteration.
    val colors = if (cfg.partitionedSchedule) Components.twoColoring(edges, vertices) else null
    def colorHalf(df: DataFrame, keyCol: String, c: Int): DataFrame =
      df.join(colors.where(col("color") === c).select(col("id").as("__cid")),
        col(keyCol) === col("__cid"), "left_semi")
    val adjHalves =
      if (cfg.partitionedSchedule)
        Array(0, 1).map(c => Materialize.leaf(colorHalf(adj, "src", c)))
      else null
    val teleportHalves =
      if (cfg.partitionedSchedule)
        Array(0, 1).map(c => Materialize.leaf(colorHalf(teleport, "seed", c)))
      else null

    // G2 state init: self teleport + one-hop scatter (the same per-edge
    // factor as the gather adjacency — weighted or uniform), pruned to L
    // (include/grank.h:64-83; += on duplicates handles self-loops). Scatters
    // from the checkpointed `adj`, whose factors are already computed: from
    // adjBase, the norm aggregate and its broadcast would run again. Its job
    // reads every partition of `adj` and `teleport`, which fills both
    val init = TopK.pruneTopL(
      teleport.union(
        adj.select(col("src").as("seed"), col("dst").as("node"),
          col("factor").as("score"))),
      cfg.L, quantize = cfg.quantize)

    def gather(state: DataFrame, adjacency: DataFrame): DataFrame = {
      val st =
        if (salted)
          state.join(broadcast(hubSeeds), state("seed") === hubSeeds("hub"), "left")
            .select(col("seed"), col("node"), col("score"),
              explode(when(col("hub").isNotNull,
                sequence(lit(0), lit(cfg.saltBuckets - 1)))
                .otherwise(array(lit(0)))).as("salt"))
        else state.withColumn("salt", lit(0))
      // SHUFFLE_HASH: the state side is hash(seed)-partitioned (aligned
      // prune output, preserved through localCheckpoint) and the adjacency
      // is hash(dst[,salt])-partitioned once — the hinted shuffled-hash
      // join recognizes both and inserts NO exchange, where the planner's
      // auto-broadcast re-serialized the |E|-row adjacency every superstep
      // (and the adjacency is the side that can never broadcast at 100 TB).
      st.hint("shuffle_hash")
        .join(adjacency, st("seed") === adjacency("dst") && st("salt") === adjacency("salt"))
        .select(col("src").as("seed"), col("node"),
          (col("score") * col("factor")).as("score"))
    }

    // single-exchange prune: repartition(seed) once; agg + rank reuse it
    def prune(combined: DataFrame): DataFrame =
      TopK.pruneTopLAligned(combined, cfg.L, shufflePartitions, cfg.quantize)

    def superstep(state: DataFrame, i: Int): DataFrame =
      if (!cfg.partitionedSchedule)
        prune(gather(state, adj).union(teleport))
      else {
        // recompute only the active color's baskets (gather still reads the
        // FULL state: passive successors' baskets feed active seeds); carry
        // the passive half forward unchanged (grank.h:129-137). The seed's
        // color rides IN the state so carrying is a filter, not a join.
        val active = i % 2
        val fresh = prune(
          gather(state.select(col("seed"), col("node"), col("score")), adjHalves(active))
            .union(teleportHalves(active)))
          .withColumn("color", lit(active)) // all fresh seeds are active-colored
        val carried = state.where(col("color") =!= active)
        fresh.union(carried)
      }

    val initWithColor =
      if (cfg.partitionedSchedule)
        init.join(colors, init("seed") === colors("id"))
          .select(col("seed"), col("node"), col("score"), col("color"))
      else init

    val checkpoint = cfg.checkpointDir.map(new CheckpointManager(_))
    val res = IterativeEngine.run(initWithColor, superstep, cfg.iterations, cfg.tolerance,
      cfg.checkpointEvery, checkpoint, resume = checkpoint.exists(_.committed().nonEmpty),
      convergenceWindow = if (cfg.partitionedSchedule) 2 else 1)

    val finalState = Materialize.cut(TopK.topKWindow(
      res.state.select(col("seed"), col("node"), col("score")), cfg.K)) // G6, grank.h:143-147
    Materialize.free(Seq(adj, teleport, res.state) ++ Option(colors) ++
      Option(adjHalves).toSeq.flatten ++ Option(teleportHalves).toSeq.flatten: _*)
    IterativeEngine.Result(finalState, res.history)
  }
}
