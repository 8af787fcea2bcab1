package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kernels.{IterTuning, Materialize, TopK}
import graft.model.PprConfig

/** MCCompletePathV2 — Monte-Carlo complete-path all-sources PPR
  * (include/mccompletepathv2.h:183-258): estimate per-seed visit frequencies
  * with R random walks per node, then run ONE gather superstep that combines
  * each node's successors' baskets.
  *
  * Reference semantics preserved:
  *  - `iterations` = R = walks per node (mccompletepathv2.h:186)
  *  - every walk counts its origin: basket[origin] = R/R = 1.0 (:124)
  *  - only floor(R*d) walks are actually simulated — walks whose first
  *    teleport would fire before traversing any edge are pre-discounted, and
  *    the first edge is always traversed (:127-132)
  *  - a walk continues while uniform(0,1) <= d (:155) and dies at a node
  *    with no successors (:144-145)
  *  - visit counts are divided by R (:159-160)
  *  - dangling origins get basket {origin: 1.0} (:162-163)
  *  - combine phase (:211-250): final[s] = factor_s * (self 1/factor_s +
  *    sum of successors' baskets), factor_s = d/outdeg(s) (1.0 if dangling),
  *    pruned to L before scaling, truncated to K at the end (:252-256).
  *    The pre-divided self entry makes the final self-score exactly 1.0
  *    before successor contributions land on it.
  *
  * Deliberate deviations (SURVEY.md §2.5 C2-C4, §7.4.4 — the reference MC is
  * itself nondeterministic, seeded from std::random_device at :32-34):
  *  - successor choice: the reference rotates ONE global per-node index
  *    (:149) shared across all walks — order-dependent state that cannot
  *    exist under parallel execution. Here the first hop of walk w from a
  *    node with outdeg o is `w mod o` (exactly the even spread round-robin
  *    produces) and later hops pick by a seeded deterministic mix — fully
  *    parallelism-invariant. The mixer ([[mix31]]) is two rounds of
  *    quadratic mixing mod the Mersenne prime 2^31-1, chosen over xxhash64
  *    so an external SQL oracle (DuckDB) can replay every walk bit-exactly
  *    (no 64-bit wrap-around multiply exists there).
  *  - the sequential `executionOrder` reuse chain (:37-113, :230-241) is a
  *    single-machine variance trick; all nodes are walked in parallel and
  *    combined uniformly (same estimator expectation).
  *  - the capped-L basket insert during a walk (:152-153, first-seen
  *    priority) becomes a top-L-by-count truncation at aggregation time.
  *
  * Scale design — two walk engines behind one draw function ([[walkStep]]
  * and its scalar twin), chosen by `broadcastEdgeLimit`, and ONE phase 2
  * ([[scatteredCombine]]) that both feed with the same rows:
  *
  *  - local (the adjacency fits `broadcastEdgeLimit`): the whole
  *    multi-step walk AND the combine's scatter run INSIDE one
  *    mapPartitions pass over the vertex ids against two broadcast maps
  *    built from the one adjacency collect: the forward adjacency the walk
  *    draws from and the reverse adjacency (each node's predecessors, one
  *    entry per edge, with the combine factor of that edge). Both fall
  *    under the same `broadcastEdgeLimit`: the reverse map holds one entry
  *    per edge, as the forward one does. This is the Spark analog of the
  *    reference's lazy per-node walkNode (include/mccompletepathv2.h:230-241):
  *    an origin's walks never leave its task, so the task holds origin t's
  *    complete visit counts, cuts its basket to L (self-visits folded in),
  *    and emits the combine rows itself — t's self row and, for every
  *    predecessor s, basket(t) keyed by s ([[localEngine]]). One job for
  *    walk plus combine, zero walker rows materialized; ~64 sequential join
  *    stages collapse into one stage, which removed the per-stage
  *    scheduling latency that dominated the join path's wall at bench
  *    scale (~2.5x measured).
  *  - join (above the broadcast limit — the 100-TB path): per `stepBatch`
  *    steps, chain join+project steps against the src-partitioned
  *    adjacency as lazy checkpoint leaves, then ONE action; visit counts
  *    fold into a bounded accumulator (constant plan depth). Walker VOLUME
  *    is bounded by `walkerBudget`: the walkId range [0, floor(R*d)) is
  *    split into chunks of <= walkerBudget/|origins| ids walked
  *    chunk-by-chunk — peak in-flight rows <= walkerBudget instead of
  *    |V|*floor(R*d) (at R=1000 that is 850 rows PER VERTEX). Its visit
  *    counts sum per (seed, node) in one shuffle and cut to L with the
  *    window rank; the combine rows then come from joins: self rows from
  *    `verts ⋈ adj`, successor rows from a per-edge factor frame joined to
  *    the baskets.
  *
  * Every draw is a pure function of (seed, ABSOLUTE walkId, step) through
  * the same mix31 mixer, so local, join, chunked and unchunked runs are all
  * bit-identical (test-gated) and the DuckDB oracle replays any of them;
  * phase 2's grid sum does not depend on addend order.
  * The operator runs AQE-off, in the iterative-loop scope
  * ([[graft.kernels.IterTuning.forLoop]]): its joins and prunes keep the
  * fixed shuffle partitioning, and no stage waits on an AQE
  * materialization job.
  */
object MonteCarloPpr {

  import graft.kernels.Mix.{mix31, P}

  /** Walk-phase volume evidence: peak walker rows in flight at any step,
    * walk chunks executed, walking origins, and the UNchunked peak
    * (origins * floor(R*d)) the budget protected against. */
  final case class McWalkStats(maxInFlight: Long, chunks: Int, origins: Long, unchunkedPeak: Long)

  /** Salt constants shared with the DuckDB oracle (OracleSql.mcPpr). */
  private[graft] def survivalSalt(salt: Long): Long = salt * 7919L + 1234567L
  private[graft] def pickSalt(salt: Long): Long = salt * 7919L + 7654321L

  /** Scalar weighted pick: the 0-based index of the cumulative-weight
    * interval [cws(i-1), cws(i)) that contains r, for strictly increasing
    * positive `cws` and r in [0, cws.last). Binary search for the first
    * i with cws(i) > r: a found r sits at j with cws(j) = r (answer j+1),
    * and a miss returns the insertion point, the first element > r.
    * O(log outdeg) per draw; the Column twin is [[pickIdx]]. */
  private[graft] def weightedPick(cws: Array[Long], r: Long): Int = {
    val j = java.util.Arrays.binarySearch(cws, r)
    if (j >= 0) j + 1 else -(j + 1)
  }

  /** Weight contract for the walk family (VERDICT r5 next #4): a `weight`
    * edge column switches every successor draw from uniform to
    * weight-proportional via an INTEGER cumulative-weight pick — adjacency
    * lists carry prefix sums cws of the (long) weights in dst order, a draw
    * lands on r ∈ [0, totw) and selects the successor whose interval
    * [cws(i-1), cws(i)) contains r. Exact integer arithmetic end to end, so
    * the DuckDB oracle replays every weighted draw bit-identically (the
    * node2vec-on-the-host-graph corpus case: Coarsen.project output is a
    * drop-in input). Non-positive weights drop; duplicate (src,dst) rows
    * sum their weights. */
  /** Positive-weight (src, dst, w) aggregation — computed ONCE per run and
    * shared by the adjacency build and the weighted combine factor. */
  private[graft] def weightedEw(edges: DataFrame): DataFrame =
    edges.where(col("weight") > 0)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("weight")).cast("long").as("w"))

  private def buildWeightedAdj(ew: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    ew.withColumn("cw", sum(col("w")).over(win))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dst"), col("cw")))).as("pairs"))
      .select(col("src"),
        transform(col("pairs"), p => p.getField("dst")).as("dsts"),
        transform(col("pairs"), p => p.getField("cw")).as("cws"),
        size(col("pairs")).as("outdeg"))
      .withColumn("totw", element_at(col("cws"), -1))
  }

  private[graft] def buildAdj(edges: DataFrame, weighted: Boolean, dedup: Boolean): DataFrame =
    if (weighted) buildWeightedAdj(weightedEw(edges))
    else {
      val e = if (dedup) edges.dropDuplicates("src", "dst") else edges
      e.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("dsts"))
        .select(col("src"), col("dsts"), size(col("dsts")).as("outdeg"))
    }

  /** 1-based successor index for the step-`step` draw, to feed element_at
    * over `dsts`. Columns in scope: seed, walkId, cur (pre-move), and the
    * joined adjacency's outdeg (+ cws/totw when weighted). Step 1 always
    * traverses with the round-robin base `walkId` (run: :127-132). */
  private[graft] def pickIdx(step: Int, salt: Long, weighted: Boolean): Column = {
    val base =
      if (step == 1) col("walkId")
      else col("walkId") + mix31(col("seed"), col("cur"), lit(step), pickSalt(salt))
    if (weighted) {
      val r = pmod(base, col("totw"))
      // the answer is 1 + #{i : cws(i) <= r}. For short adjacency rows a
      // linear filter wins; hub rows (outdeg > 64) get an O(log outdeg)
      // binary search — cws is strictly increasing (positive integer
      // weights), expressed as a fixed 32-step fold over (lo, hi) with
      // invariant cws(lo-1) <= r < cws(hi) (0-based; cws(n-1) = totw > r,
      // so hi = n-1 is valid); converged states are no-ops. The two agree
      // on every row (PprSpec property; BASELINE.md §WHUB: 21.9x on a
      // 10^4-outdeg hub).
      val n = size(col("cws"))
      val linear = size(filter(col("cws"), c => c <= r)) + 1
      val bsearch = aggregate(
        sequence(lit(1), lit(32)),
        struct(lit(0).as("lo"), (n - 1).as("hi")),
        (acc, _) => {
          val lo = acc.getField("lo")
          val hi = acc.getField("hi")
          val mid = ((lo + hi) / 2).cast("int") // Column `/` is double division; lo+hi >= 0 so the cast truncation is floor
          val goRight = lo < hi && element_at(col("cws"), mid + 1) <= r
          val goLeft = lo < hi && element_at(col("cws"), mid + 1) > r
          struct(when(goRight, mid + 1).otherwise(lo).as("lo"),
            when(goLeft, mid).otherwise(hi).as("hi"))
        },
        acc => acc.getField("lo") + 1)
      when(n > 64, bsearch).otherwise(linear).cast("int")
    } else (pmod(base, col("outdeg")) + 1).cast("int")
  }

  /** One walk step: walkers (seed, walkId, cur) that survive step `step`
    * move to a successor of `cur` drawn from `adj` (src, dsts[, cws, totw]);
    * a walker at a node without successors drops out. Step 1 always
    * traverses (run: :127-132). The local engine's walk task is its scalar
    * twin.
    *
    * SHUFFLE_HASH on the adjacency: it is hash(src)-partitioned once, so
    * only the walkers exchange. Left to itself the planner broadcast the
    * small adjacency leaf in every step's query, one broadcast job per
    * step, since Spark reuses an exchange only within one query. */
  private def walkStep(walkers: DataFrame, adj: DataFrame, damping: Double,
      step: Int, salt: Long, weighted: Boolean): DataFrame = {
    val survivors =
      if (step == 1) walkers
      else walkers.where(
        (mix31(col("seed"), col("walkId"), lit(step), survivalSalt(salt))
          / lit(P.toDouble)) <= damping)
    survivors.join(adj.hint("shuffle_hash"), survivors("cur") === adj("src"))
      .select(col("seed"), col("walkId"),
        element_at(col("dsts"), pickIdx(step, salt, weighted)).as("cur"))
  }

  def run(edges: DataFrame, vertices: DataFrame, cfg: PprConfig,
      salt: Long = 42L, maxSteps: Int = 200, stepBatch: Int = 8,
      broadcastEdgeLimit: Long = 4000000L,
      walkerBudget: Long = 100000000L,
      checkpoint: Option[CheckpointManager] = None, checkpointEvery: Int = 0,
      resume: Boolean = false): DataFrame =
    runWithStats(edges, vertices, cfg, salt, maxSteps, stepBatch,
      broadcastEdgeLimit, walkerBudget, checkpoint, checkpointEvery,
      resume)._1

  /** Random-walk CORPUS generator — the walk TRACE rather than the visit
    * counts: one row (seed, walk_id, step, node) per position of every
    * walk, i.e. the DeepWalk/node2vec-(p=q=1) training corpus for graph
    * embeddings, generated with the SAME deterministic draw functions as
    * the MC PPR engine (one mix31 survival draw + one mix31 pick per step,
    * pure functions of (seed, walkId, step) — so traces are reproducible,
    * partitioning-invariant, and SQL-replayable). damping < 1 gives the MC
    * engine's geometric-length walks; damping = 1.0 gives fixed-length
    * DeepWalk walks (every survival draw passes; walks still stop at
    * dangling nodes). Step 0 rows carry the origin.
    *
    * 100-TB shape: the walker frame re-exchanges each step against the
    * src-partitioned adjacency (the join engine's traversal shape) and the
    * trace accumulates as per-step frames unioned at the end — walk count
    * bounds peak rows the same way `walkerBudget` does in [[run]] (cap
    * walksPerNode per job and union jobs for more).
    *
    * A `weight` edge column switches the draws to weight-proportional
    * cumulative-integer picks (see [[buildAdj]]) — walkTrace over
    * Coarsen.project output is the weighted host-graph walk corpus. */
  def walkTrace(edges: DataFrame, vertices: DataFrame, walksPerNode: Int,
      maxSteps: Int, damping: Double = 0.85, salt: Long = 42L): DataFrame = {
    require(walksPerNode > 0, "walksPerNode must be > 0")
    require(maxSteps > 0, "maxSteps must be > 0")
    require(damping > 0 && damping <= 1, "damping must be in (0, 1]")
    val weighted = edges.columns.contains("weight")
    IterTuning.withoutRuntimeFilters(edges.sparkSession) {
      // a lazy checkpoint leaf, filled by the first walker join: each step
      // plans against it instead of an InMemoryRelation over the edge lineage
      val adjList = Materialize.leaf(buildAdj(edges, weighted, dedup = true))
      // each walker cut observes its own row count: the survivors
      var (walkers, alive) = Materialize(vertices.join(adjList, vertices("id") === adjList("src"))
        .select(col("id").as("seed"),
          explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walkId"),
          col("id").as("cur")))
      // per-step trace frames read the checkpointed walker frames — those
      // blocks stay alive through the final union (bounded by maxSteps)
      var traces = List(walkers.select(col("seed"), col("walkId").as("walk_id"),
        lit(0).as("step"), col("cur").as("node")))
      var step = 1
      while (alive.getLong(0) > 0 && step <= maxSteps) {
        val (next, m) = Materialize(walkStep(walkers, adjList, damping, step, salt, weighted))
        walkers = next
        alive = m
        traces ::= walkers.select(col("seed"), col("walkId").as("walk_id"),
          lit(step).as("step"), col("cur").as("node"))
        step += 1
      }
      Materialize.free(adjList)
      traces.reduce(_ union _)
    }
  }

  /** Checkpoint/resume (the engine-wide contract, here for the walk
    * engine): the walk-id CHUNK is the natural snapshot unit — with
    * `checkpointEvery` > 0 and a [[CheckpointManager]], every Nth finished
    * chunk saves the merged (seed, node, visits) partial with the usual
    * per-partition lineage manifest; `resume = true` restarts from the
    * latest committed chunk. Every draw is a pure function of the ABSOLUTE
    * walkId, so resumed and straight-through runs are bit-identical
    * (test-gated) — PROVIDED the resumed call passes the same cfg, salt,
    * walkerBudget and graph (chunk boundaries are derived from them).
    * Applies to the join engine's chunk loop; the local engine is a single
    * job with nothing to snapshot (checkpoint args are ignored there).
    *
    * Vertex ids are a set: a duplicated id gets one basket, as if listed
    * once. */
  def runWithStats(edges: DataFrame, vertices: DataFrame, cfg: PprConfig,
      salt: Long = 42L, maxSteps: Int = 200, stepBatch: Int = 8,
      broadcastEdgeLimit: Long = 4000000L,
      walkerBudget: Long = 100000000L,
      checkpoint: Option[CheckpointManager] = None, checkpointEvery: Int = 0,
      resume: Boolean = false): (DataFrame, McWalkStats) =
    IterTuning.forLoop(edges.sparkSession) {
      runInner(edges, vertices, cfg, salt, maxSteps, stepBatch, broadcastEdgeLimit,
        walkerBudget, checkpoint, checkpointEvery, resume)
    }

  private def runInner(edges: DataFrame, vertices: DataFrame, cfg: PprConfig,
      salt: Long, maxSteps: Int, stepBatchRaw: Int, broadcastEdgeLimit: Long,
      walkerBudget: Long,
      checkpoint: Option[CheckpointManager], checkpointEvery: Int,
      resume: Boolean): (DataFrame, McWalkStats) = {
    // Catalyst cost grows super-linearly with chained join depth: a 16-step
    // lazy chain was measured to take minutes to PLAN where 8 executes in
    // seconds — cap the batch size.
    val stepBatch = math.min(math.max(stepBatchRaw, 1), 10)
    val r = cfg.iterations
    val d = cfg.damping
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    val weighted = edges.columns.contains("weight")
    // one basket per vertex id; the hash(id) exchange also spreads the
    // local engine's origins over the full task width
    val verts = vertices.select(col("id")).distinct()

    // ---- phase 1: walk simulation --------------------------------------
    val effective = math.floor(r * d).toLong // floor(R*d), :127-132
    if (edges.count() <= broadcastEdgeLimit)
      return localEngine(verts, buildAdj(edges, weighted, dedup = false), cfg,
        effective, salt, maxSteps, weighted)

    // The walk is a traversal: every step joins walkers (keyed by the NEW
    // position) against the adjacency, so the walker side must re-exchange
    // each step — but the adjacency side must not: it is hash-partitioned
    // by src once and reused every step, a lazy checkpoint leaf filled by
    // the `walkOrigins` cut, so no step plan carries the edge lineage.
    // The weighted (src,dst,w) aggregation is shared by the adjacency AND
    // the combine-phase edge factor — a leaf, so it runs once, not twice
    val ewOpt = if (weighted) Some(Materialize.leaf(weightedEw(edges))) else None
    val adjList = Materialize.leaf(ewOpt.map(buildWeightedAdj)
      .getOrElse(buildAdj(edges, weighted = false, dedup = false))
      .repartition(shufflePartitions, col("src")))

    // 100-TB walker-volume bound: all |V|*floor(R*d) walks at once is the
    // one shape the single-machine reference never faces (its walkNode is
    // lazy per node, include/mccompletepathv2.h:230-241). The walkId range
    // is split into chunks of <= walkerBudget/|origins| ids, and the walk
    // loop runs once per chunk — every mix31 draw is a pure function of
    // (seed, ABSOLUTE walkId, step), so chunked and unchunked runs are
    // bit-identical; only peak in-flight rows change.
    val (walkOrigins, origins) = Materialize(verts
      .join(adjList, verts("id") === adjList("src"), "inner") // dangling origins never walk
      .select(col("id").as("seed"), col("id").as("cur")))
    val nOrigins = origins.getLong(0)
    val chunkSize =
      if (walkerBudget <= 0 || nOrigins == 0) math.max(effective, 1L)
      else math.max(1L, math.min(effective, walkerBudget / nOrigins))

    // Per batch: chain `stepBatch` steps as lazy checkpoint leaves; the
    // batch-end cut (which observes the surviving walker count) fills every
    // leaf once, then visit counts PARTIAL-aggregate within the batch.
    // Batch partials merge ONCE per chunk, chunk partials
    // union once at the end (phase 1.5 below runs the final (seed,node)
    // sum) — total shuffle volume ~2x the visit count. The r2 design
    // instead re-shuffled a single ever-growing accumulator every batch:
    // at R=1000 x 300k origins that is ~27 re-shuffles of an up-to-600M-row
    // frame, and the un-freed superseded checkpoints exhausted execution
    // memory (measured SparkOutOfMemoryError). Superseded block sets are
    // freed as soon as their successor materializes; live frames are
    // bounded by batches-per-chunk + chunks.
    var chunkAggs = List.empty[DataFrame] // one (seed, node, visits) partial per chunk
    var maxInFlight = 0L
    var nChunks = 0
    var chunkLo = 0L
    var ckptHistory = Vector.empty[IterMetrics]
    if (resume && checkpoint.isDefined) checkpoint.get.latest(spark).foreach { case (i, df) =>
      chunkAggs = List(Materialize.cut(df))
      nChunks = i
      chunkLo = math.min(effective, i.toLong * chunkSize)
    }
    while (chunkLo < effective) {
      val tChunk = System.nanoTime()
      val chunkHi = math.min(effective, chunkLo + chunkSize)
      nChunks += 1
      var (walkers, alive) = Materialize(walkOrigins
        .select(col("seed"), col("cur"),
          explode(sequence(lit(chunkLo), lit(chunkHi - 1))).as("walkId")))
      var step = 1
      maxInFlight = math.max(maxInFlight, alive.getLong(0))
      var batchAggs = List.empty[DataFrame]
      while (alive.getLong(0) > 0 && step <= maxSteps) {
        val end = math.min(step + stepBatch - 1, maxSteps)
        var leaves = List.empty[DataFrame]
        var cur = walkers
        for (s <- step until end) {
          cur = Materialize.leaf(walkStep(cur, adjList, d, s, salt, weighted))
          leaves ::= cur
        }
        // ONE job fills the batch's leaves and cuts its last step
        val (next, m) = Materialize(walkStep(cur, adjList, d, end, salt, weighted))
        // reads the filled step leaves; bounded depth
        val batchVisits = Materialize.cut((next :: leaves)
          .map(_.groupBy(col("seed"), col("cur").as("node")).agg(count(lit(1)).as("visits")))
          .reduce(_ union _)
          .groupBy(col("seed"), col("node")).agg(sum(col("visits")).as("visits")))
        batchAggs ::= batchVisits
        Materialize.free(walkers :: leaves: _*)
        walkers = next
        alive = m
        step = end + 1
      }
      Materialize.free(walkers) // chunk done: all dead
      val chunkAgg = batchAggs match {
        case Nil         => null
        case one :: Nil  => one
        case many => // merge the <= ceil(maxSteps/stepBatch) batch partials once
          val merged = Materialize.cut(many.reduce(_ union _)
            .groupBy(col("seed"), col("node")).agg(sum(col("visits")).as("visits")))
          Materialize.free(many: _*)
          merged
      }
      if (chunkAgg != null) chunkAggs ::= chunkAgg
      chunkLo = chunkHi
      if (checkpointEvery > 0 && checkpoint.isDefined && nChunks % checkpointEvery == 0) {
        // fold the partials into ONE frame (also bounds the final union
        // fan-in on long runs), snapshot it as chunk `nChunks`. Nil happens
        // on a walk-free graph (empty adjacency): nothing to snapshot — a
        // resume then correctly restarts from chunk 0, whose work is nil
        val merged = chunkAggs match {
          case Nil        => null
          case one :: Nil => one
          case many =>
            val m = Materialize.cut(many.reduce(_ union _)
              .groupBy(col("seed"), col("node")).agg(sum(col("visits")).as("visits")))
            Materialize.free(many: _*)
            m
        }
        if (merged != null) {
          chunkAggs = List(merged)
          val met = IterMetrics(nChunks, Double.NaN, merged.count(),
            (System.nanoTime() - tChunk) / 1000000)
          ckptHistory :+= met
          checkpoint.get.save(merged, nChunks, met, ckptHistory)
        }
      }
    }
    Materialize.free(walkOrigins)

    // ---- phase 1.5: walk baskets -----------------------------------------
    // fold the origin self-visits into the raw union of chunk partials
    // (origin counted R times, :124, :162-163), then visit frequencies
    // pruned to L per origin (capped-insert deviation); scores are exact
    // small rationals (LONG sums / R) — cross-engine stable
    val visitAgg = chunkAggs match {
      case Nil        => null
      case one :: Nil => one
      case many       => many.reduce(_ union _)
    }
    val selfVisits = verts.select(col("id").as("seed"), col("id").as("node"),
      lit(r.toLong).as("visits"))
    val allVisits = if (visitAgg == null) selfVisits else selfVisits.union(visitAgg)
    // a leaf: its only reader is the combine below, whose cut fills it
    val walkBaskets = Materialize.leaf(TopK.topKWindow(
      allVisits.groupBy(col("seed"), col("node"))
        .agg((sum(col("visits")) / lit(r.toDouble)).as("score")),
      cfg.L))

    // ---- phase 2: the combine rows of [[localEngine]], from joins ----------
    // (seed, node, score, factor, own): the self row of every vertex from
    // `verts ⋈ adj`, and per edge s -> t the rows of basket(t) keyed by s.
    // Unweighted, the factor d/outdeg(s) rescales after the sum; weighted,
    // the per-edge factor d·w/Σw scales each score before it (factor 1.0)
    val factor =
      if (weighted) lit(1.0) else coalesce(lit(d) / col("outdeg"), lit(1.0)) // dangling: 1.0
    val selfRows = verts.join(adjList, verts("id") === adjList("src"), "left")
      .select(col("id").as("seed"), col("id").as("node"), (lit(1.0) / factor).as("score"),
        factor.as("factor"), lit(true).as("own"))
    val edgeFactor = ewOpt match {
      case Some(ew) =>
        ew.join(ew.groupBy(col("src")).agg(sum(col("w")).as("wsum")), "src")
          .select(col("src"), col("dst"), (lit(d) * col("w") / col("wsum")).as("pre"),
            lit(1.0).as("factor"))
      case None =>
        adjList.select(col("src"), explode(col("dsts")).as("dst"), lit(1.0).as("pre"),
          factor.as("factor"))
    }
    val succRows = edgeFactor.join(walkBaskets, edgeFactor("dst") === walkBaskets("seed"))
      .select(edgeFactor("src").as("seed"), col("node"), (col("score") * col("pre")).as("score"),
        col("factor"), lit(false).as("own"))
    val result = Materialize.cut(scatteredCombine(selfRows.union(succRows), cfg))
    // result materialized: the walk baskets and every chunk/batch partial
    // reachable from visitAgg are superseded — free the blocks instead of
    // waiting for the ContextCleaner (a many-chunk budget-bound run
    // otherwise keeps nChunks frames cached)
    Materialize.free(Seq(walkBaskets, adjList) ++ ewOpt ++ Option(visitAgg): _*)
    (result, McWalkStats(maxInFlight, nChunks, nOrigins, nOrigins * effective))
  }

  /** The local engine: walk and combine in ONE job over the vertex ids.
    *
    * Walk — same draws as [[walkStep]] (mix31Scala is the Column mixer's
    * scalar twin): step 1 always traverses with round-robin pick walkId mod
    * outdeg; later steps survive iff mix/P <= d and pick (walkId + mix) mod
    * outdeg (weighted: the cumulative-weight interval); a walk dies at a
    * node with no successors. Origin t's walks all run in its task, so the
    * task holds t's complete visit counts and cuts its basket: the R
    * self-visits folded in (a vertex without successors never walks and
    * gets {t: 1.0}), ranked by (visits desc, node asc) — the order of
    * score = visits / R — and cut to L.
    *
    * Scatter — the task then emits phase 2's input rows for t: the self
    * row (t, t, 1/factor_t) and, per predecessor edge s -> t (duplicate
    * edges repeat, self-loops included), the rows (s, node, score) for
    * basket(t). The join engine builds the same rows with joins, and one
    * `repartition(seed)` does the grid sum, the L cut, the ×factor rescale
    * and the K cut ([[scatteredCombine]]). Weighted input applies the
    * per-edge factor d·w/Σw before the sum. Returns the materialized result
    * and the walk stats. */
  private def localEngine(verts: DataFrame, adjBase: DataFrame, cfg: PprConfig,
      effective: Long, salt: Long, maxSteps: Int,
      weighted: Boolean): (DataFrame, McWalkStats) = {
    import scala.collection.mutable.ArrayBuilder
    import graft.kernels.Mix.mix31Scala
    val spark = verts.sparkSession
    import spark.implicits._
    val iterations = cfg.iterations
    val d = cfg.damping
    val l = cfg.L
    // weighted entries carry the cumulative-weight array next to the dsts
    // (null when unweighted) — the scalar twin of the Column-side pickIdx
    val adjRows =
      (if (weighted) adjBase.select(col("src"), col("dsts"), col("cws"))
       else adjBase.select(col("src"), col("dsts"))).collect()
    val amap = new java.util.HashMap[Long, (Array[Long], Array[Long])](adjRows.length * 2)
    adjRows.foreach(row => amap.put(row.getLong(0),
      (row.getSeq[Long](1).toArray, if (weighted) row.getSeq[Long](2).toArray else null)))
    // reverse adjacency t -> (predecessors s, factor of edge s -> t), from
    // the same rows: d/outdeg(s), or d·w(s,t)/Σ_out w(s) when weighted
    // (w(s,t) = cws(i) - cws(i-1) and Σ_out w(s) = cws.last, both exact)
    val acc = scala.collection.mutable.LongMap.empty[(ArrayBuilder.ofLong, ArrayBuilder.ofDouble)]
    amap.forEach { (s, entry) =>
      val (dsts, cws) = entry
      for (i <- dsts.indices) {
        val f =
          if (cws == null) d / dsts.length
          else d * (cws(i) - (if (i == 0) 0L else cws(i - 1))) / cws(cws.length - 1)
        val (ps, fs) = acc.getOrElseUpdate(dsts(i), (new ArrayBuilder.ofLong, new ArrayBuilder.ofDouble))
        ps += s; fs += f
      }
    }
    val rev = new java.util.HashMap[Long, (Array[Long], Array[Double])](acc.size * 2)
    acc.foreach { case (t, (ps, fs)) => rev.put(t, (ps.result(), fs.result())) }
    val bcFwd = spark.sparkContext.broadcast(amap)
    val bcRev = spark.sparkContext.broadcast(rev)
    val sSalt = survivalSalt(salt)
    val pSalt = pickSalt(salt)
    // a stat only: a re-run task would count its origins twice
    val walking = spark.sparkContext.longAccumulator

    // origin `seed`'s walk basket, cut to L: (node, score) by score desc (a
    // function value, not a local def: that would capture this object)
    val basket: (java.util.HashMap[Long, (Array[Long], Array[Long])], Long) => Array[(Long, Double)] =
      (adj, seed) => {
        val mine = scala.collection.mutable.LongMap.empty[Long]
        mine(seed) = iterations.toLong // origin counted R times (:124, :162-163)
        val origin = adj.get(seed) // null: dangling, never walks
        if (origin != null) walking.add(1L)
        var w = 0L
        while (origin != null && w < effective) {
          var cur = seed
          var s = 1
          var alive = true
          while (alive && s <= maxSteps) {
            if (s > 1 && (mix31Scala(seed, w, s, sSalt) / P.toDouble) > d) alive = false
            else {
              val entry = adj.get(cur)
              if (entry == null || entry._1.length == 0) alive = false
              else {
                val (dsts, cws) = entry
                val base = if (s == 1) w else w + mix31Scala(seed, cur, s, pSalt)
                val idx =
                  if (cws == null) (base % dsts.length).toInt
                  else weightedPick(cws, base % cws(cws.length - 1))
                cur = dsts(idx)
                mine(cur) = mine.getOrElse(cur, 0L) + 1L
                s += 1
              }
            }
          }
          w += 1
        }
        mine.toArray
          .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
          .take(l)
          .map { case (node, n) => (node, n.toDouble / iterations) }
        }

    // rows (seed, node, score, factor, own): `factor` is the seed's
    // post-sum rescale (1.0 when weighted — scores arrive pre-scaled) and
    // `own` marks the self row, which only a seed in `verts` emits
    val rows = verts.as[Long].mapPartitions { ids =>
      val adj = bcFwd.value
      val preds = bcRev.value
      ids.flatMap { t =>
        val b = basket(adj, t)
        val self =
          if (weighted) (t, t, 1.0, 1.0, true)
          else {
            val e = adj.get(t)
            val factor = if (e == null || e._1.length == 0) 1.0 else d / e._1.length
            (t, t, 1.0 / factor, factor, true)
          }
        val in = preds.get(t)
        val scattered =
          if (in == null) Iterator.empty
          else in._1.indices.iterator.flatMap { j =>
            val (s, f) = (in._1(j), in._2(j))
            if (weighted) b.iterator.map { case (node, sc) => (s, node, sc * f, 1.0, false) }
            else b.iterator.map { case (node, sc) => (s, node, sc, f, false) }
          }
        Iterator.single(self) ++ scattered
      }
    }.toDF("seed", "node", "score", "factor", "own")
    // materialize before the broadcasts can be dropped
    val result = Materialize.cut(scatteredCombine(rows, cfg))
    bcFwd.destroy()
    bcRev.destroy()
    val nOrigins = walking.sum
    (result, McWalkStats(0L, 0, nOrigins, nOrigins * effective))
  }

  /** Phase 2, the one gather superstep (:211-250), for both engines: over
    * rows (seed, node, score, factor, own), ONE `repartition(seed)` serves
    * the (seed, node) grid sum, the top-L rank, the ×factor rescale and the
    * top-K rank (the aligned prune shape of [[TopK.pruneTopLAligned]]).
    * The grid sum does not depend on addend order, so the engines' rows
    * need not arrive alike. A seed outside `verts` has no self row
    * (`own`) and gets no basket. Weighted rows arrive pre-scaled by the
    * per-edge factor d·w(s,t)/Σ_out w(s) with factor 1.0 (per-edge factors
    * force scale-then-prune; for a per-seed constant the two orders agree);
    * the self entry is exactly 1.0 either way (:124). */
  private def scatteredCombine(rows: DataFrame, cfg: PprConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val partitions = rows.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val bySeed = Window.partitionBy("seed").orderBy(col("score").desc, col("node").asc)
    val cut = rows.repartition(partitions, col("seed"))
      .groupBy(col("seed"), col("node"))
      .agg(TopK.sumScore(cfg.quantize), max(col("factor")).as("factor"), max(col("own")).as("own"))
      .select(col("seed"), col("node"), col("score"), col("factor"),
        row_number().over(bySeed).as("rn"),
        max(col("own")).over(bySeed.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("member"))
      .where(col("member") && col("rn") <= cfg.L)
      .select(col("seed"), col("node"), (col("score") * col("factor")).as("score"))
    TopK.topKWindow(cut, cfg.K)
  }
}
