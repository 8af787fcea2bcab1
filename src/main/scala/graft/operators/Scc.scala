package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{IterTuning, Materialize}

/** Strongly connected components and the web bow-tie decomposition
  * (Broder et al., "Graph structure in the web", 2000) — the directed-graph
  * structure analysis the reference's undirected toolkit (CC / 2-coloring,
  * include/internal/pprInternal.h:30-99) has no answer to, and the first
  * question asked of any crawl-derived link graph: how big is the CORE, who
  * can reach it (IN), who does it reach (OUT)?
  *
  * Algorithm: iterated forward/backward min-label refinement (the coloring
  * scheme of Orzan 2004 / FW-BW with the minimum vertex as implicit pivot).
  * Every vertex starts in one class; each refinement round computes, WITHIN
  * its current class,
  *
  *   f(v) = min id over {v} ∪ {in-class ancestors of v}   (forward min-label
  *          fixpoint along edges)
  *   b(v) = min id over {v} ∪ {in-class descendants of v} (same along
  *          reversed edges)
  *
  * Vertices with f(v) = b(v) = m are FINALIZED with scc = m: m ⇝ v and
  * v ⇝ m inside the class, so v ∈ SCC(m). This finalization is atomic per
  * SCC — if any member of SCC(m) observes (m, m) then every member does
  * (ancestors/descendants of one member are ancestors/descendants of all) —
  * so no SCC is ever split across rounds. Survivors re-partition by the
  * (f, b) pair — refinement only splits classes and never separates an SCC
  * (an SCC's members always share (f, b)) — and the next round recomputes
  * labels with edges RESTRICTED to same-class endpoints. At a fixpoint a
  * class with uniform (m, m2) forces m = m2 (m is the class minimum and its
  * own min in-class descendant), i.e. the only fixpoint classes are exactly
  * the SCCs; each round finalizes at least the class-minimum's SCC in every
  * class, so the loop terminates.
  *
  * 100-TB shape: per refinement round, two hash joins restrict the edge set
  * to same-class endpoints (the restricted set only SHRINKS as components
  * finalize — like star-contraction's geometric edge decay), then ONE
  * fused min-propagation fixpoint — forward and backward labels ride the
  * same direction-tagged state frame, so each superstep is a single
  * union + map-side-combinable min-aggregation exchange (the HyperBall
  * gather shape; a 10^7-in-degree hub's incoming labels partial-aggregate
  * before the shuffle), with a pointer-doubling hop that cuts the round
  * count toward log₂ of the diameter. The convergence probe is label monotonicity: the
  * exact DECIMAL(38,0) label sum strictly decreases until the fixpoint —
  * observed on the round's own checkpoint job, no compare join. Propagation
  * rounds are bounded by the in-class forward diameter — small for web graphs
  * (effective diameter O(log n)); refinement rounds by the
  * reachability-class structure, a handful for the web's bow tie (driver
  * fixture: 6 refinement rounds, ≤26 propagation rounds).
  *
  * Every lineage cut is read through StatsBarrier.statsBarrier: this
  * operator is the worst case of Spark 4's localCheckpoint stats-carry
  * pathology (cand = fwd ⋈ bwd and e ⋈ active ⋈ active double the carried
  * sizeInBytes BigInt's bit-length at every cut; measured 0.4 s → 76 s per
  * superstep before the barrier — see StatsBarrier's Scaladoc).
  * `Materialize.free` on a barrier view frees the checkpoint behind it.
  */
object Scc {

  import org.apache.spark.sql.graft.StatsBarrier.statsBarrier

  /** (id, scc) with scc = minimum vertex id of v's strongly connected
    * component. Self-loops are irrelevant to SCC membership and dropped.
    *
    * Checkpoint/resume (the engine-wide contract, here for the one
    * operator that does not ride IterativeEngine's loop): with
    * `checkpointEvery` > 0 and a [[CheckpointManager]], every Nth
    * refinement round snapshots the full loop state — finalized vertices as
    * (id, done=true, a=scc) and open ones as (id, done=false, a=cf, b=cb) —
    * with the manager's usual per-partition lineage manifest;
    * `resume = true` restarts from the latest committed snapshot
    * (refinement is a pure function of (edges, state), so resumed and
    * straight-through runs produce identical results — test-gated). */
  def scc(edges: DataFrame, vertices: DataFrame, maxRefineRounds: Int = 30,
      maxPropagateRounds: Int = 500,
      checkpoint: Option[CheckpointManager] = None, checkpointEvery: Int = 0,
      resume: Boolean = false): DataFrame =
    IterTuning.withoutRuntimeFilters(edges.sparkSession) {
      val e0 = statsBarrier(Materialize.cut(edges
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .dropDuplicates("src", "dst")))
      var finalized = List.empty[DataFrame]
      var round = 0
      val open = checkpoint.filter(_ => resume).flatMap(_.latest(edges.sparkSession)) match {
        case Some((i, df)) =>
          round = i
          val loaded = Materialize.cut(df)
          finalized = List(loaded.where(col("done")).select(col("id"), col("a").as("scc")))
          loaded.where(!col("done")).select(col("id"), col("a").as("cf"), col("b").as("cb"))
        case None =>
          vertices.select(col("id").cast("long").as("id"), lit(0L).as("cf"), lit(0L).as("cb"))
      }
      // the open-vertex count is observed on each `active` cut
      val (ck, observed) = Materialize(open)
      var active = statsBarrier(ck)
      var activeCount = observed.getLong(0)
      var history = Vector.empty[IterMetrics]
      while (activeCount > 0 && round < maxRefineRounds) {
        val tRound = System.nanoTime()
        val a1 = active.select(col("id").as("sid"), col("cf").as("scf"), col("cb").as("scb"))
        val a2 = active.select(col("id").as("did"), col("cf").as("dcf"), col("cb").as("dcb"))
        val eAct = statsBarrier(Materialize.cut(e0
          .join(a1, e0("src") === a1("sid"))
          .join(a2, e0("dst") === a2("did"))
          .where(col("scf") === col("dcf") && col("scb") === col("dcb"))
          .select(col("src"), col("dst"))))
        val cand = biMinPropagate(eAct, active.select(col("id")), maxPropagateRounds)
        Materialize.free(eAct)
        // finalized frames are kept alive to the end
        finalized ::= statsBarrier(Materialize.cut(cand.where(col("f") === col("b"))
          .select(col("id"), col("f").as("scc"))))
        val (next, m) = Materialize(cand.where(col("f") =!= col("b"))
          .select(col("id"), col("f").as("cf"), col("b").as("cb")))
        Materialize.free(active, cand)
        active = statsBarrier(next)
        activeCount = m.getLong(0)
        round += 1
        if (checkpointEvery > 0 && checkpoint.isDefined && round % checkpointEvery == 0) {
          val snapshot = finalized
            .map(_.select(col("id"), lit(true).as("done"),
              col("scc").as("a"), lit(null).cast("long").as("b")))
            .foldLeft(active.select(col("id"), lit(false).as("done"),
              col("cf").as("a"), col("cb").as("b")))(_ union _)
          val m = IterMetrics(round, Double.NaN, activeCount, (System.nanoTime() - tRound) / 1000000)
          history :+= m
          checkpoint.get.save(snapshot, round, m, history)
        }
      }
      require(activeCount == 0,
        s"SCC refinement did not converge within $maxRefineRounds rounds ($activeCount vertices open)")
      Materialize.free(e0, active)
      finalized.reduce(_ union _)
    }

  /** Bow-tie decomposition: (id, region) with region in
    * CORE (the largest SCC, ties to the smallest scc id), IN (reaches the
    * core, outside it), OUT (reached from the core, outside it), OTHER
    * (tendrils, tubes, disconnected). IN/OUT are one fused reachability
    * flood seeded at the core representative — legitimate because the core
    * is strongly connected, so reaching ANY member is reaching all.
    *
    * `precomputedScc`: an (id, scc) frame from a prior [[scc]] run on the
    * SAME (edges, vertices) — callers that just computed components (the
    * scc+bowtie pair is the common usage) skip the full refinement loop and
    * pay only the reachability flood (VERDICT r5 #3; measured ~29 s → ~10 s
    * at sf0.1). The frame is trusted as-is — passing components of a
    * different graph yields garbage regions. */
  def bowtie(edges: DataFrame, vertices: DataFrame, maxRefineRounds: Int = 30,
      maxPropagateRounds: Int = 500,
      precomputedScc: Option[DataFrame] = None): DataFrame =
    IterTuning.withoutRuntimeFilters(edges.sparkSession) {
      val own = Option.when(precomputedScc.isEmpty)(
        scc(edges, vertices, maxRefineRounds, maxPropagateRounds))
      val comp = Materialize.cut(precomputedScc
        .map(_.select(col("id").cast("long").as("id"), col("scc").cast("long").as("scc")))
        .orElse(own).get)
      own.foreach(Materialize.free(_)) // its rows live on in comp
      // largest SCC, ties to min id — combinable min-struct argmax, then one
      // 1-row action (the audited driver-scalar pattern)
      val coreRow = comp.groupBy(col("scc")).agg(count(lit(1)).as("n"))
        .agg(min(struct((-col("n")).as("negN"), col("scc").as("s"))).as("best"))
        .head()
      val core = coreRow.getStruct(0).getLong(1)
      val e0 = statsBarrier(Materialize.cut(edges
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .dropDuplicates("src", "dst")))
      val ids = vertices.select(col("id").cast("long").as("id"))
      // dir 0: flood along edges (descendants of core = OUT ∪ CORE);
      // dir 1: flood along reversed edges (ancestors = IN ∪ CORE)
      val reach = biReachableFrom(e0, ids, core, maxPropagateRounds)
      Materialize.free(e0)
      comp
        .join(reach, Seq("id"), "left")
        .select(col("id"),
          when(col("scc") === core, "CORE")
            .when(coalesce(col("toCore"), lit(false)), "IN")
            .when(coalesce(col("fromCore"), lit(false)), "OUT")
            .otherwise("OTHER").as("region"))
    }

  /** Direction-tagged edge closure: dir 0 = as given, dir 1 = reversed. */
  private def biEdges(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"), lit(0).as("dir"))
      .union(e.select(col("dst").as("src"), col("src").as("dst"), lit(1).as("dir")))

  /** Fused forward/backward min-label propagation: lab(v, dir) starts at v;
    * each superstep lab(v, dir) ← min(lab(v, dir), dir-tagged in-neighbor
    * labels, lab(lab(v), dir)) as ONE union + map-side-combinable min
    * aggregation. Returns (id, f, b), cut and read through the stats
    * barrier.
    *
    * The lab(lab(v)) term is a pointer-doubling hop (VERDICT r5 #6):
    * labels are vertex ids, and lab(u) = w means w reaches u, so
    * min(lab(v), lab(lab(v))) extends the reached path length
    * multiplicatively — round count drops from the in-class diameter toward
    * log₂(diameter) at the price of a second join (state ⋈ state on
    * lab = id) per round. Same fixpoint as plain propagation; measured
    * −21% and −15% on the two bench graphs against it (BASELINE.md "SCC
    * pointer-doubling"). */
  private def biMinPropagate(e: DataFrame, verts: DataFrame, maxRounds: Int): DataFrame = {
    val eBi = statsBarrier(Materialize.cut(biEdges(e)))
    // the exact label sum is observed on each state cut (null on no rows)
    val labSum = sum(col("lab").cast("decimal(38,0)"))
    val (ck, s0) = Materialize(verts.select(col("id"), explode(array(lit(0), lit(1))).as("dir"))
      .select(col("id"), col("dir"), col("id").as("lab")), labSum)
    var state = statsBarrier(ck)
    var prevSum = s0.get(1)
    var moving = true
    var i = 0
    while (moving && i < maxRounds) {
      val gathered = state
        .join(eBi, state("id") === eBi("src") && state("dir") === eBi("dir"))
        .select(eBi("dst").as("id"), eBi("dir").as("dir"), col("lab"))
      // pointer-doubling hop: follow v's current label to ITS label —
      // lab(v)=u and lab(u)=w imply w ⇝ u ⇝ v in this direction
      val s2 = state.select(col("id").as("lid"), col("dir").as("ldir"),
        col("lab").as("llab"))
      val hop = state
        .join(s2, state("lab") === s2("lid") && state("dir") === s2("ldir"))
        .select(state("id"), state("dir"), col("llab").as("lab"))
      val (next, m) = Materialize(state.union(gathered).union(hop)
        .groupBy(col("id"), col("dir"))
        .agg(min(col("lab")).as("lab")), labSum)
      moving = m.get(1) != prevSum
      prevSum = m.get(1)
      Materialize.free(state)
      state = statsBarrier(next)
      i += 1
    }
    require(!moving, s"min-label propagation still moving after $maxRounds rounds")
    val labels = statsBarrier(Materialize.cut(state.groupBy(col("id"))
      .agg(min(when(col("dir") === 0, col("lab"))).as("f"),
        min(when(col("dir") === 1, col("lab"))).as("b"))))
    Materialize.free(eBi, state)
    labels
  }

  /** Fused bidirectional reachability flood from `root`:
    * (id, fromCore BOOLEAN, toCore BOOLEAN). Same one-exchange union + max
    * superstep over a 1-bit label; the monotonically non-decreasing
    * reached-count is the convergence probe. */
  private def biReachableFrom(e: DataFrame, verts: DataFrame, root: Long,
      maxRounds: Int): DataFrame = {
    val eBi = statsBarrier(Materialize.cut(biEdges(e)))
    // the reached count is observed on each state cut (null on no rows)
    val reached = sum(col("reach"))
    val (ck, r0) = Materialize(verts.select(col("id"), explode(array(lit(0), lit(1))).as("dir"))
      .select(col("id"), col("dir"), (col("id") === root).cast("int").as("reach")), reached)
    var state = statsBarrier(ck)
    var prevReached = r0.get(1)
    var moving = true
    var i = 0
    while (moving && i < maxRounds) {
      val front = state.where(col("reach") === 1)
      val gathered = front
        .join(eBi, front("id") === eBi("src") && front("dir") === eBi("dir"))
        .select(eBi("dst").as("id"), eBi("dir").as("dir"), front("reach"))
      val (next, m) = Materialize(state.union(gathered)
        .groupBy(col("id"), col("dir"))
        .agg(max(col("reach")).as("reach")), reached)
      moving = m.get(1) != prevReached
      prevReached = m.get(1)
      Materialize.free(state)
      state = statsBarrier(next)
      i += 1
    }
    Materialize.free(eBi)
    state.groupBy(col("id"))
      .agg(max(when(col("dir") === 0, col("reach"))).as("f0"),
        max(when(col("dir") === 1, col("reach"))).as("t0"))
      .select(col("id"), (coalesce(col("f0"), lit(0)) === 1).as("fromCore"),
        (coalesce(col("t0"), lit(0)) === 1).as("toCore"))
  }
}
