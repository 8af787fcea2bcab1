package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kernels.Materialize
import graft.sources.EdgeSource

/** Connected components, label propagation, and the reference's approximate
  * 2-coloring — all iterative label fixpoints over the UNDIRECTED closure
  * (the reference's BFS walks successors AND predecessors:
  * include/internal/pprInternal.h:76-94).
  */
object Components {

  /** Connected components — the DEFAULT is large-star/small-star contraction
    * ([[connectedComponentsStar]]): rounds grow with log of the largest
    * component, not its diameter, which is the 100-TB requirement (a web
    * crawl contains long path-ish chains; min-id propagation needs one round
    * per hop). Min-id propagation is kept as [[connectedComponentsMinId]] —
    * the independently-shaped second implementation both the ScalaTest
    * equivalence spec and the driver's recursive-CTE oracle check against.
    * Returns (id, comp = minimum id of the component). */
  def connectedComponents(edges: DataFrame, vertices: DataFrame, maxIterations: Int = 100): DataFrame =
    connectedComponentsStar(edges, vertices, maxIterations)

  /** The alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *
    *   large-star: for every vertex u, link every STRICTLY LARGER neighbor
    *               v > u to m = min(N(u) ∪ {u})
    *   small-star: orient edges high->low; link every smaller neighbor and u
    *               itself to m = min(N<=(u) ∪ {u})
    *
    * Both steps preserve connectivity and monotonically shrink edge ids;
    * the fixpoint is a collection of stars centered at each component's
    * minimum vertex. Round count is O(log^2 n) worst case and ~log n in
    * practice (a 10k-vertex path converges in ~10 rounds — test-gated —
    * where min-id propagation needs 10k). Each step reads m(u) from a
    * window, min(dst) over (partition by src), on the edge rows themselves
    * — no groupBy and join back — so a round is three exchanges (large-star
    * window, small-star window, dedup) over the current edge set, which
    * CONTRACTS geometrically, unlike propagation, whose per-round cost
    * stays at |E| forever. A round is ONE job in a session without AQE:
    * the localCheckpoint that cuts it also carries the fixpoint
    * fingerprint as observed metrics.
    *
    * AQE stays on here (no IterTuning.forLoop scope): with it off a round
    * is one job instead of four (AQE submits each shuffle stage as its own
    * job), but every exchange keeps the session's full shuffle partition
    * count, where AQE coalesces the small contracting edge sets. On the
    * corpus_dedup benchmark's pair graph (local[3], 8 shuffle partitions,
    * two traced runs each) the AQE-off variant ran 8 jobs and 110 tasks
    * against 15 jobs and 26 tasks, and its span took 0.87–1.42 s against
    * 0.97–1.10 s: no gain for the extra tasks. */
  def connectedComponentsStar(edges: DataFrame, vertices: DataFrame, maxIterations: Int = 100): DataFrame =
    connectedComponentsStarWithRounds(edges, vertices, maxIterations)._1

  /** [[connectedComponentsStar]] plus the number of contraction rounds it
    * took — the test-gated O(log n) evidence. */
  private[graft] def connectedComponentsStarWithRounds(
      edges: DataFrame, vertices: DataFrame, maxIterations: Int = 100): (DataFrame, Int) = {
    // m(u) = min(N(u) ∪ {u}) rides each edge row of u
    val byU = Window.partitionBy(col("src"))
    def largeStar(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .select(col("src"), col("dst"), least(min(col("dst")).over(byU), col("src")).as("m"))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    // oriented high -> low, so min(dst) < src is already m(u); each edge
    // row emits its neighbor's link and u's own (u > m always), and the
    // final dedup folds the repeats
    def smallStar(e: DataFrame): DataFrame =
      e.select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
        .select(col("src"), col("dst"), min(col("dst")).over(byU).as("m"))
        .select(explode(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src").as("src"), col("m").as("dst")))).as("l"))
        .where(col("l.src") =!= col("l.dst"))
        .select(col("l.src").as("src"), col("l.dst").as("dst"))
        .dropDuplicates("src", "dst")
    // every cut materializes ONE job: the set fingerprint (row count +
    // commutative hash XOR — the edge set is deduplicated, and XOR cannot
    // overflow under ANSI mode) is observed on the checkpoint. Each cut is
    // read through the stats barrier: localCheckpoint carries the plan's
    // size estimate into the next round, where large-star's union alone
    // doubles it (the Scc pathology — see StatsBarrier's Scaladoc)
    import org.apache.spark.sql.graft.StatsBarrier.statsBarrier
    val edgeXor = coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))
    var (e, fp) = Materialize(EdgeSource.undirected(edges)
      .where(col("src") < col("dst")), edgeXor) // one canonical row per undirected pair
    e = statsBarrier(e)
    var done = fp.getLong(0) == 0L
    var i = 0
    while (!done && i < maxIterations) {
      val (next, nfp) = Materialize(smallStar(largeStar(e)), edgeXor)
      done = nfp == fp
      fp = nfp
      Materialize.free(e)
      e = statsBarrier(next)
      i += 1
    }
    // fixpoint edges are (child -> component-min root); roots and isolated
    // vertices map to themselves
    val mapping = e.groupBy(col("src").as("id")).agg(min(col("dst")).as("comp"))
    val res = vertices.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (res, i)
  }

  /** Connected components by iterative min-id propagation: comp(v) starts at
    * v; each superstep takes min(comp(v), min over neighbors comp(u));
    * fixpoint when nothing changes. Exact, deterministic. Returns (id, comp).
    *
    * Rounds = graph diameter — fine on small-diameter graphs, pathological
    * on chains; the default entry point is [[connectedComponentsStar]]. */
  def connectedComponentsMinId(edges: DataFrame, vertices: DataFrame, maxIterations: Int = 100): DataFrame = {
    val und = EdgeSource.undirected(edges).localCheckpoint(eager = false)
    var state = vertices.select(col("id"), col("id").as("comp")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIterations) {
      val nbrMin = state.join(und, state("id") === und("src"))
        .groupBy(col("dst").as("id2")).agg(min(col("comp")).as("nbrComp"))
      // the round's change count is observed on its own cut
      val (next, m) = Materialize(state.join(nbrMin, state("id") === nbrMin("id2"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"),
          col("comp").as("prev")), count(when(col("comp") =!= col("prev"), 1)))
      changed = m.getLong(1)
      Materialize.free(state)
      state = next.select(col("id"), col("comp"))
      i += 1
    }
    Materialize.free(und)
    state
  }

  /** Synchronous label propagation: label(v) starts at v; each round every
    * vertex adopts the most frequent label among its undirected neighbors
    * (ties -> smallest label; isolated vertices keep their label). Runs a
    * fixed number of rounds — LP on synchronous schedules can oscillate, so
    * the round count IS part of the operator's contract. Deterministic.
    * Returns (id, label). */
  def labelPropagation(edges: DataFrame, vertices: DataFrame, rounds: Int): DataFrame = {
    val und = EdgeSource.undirected(edges).localCheckpoint(eager = false)
    var state = vertices.select(col("id"), col("id").as("label")).localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val freq = state.join(und, state("id") === und("src"))
        .groupBy(col("dst").as("v"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // winner = argmax by (cnt desc, label asc) as a combinable min-struct
      // aggregation, NOT a row_number window: a web hub's distinct incoming
      // labels ≈ its in-degree in early rounds, and a window would sort all
      // of them in ONE partition; min() partial-aggregates map-side instead
      val winner = freq.groupBy(col("v"))
        .agg(min(struct((-col("cnt")).as("negCnt"), col("label").as("l"))).as("best"))
        .select(col("v"), col("best.l").as("newLabel"))
      val next = state.join(winner, state("id") === winner("v"), "left")
        .select(col("id"), coalesce(col("newLabel"), col("label")).as("label"))
        .localCheckpoint(true)
      Materialize.free(state)
      state = next
      i += 1
    }
    Materialize.free(und)
    state
  }

  /** O(log n) 2-coloring via the DOUBLED-graph reduction — the 100-TB scale
    * path next to the diameter-round [[twoColoring]]: every vertex v splits
    * into (v, even) and (v, odd), and each undirected edge {u, w} becomes
    * {(u,even),(w,odd)} and {(u,odd),(w,even)}. Then (u,p) and (w,q) are
    * connected iff some u-w path has parity p XOR q, so a BIPARTITE
    * component of G splits into exactly its two color classes — recovered
    * with [[connectedComponentsStar]] contraction in O(log n) rounds
    * instead of one superstep per BFS hop. Doubled ids are (v, parity)
    * STRUCTS (lexicographic min/compare), not 2v+parity arithmetic, so
    * full-range xxhash64 ids cannot overflow under ANSI mode — and struct
    * order makes the component containing (minId, even) carry the smaller
    * label, hence color(v) = 0 iff comp(v,even) < comp(v,odd): bit-equal to
    * [[twoColoring]]'s min-id-root distance parity wherever parity is
    * path-independent (i.e. on every bipartite component; test-gated).
    * A NON-bipartite component collapses into ONE doubled component
    * ((v,even) ~ (v,odd)) and is returned with color = -1 — an explicit
    * "no proper 2-coloring exists" flag instead of an arbitrary side.
    * [[twoColoring]] remains the reference-exact operator (BFS parity,
    * include/internal/pprInternal.h:30-99) for approximate coloring of
    * non-bipartite graphs; its round count is bounded by the largest root
    * eccentricity — accepted for the optional G5 schedule input, where web
    * components are short-diameter, and replaceable by this operator
    * whenever the corpus is bipartite or an exact-or-flagged answer is
    * wanted. */
  def twoColoringContract(edges: DataFrame, vertices: DataFrame,
      maxIterations: Int = 100): DataFrame =
    twoColoringContractWithRounds(edges, vertices, maxIterations)._1

  /** [[twoColoringContract]] plus contraction rounds (O(log n) evidence). */
  private[graft] def twoColoringContractWithRounds(edges: DataFrame,
      vertices: DataFrame, maxIterations: Int = 100): (DataFrame, Int) = {
    val und = EdgeSource.undirected(edges) // drops selfloops
    def enc(c: org.apache.spark.sql.Column, p: Int) =
      struct(c.as("v"), lit(p).as("p"))
    // a selfloop is a length-1 odd cycle: re-add it as the doubled edge
    // (v,even)-(v,odd), which collapses v's classes into the -1 flag
    val selfLoops = edges.where(col("src") === col("dst"))
      .select(enc(col("src"), 0).as("src"), enc(col("src"), 1).as("dst")).distinct()
    val doubled = und.select(enc(col("src"), 0).as("src"), enc(col("dst"), 1).as("dst"))
      .union(und.select(enc(col("src"), 1).as("src"), enc(col("dst"), 0).as("dst")))
      .union(selfLoops)
    val dv = vertices.select(explode(array(enc(col("id"), 0), enc(col("id"), 1))).as("id"))
    val (cc2, rounds) = connectedComponentsStarWithRounds(doubled, dv, maxIterations)
    val even = cc2.where(col("id.p") === 0).select(col("id.v").as("id"), col("comp").as("ce"))
    val odd = cc2.where(col("id.p") === 1).select(col("id.v").as("id2"), col("comp").as("co"))
    val res = even.join(odd, col("id") === col("id2"))
      .select(col("id"),
        when(col("ce") === col("co"), lit(-1))        // odd cycle: flagged
          .when(col("ce") < col("co"), lit(0))
          .otherwise(lit(1)).cast("int").as("color"))
    (res, rounds)
  }

  /** findPartitions — approximate 2-coloring by BFS over the undirected
    * closure (include/internal/pprInternal.h:30-99): every unvisited root
    * gets color 0 ("partition 1", :58-63); each newly visited neighbor takes
    * the complement of its discoverer's color (:74-75). A proper 2-coloring
    * iff the graph is bipartite, an approximation otherwise (thesis §4.1.1).
    *
    * Distributed formulation with identical results on bipartite graphs:
    * color(v) = parity of the BFS distance from v's component's minimum-id
    * vertex. On non-bipartite graphs a vertex reachable at both parities is
    * assigned its SHORTEST-distance parity (deterministic; the reference's
    * choice depends on hash-map iteration order — its own tests only assert
    * partition SIZES on bipartite/star/complete fixtures). Returns (id, color).
    */
  def twoColoring(edges: DataFrame, vertices: DataFrame, maxIterations: Int = 100): DataFrame = {
    val und = EdgeSource.undirected(edges).localCheckpoint(eager = false)
    // dist(v) starts at 0 for every vertex paired with root candidate = own id;
    // propagate (root=min comp id, dist) — equivalent to multi-source BFS from
    // all vertices where only the minimum root survives per vertex.
    var state = vertices.select(col("id"), col("id").as("root"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIterations) {
      val prop = state.join(und, state("id") === und("src"))
        .select(col("dst").as("id"), col("root"), (col("dist") + 1).as("dist"), lit(false).as("own"))
      // a vertex's own row carries its previous (root, dist) through the
      // aggregate, and the round's change count is observed on its cut (an
      // id new to the state has no previous value and counts as no change)
      val (next, m) = Materialize(state.select(col("id"), col("root"), col("dist"), lit(true).as("own"))
        .union(prop)
        .groupBy(col("id"))
        .agg(min(struct(col("root"), col("dist"))).as("best"),
          max(when(col("own"), struct(col("root"), col("dist")))).as("prev"))
        .select(col("id"), col("best.root").as("root"), col("best.dist").as("dist"),
          col("prev.root").as("pRoot"), col("prev.dist").as("pDist")),
        count(when(col("root") =!= col("pRoot") || col("dist") =!= col("pDist"), 1)))
      changed = m.getLong(1)
      Materialize.free(state)
      state = next.select(col("id"), col("root"), col("dist"))
      i += 1
    }
    Materialize.free(und)
    state.select(col("id"), pmod(col("dist"), lit(2L)).cast("int").as("color"))
  }
}
