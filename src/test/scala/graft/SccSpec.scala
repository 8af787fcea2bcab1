package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scc
import graft.sources.EdgeSource

class SccSpec extends AnyFunSuite with GraphFixtures {

  /** Plain-Scala iterative Tarjan — the independent local oracle. */
  private def localScc(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val succ = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val index = mutable.Map.empty[Long, Int]
    val low = mutable.Map.empty[Long, Int]
    val onStack = mutable.Set.empty[Long]
    val stack = mutable.Stack.empty[Long]
    val comp = mutable.Map.empty[Long, Long]
    var counter = 0
    // explicit work stack (node, child iterator) to avoid deep recursion
    def strongconnect(v0: Long): Unit = {
      val work = mutable.Stack[(Long, Iterator[Long])]((v0, succ.getOrElse(v0, Nil).iterator))
      index(v0) = counter; low(v0) = counter; counter += 1
      stack.push(v0); onStack += v0
      while (work.nonEmpty) {
        val (v, it) = work.top
        var descended = false
        while (it.hasNext && !descended) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.push(w); onStack += w
            work.push((w, succ.getOrElse(w, Nil).iterator))
            descended = true
          } else if (onStack(w)) {
            low(v) = math.min(low(v), index(w))
          }
        }
        if (!descended) {
          work.pop()
          if (work.nonEmpty) {
            val (p, _) = work.top
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = mutable.ListBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
            val m = members.min
            members.foreach(comp(_) = m)
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    comp.toMap
  }

  /** Plain-Scala forward/backward min-label refinement with one-hop
    * propagation only (no pointer doubling): the reference fixpoint the
    * operator's doubled propagation must reproduce. */
  private def localPlainRefinement(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    def propagate(es: Seq[(Long, Long)], vs: Seq[Long]): Map[Long, Long] = {
      val lab = mutable.Map.from(vs.map(v => v -> v))
      var moving = true
      while (moving) {
        moving = false
        es.foreach { case (s, d) =>
          if (lab(s) < lab(d)) { lab(d) = lab(s); moving = true }
        }
      }
      lab.toMap
    }
    val comp = mutable.Map.empty[Long, Long]
    var cls = nodes.map(v => v -> (0L, 0L)).toMap
    while (cls.nonEmpty) {
      val es = edges.filter { case (s, d) => cls.get(s).exists(c => cls.get(d).contains(c)) }
      val vs = cls.keys.toSeq
      val f = propagate(es, vs)
      val b = propagate(es.map(_.swap), vs)
      vs.foreach(v => if (f(v) == b(v)) comp(v) = f(v))
      cls = vs.filter(v => f(v) != b(v)).map(v => v -> (f(v), b(v))).toMap
    }
    comp.toMap
  }

  private def run(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] =
    Scc.scc(edgesDf(edges), verticesDf(nodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("scc: cycles, chains, and an isolated vertex") {
    // two 3-cycles joined by a one-way bridge, a chain, an isolated vertex
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L), // scc {0,1,2}
      (2L, 10L),                    // bridge
      (10L, 11L), (11L, 12L), (12L, 10L), // scc {10,11,12}
      (20L, 21L), (21L, 22L)) // chain of singletons
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 12L, 20L, 21L, 22L, 30L)
    val got = run(edges, nodes)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 21L, 22L -> 22L, 30L -> 30L))
  }

  test("scc: matches iterative Tarjan on seeded random graphs") {
    for (seed <- Seq(1L, 7L, 13L)) {
      val edges = randomGraph(60, 150, seed).filter(e => e._1 != e._2)
      val nodes = (0L until 60L).toSeq
      assert(run(edges, nodes) == localScc(edges, nodes), s"seed $seed")
    }
  }

  test("scc: the nested-class counterexample that breaks one-shot (f,b) labeling") {
    // 0 -> {1, 3}; 1 -> 2; 3 -> 2. After ONE forward/backward pass, 2 and 3
    // share the label pair (0, 2) without being strongly connected — the
    // refinement loop must split them in the second round.
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 3L), (3L, 2L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    assert(run(edges, nodes) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("bowtie: hand-built core/in/out/tendril/tube/disconnected graph") {
    // core = 3-cycle {5,6,7}; IN: 1 -> 5, 0 -> 1; OUT: 7 -> 8, 8 -> 9;
    // tendril off IN: 1 -> 15 (reaches OUT? no — 15 is a dead end OTHER);
    // tube: 0 -> 16 -> 9 (bypasses the core: OTHER);
    // second small scc {20,21} disconnected: OTHER.
    val edges = Seq(
      (5L, 6L), (6L, 7L), (7L, 5L),
      (1L, 5L), (0L, 1L),
      (7L, 8L), (8L, 9L),
      (1L, 15L),
      (0L, 16L), (16L, 9L),
      (20L, 21L), (21L, 20L))
    val nodes = Seq(0L, 1L, 5L, 6L, 7L, 8L, 9L, 15L, 16L, 20L, 21L)
    val got = Scc.bowtie(edgesDf(edges), verticesDf(nodes))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      5L -> "CORE", 6L -> "CORE", 7L -> "CORE",
      0L -> "IN", 1L -> "IN",
      8L -> "OUT", 9L -> "OUT",
      15L -> "OTHER", 16L -> "OTHER", 20L -> "OTHER", 21L -> "OTHER"))
  }

  test("scc: pointer-doubling propagation reaches the identical fixpoint") {
    val edges = randomGraph(50, 160, seed = 31).filter(e => e._1 != e._2)
    val nodes = (0L until 50L).toSeq
    assert(run(edges, nodes) == localPlainRefinement(edges, nodes))
  }

  test("bowtie: precomputed scc frame gives the identical decomposition") {
    val edges = Seq(
      (5L, 6L), (6L, 7L), (7L, 5L),
      (1L, 5L), (0L, 1L),
      (7L, 8L), (8L, 9L),
      (1L, 15L),
      (0L, 16L), (16L, 9L),
      (20L, 21L), (21L, 20L))
    val nodes = Seq(0L, 1L, 5L, 6L, 7L, 8L, 9L, 15L, 16L, 20L, 21L)
    val (e, v) = (edgesDf(edges), verticesDf(nodes))
    val comp = Scc.scc(e, v)
    val viaPre = Scc.bowtie(e, v, precomputedScc = Some(comp))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = Scc.bowtie(e, v)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaPre == direct)
  }

  test("bowtie: largest-SCC tie breaks to the smaller scc id") {
    // two disjoint 2-cycles: core must be {0,1} (min id), {10,11} -> OTHER
    val edges = Seq((0L, 1L), (1L, 0L), (10L, 11L), (11L, 10L))
    val nodes = Seq(0L, 1L, 10L, 11L)
    val got = Scc.bowtie(edgesDf(edges), verticesDf(nodes))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "CORE", 1L -> "CORE", 10L -> "OTHER", 11L -> "OTHER"))
  }

  test("scc: resume from a mid-run checkpoint equals the straight-through run") {
    val edges = randomGraph(60, 150, seed = 23).filter(e => e._1 != e._2)
    val nodes = (0L until 60L).toSeq
    val dir = java.nio.file.Files.createTempDirectory("scc-ckpt").toString
    val mgr = new graft.operators.CheckpointManager(dir)
    val straight = Scc.scc(edgesDf(edges), verticesDf(nodes),
        checkpoint = Some(mgr), checkpointEvery = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val committed = mgr.committed()
    assert(committed.size >= 2, s"expected >=2 refinement snapshots, got $committed")
    // keep only the FIRST snapshot (simulate a crash after round 1), resume
    committed.tail.foreach { i =>
      val d = new java.io.File(f"$dir/iter_$i%06d")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(d)
    }
    assert(mgr.committed() == Seq(committed.head))
    val resumed = Scc.scc(edgesDf(edges), verticesDf(nodes),
        checkpoint = Some(mgr), resume = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == straight)
  }

  test("scc: self-loops do not affect membership") {
    val got = run(Seq((0L, 0L), (0L, 1L), (1L, 0L), (2L, 2L)), Seq(0L, 1L, 2L))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }
}
