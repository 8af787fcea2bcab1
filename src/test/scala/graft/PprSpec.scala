package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.model.PprConfig
import graft.operators.{ExactPpr, GRank, MonteCarloPpr, PushPpr}

/** Algorithm tests vs closed forms + exact oracle (SURVEY.md §5 tier 2). */
class PprSpec extends AnyFunSuite with GraphFixtures {

  // ---- exact PPR (the oracle itself, vs an independent local oracle) ----
  test("exactPpr: isolated node keeps {v: 0.15} — dangling mass leaks") {
    // pprSingleSourceTest.cc:22-29,44-54
    val got = baskets(ExactPpr.run(edgesDf(Nil), verticesDf(Seq(7L)), 10, 0.85, 1e-6))
    assert(got(7L).size == 1)
    assert(math.abs(got(7L)(7L) - 0.15) < 1e-12)
  }

  test("exactPpr: source is max on a cycle, strictly decreasing along it") {
    val got = baskets(ExactPpr.run(edgesDf(cycle(6)),
      verticesDf(Seq(0L)), 100, 0.85, 1e-9))(0L)
    val ordered = (0 until 6).map(i => got(i.toLong))
    assert(ordered == ordered.sorted.reverse) // pprSingleSourceTest.cc:90-110
    assert(ordered.head == got(0L))
  }

  test("exactPpr matches independent local power iteration on a random graph") {
    val es = randomGraph(25, 120, seed = 11)
    val nodes = (0L until 25L)
    val sparkRes = baskets(ExactPpr.run(edgesDf(es), verticesDf(Seq(3L, 8L)), 100, 0.85, 1e-9))
    for (s <- Seq(3L, 8L)) {
      val local = localExactPpr(es, nodes, s, 100, 0.85, 1e-9)
      assertAllClose(Map(s -> sparkRes(s)), Map(s -> local), 1e-9)
    }
  }

  // ---- GRank closed forms (grankTest.cc) --------------------------------
  test("grank: edgeless graph -> every basket is {v: 0.15}") {
    val vs = verticesDf(0L until 5L)
    val got = baskets(GRank.run(edgesDf(Nil), vs, PprConfig(2, 3, 10)))
    assert(got.keySet == (0L until 5L).toSet)
    for (v <- 0L until 5L) {
      assert(got(v).size == 1 && math.abs(got(v)(v) - 0.15) < 1e-12)
    }
  }

  test("grank: single node with self-loop -> {v: 1.0}") {
    // grankTest.cc:70-84
    val got = baskets(GRank.run(edgesDf(Seq((0L, 0L))), verticesDf(Seq(0L)),
      PprConfig(2, 2, 100, tolerance = 1e-9)))
    assert(got(0L).size == 1 && math.abs(got(0L)(0L) - 1.0) < 1e-6)
  }

  test("grank: star leaves->center: basket(center)={c:0.15}, basket(leaf)[center]=0.15*0.85") {
    // grankTest.cc:154-182
    val vs = verticesDf(0L to 5L)
    val got = baskets(GRank.run(edgesDf(starIn(5)), vs, PprConfig(6, 6, 100, tolerance = 1e-9)))
    assert(got(0L).size == 1 && math.abs(got(0L)(0L) - 0.15) < 1e-9)
    for (leaf <- 1L to 5L) {
      assert(math.abs(got(leaf)(0L) - 0.15 * 0.85) < 1e-6)
      assert(math.abs(got(leaf)(leaf) - 0.15) < 1e-6)
    }
  }

  // ---- the oracle-equivalence contract, tightened to 1e-6 ----------------
  // (grankTest.cc:285-379 asserts 1e-4 at K=L=|V|; north rule: 1e-6)
  test("grank == exact PPR within 1e-6 at K=L=|V| on cycle(6)") {
    val es = edgesDf(cycle(6)); val vs = verticesDf(0L until 6L)
    val g = baskets(GRank.run(es, vs, PprConfig(6, 6, 200, tolerance = 1e-9)))
    val o = baskets(ExactPpr.run(es, vs.select(col("id")), 200, 0.85, 1e-9))
    assertAllClose(g, o, 1e-6)
  }

  test("grank == exact PPR within 1e-6 at K=L=|V| on random(20,100)") {
    val es = randomGraph(20, 100, seed = 5)
    val vids = (es.flatMap(e => Seq(e._1, e._2)).distinct).sorted
    val e = edgesDf(es); val vs = verticesDf(vids)
    val g = baskets(GRank.run(e, vs, PprConfig(vids.size, vids.size, 200, tolerance = 1e-9)))
    val o = baskets(ExactPpr.run(e, vs, 200, 0.85, 1e-9))
    assertAllClose(g, o, 1e-6)
  }

  test("grank: salting is a no-op semantically (window path, bit-identical at quantize 1e12)") {
    val es = edgesDf(randomGraph(15, 60, seed = 9)); val vs = verticesDf(0L until 15L)
    def run(salt: Int, q: Double) = baskets(GRank.run(es, vs,
      PprConfig(4, 8, 12, tolerance = -1, saltThreshold = salt, saltBuckets = 4, quantize = q)))
    // grid sums are addend-order-free: the salted plan's different
    // shuffle order cannot move a bit
    assert(run(0, 1e12) == run(2, 1e12))
    assertAllClose(run(0, 0.0), run(2, 0.0), 1e-12)
  }

  test("grank: auto salt threshold reproduces the HubBench win/loss table and is semantics-neutral") {
    // decision function: break-even 1e8 rows/key at L=100 -> indeg 1e6;
    // the measured 1.5M-indeg hub engages, the 400k one stays off
    val t = GRank.resolveSaltThreshold(PprConfig(50, 100, 2, saltThreshold = -1))
    assert(t == 1000000L)
    assert(1500000L > t && 400000L < t)
    // explicit values pass through unchanged
    assert(GRank.resolveSaltThreshold(PprConfig(4, 8, 2, saltThreshold = 0)) == 0L)
    assert(GRank.resolveSaltThreshold(PprConfig(4, 8, 2, saltThreshold = 7)) == 7L)

    // integration: shrunken break-even so auto ENGAGES on a small fixture
    // (hub indeg 14 > 48/8 = 6) and on the same graph with the default
    // break-even stays OFF — results identical either way and identical to
    // explicit salting
    val hubEs = (0L until 14L).map(i => (i + 1L, 0L)) ++ Seq((0L, 1L), (0L, 2L))
    val es = edgesDf(hubEs); val vs = verticesDf(0L until 15L)
    val base = baskets(GRank.run(es, vs, PprConfig(4, 8, 6, tolerance = -1, saltThreshold = 0)))
    val autoOn = baskets(GRank.run(es, vs,
      PprConfig(4, 8, 6, tolerance = -1, saltThreshold = -1, saltAutoBreakEven = 48, saltBuckets = 4)))
    val autoOff = baskets(GRank.run(es, vs, PprConfig(4, 8, 6, tolerance = -1, saltThreshold = -1)))
    assertAllClose(base, autoOn, 1e-12)
    assertAllClose(base, autoOff, 1e-12)
  }

  test("grank: parameter validation matches the reference contract") {
    // grankTest.cc:20-29 / include/grank.h:51-57
    assertThrows[IllegalArgumentException](PprConfig(0, 1, 1))
    assertThrows[IllegalArgumentException](PprConfig(1, 0, 1))
    assertThrows[IllegalArgumentException](PprConfig(2, 1, 1))
    assertThrows[IllegalArgumentException](PprConfig(1, 1, 0))
    assertThrows[IllegalArgumentException](PprConfig(1, 1, 1, damping = 1.5))
    // one top-L shape: the retired strategy names are rejected, not ignored
    assertThrows[IllegalArgumentException](PprConfig(1, 1, 1, topLStrategy = "fused"))
    assertThrows[IllegalArgumentException](PprConfig(1, 1, 1, topLStrategy = "bounded"))
  }

  // ---- Monte-Carlo scale contracts (mccompletepathv2Test.cc) -------------
  test("mc: isolated node -> {v: 1.0} (MC scale, not a distribution)") {
    // mccompletepathv2Test.cc:43-49
    val got = baskets(MonteCarloPpr.run(edgesDf(Nil), verticesDf(Seq(3L)), PprConfig(2, 2, 100)))
    assert(got(3L) == Map(3L -> 1.0))
  }

  test("mc: star center->leaves: basket(center)[leaf] = 0.85/5 exactly (even first hop)") {
    // mccompletepathv2Test.cc:184-219
    val vs = verticesDf(0L to 5L)
    val got = baskets(MonteCarloPpr.run(edgesDf(starOut(5)), vs, PprConfig(6, 6, 1000)))
    assert(math.abs(got(0L)(0L) - 1.0) < 1e-12)
    for (leaf <- 1L to 5L)
      assert(math.abs(got(0L)(leaf) - 0.85 / 5) < 1e-12, s"leaf $leaf: ${got(0L)(leaf)}")
    // dangling leaves keep {leaf: 1.0}
    for (leaf <- 1L to 5L) assert(got(leaf) == Map(leaf -> 1.0))
  }

  test("mc: ranking on a cycle decreases with distance from the seed") {
    val vs = verticesDf(0L until 5L)
    val got = baskets(MonteCarloPpr.run(edgesDf(cycle(5)), vs, PprConfig(5, 5, 400)))
    val b = got(0L)
    assert(b(0L) >= b(1L) && b(1L) >= b(2L))
  }

  test("mc: deterministic across runs (seeded)") {
    val es = edgesDf(randomGraph(12, 40, seed = 3)); val vs = verticesDf(0L until 12L)
    val a = baskets(MonteCarloPpr.run(es, vs, PprConfig(3, 6, 50)))
    val b = baskets(MonteCarloPpr.run(es, vs, PprConfig(3, 6, 50)))
    assertAllClose(a, b, 0.0)
  }

  test("mc: walker chunking bounds in-flight rows and is bit-identical to all-at-once") {
    val es = edgesDf(randomGraph(20, 60, seed = 5)); val vs = verticesDf(0L until 20L)
    // quantize: chunking changes downstream double-sum addend order (same
    // exact LONG visits); the fixed-point grid keeps the tol-0.0 compare
    // meaningful — any single-visit difference (>= 1/R) still trips it
    val cfg = PprConfig(4, 8, 40, topLStrategy = "window", quantize = 1e12) // effective walks = floor(40*0.85) = 34
    val (a, sa) = MonteCarloPpr.runWithStats(es, vs, cfg, maxSteps = 24, walkMode = "join")
    val (b, sb) = MonteCarloPpr.runWithStats(es, vs, cfg, maxSteps = 24, walkerBudget = 60,
      walkMode = "join")
    assert(sa.chunks == 1 && sa.maxInFlight == sa.unchunkedPeak)
    assert(sb.chunks > 1, s"budget 60 over ${sb.origins} origins should force chunking")
    assert(sb.maxInFlight <= 60, s"in-flight ${sb.maxInFlight} exceeds the budget")
    assert(sb.unchunkedPeak == sb.origins * 34)
    assertAllClose(baskets(a), baskets(b), 0.0) // every draw keys on the ABSOLUTE walkId
  }

  /** Edge cases of the local engine's in-task basket cut (R = 40, so 34
    * walks, and L = 9): hub 0 fans out to 12 dangling leaves, and its
    * round-robin first hops visit leaves 1-10 three times and 11-12 twice —
    * more than L distinct nodes, tied at the L-th place; 13 -> 0 carries
    * basket(0) into a final result; 20 has no edges at all. */
  private val cutEdges = starOut(12) :+ ((13L, 0L))
  private val cutVertices = (0L to 13L) :+ 20L

  /** Combine edge cases on top of the basket-cut fixture: a duplicate edge
    * (21 -> 22 twice), self-loops (22, 24), a dangling target (25), vertex
    * 30 without edges, and source 40, which is no vertex, pointing into the
    * graph (40 -> 21, 40 -> 13). */
  private val mixEdges = cutEdges ++ Seq((21L, 22L), (21L, 22L), (21L, 23L), (22L, 22L),
    (22L, 21L), (23L, 24L), (24L, 24L), (24L, 21L), (24L, 25L), (13L, 21L), (40L, 21L), (40L, 13L))
  private val mixVertices = cutVertices ++ Seq(21L, 22L, 23L, 24L, 25L, 30L)

  test("mc: local-walk engine is bit-identical to the join engine (and is the auto choice)") {
    // several shapes: random digraph (some dangling), star out, cycle, the
    // basket-cut and combine edge cases
    for ((es, ids) <- Seq((randomGraph(24, 70, seed = 11), 0L until 24L),
        (starOut(6), 0L until 7L), (cycle(9).toSeq, 0L until 9L), (cutEdges, cutVertices),
        (mixEdges, mixVertices))) {
      val (vs, ed) = (verticesDf(ids), edgesDf(es))
      // quantize: phase-2 re-aggregates successor contributions with a
      // DOUBLE sum, whose addend order differs with the walk engine's
      // output partitioning — the fixed-point grid makes the compare
      // order-free, so any single-visit difference (>= 1/R) still trips it
      val cfg = PprConfig(5, 9, 40, topLStrategy = "window", quantize = 1e12)
      val local = MonteCarloPpr.runWithStats(ed, vs, cfg, maxSteps = 24, walkMode = "local")._1
      val join = MonteCarloPpr.runWithStats(ed, vs, cfg, maxSteps = 24, walkMode = "join")._1
      assertAllClose(baskets(local), baskets(join), 0.0)
      val (_, sAuto) = MonteCarloPpr.runWithStats(ed, vs, cfg, maxSteps = 24)
      assert(sAuto.maxInFlight == 0L, "auto on a broadcastable graph must take the local engine")
    }
  }

  test("mc: an edge whose source is no vertex gives that source no basket (weighted too, both engines)") {
    val s = spark
    import s.implicits._
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (5L, 1L))
    val vs = verticesDf(Seq(0L, 1L, 2L))
    val weighted = es.map { case (a, b) => (a, b, 1L + a) }.toDF("src", "dst", "weight")
    val cfg = PprConfig(3, 3, 40, topLStrategy = "window", quantize = 1e12)
    for ((ed, name) <- Seq((edgesDf(es), "unweighted"), (weighted, "weighted"));
         mode <- Seq("local", "join")) {
      val got = baskets(MonteCarloPpr.run(ed, vs, cfg, maxSteps = 24, walkMode = mode))
      assert(got.keySet == Set(0L, 1L, 2L), s"$name/$mode: seeds ${got.keySet}")
    }
  }

  test("mc: duplicate vertex ids get one basket, as if listed once") {
    val ed = edgesDf(cutEdges)
    val cfg = PprConfig(5, 9, 40, topLStrategy = "window", quantize = 1e12)
    val once = baskets(MonteCarloPpr.run(ed, verticesDf(cutVertices), cfg, maxSteps = 24))
    val dup = verticesDf(cutVertices ++ Seq(0L, 13L, 20L, 20L))
    for (mode <- Seq("local", "join")) {
      val twice = MonteCarloPpr.run(ed, dup, cfg, maxSteps = 24, walkMode = mode)
      assert(twice.count() == once.values.map(_.size).sum, s"$mode: duplicated rows")
      assertAllClose(once, baskets(twice), 0.0)
    }
  }

  test("mc: resume from a mid-run chunk checkpoint equals the straight-through run") {
    val es = edgesDf(randomGraph(20, 60, seed = 5)); val vs = verticesDf(0L until 20L)
    val cfg = PprConfig(4, 8, 40, topLStrategy = "window", quantize = 1e12)
    val dir = java.nio.file.Files.createTempDirectory("mc-ckpt").toString
    val mgr = new operators.CheckpointManager(dir)
    // budget 60 forces several chunks (effective 34 walks over ~20 origins)
    val straight = baskets(MonteCarloPpr.run(es, vs, cfg, maxSteps = 24,
      walkerBudget = 60, walkMode = "join", checkpoint = Some(mgr), checkpointEvery = 1))
    val committed = mgr.committed()
    assert(committed.size >= 2, s"expected >=2 chunk snapshots, got $committed")
    // keep only the FIRST snapshot (simulate a crash after chunk 1), resume
    committed.tail.foreach { i =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(f"$dir/iter_$i%06d"))
    }
    assert(mgr.committed() == Seq(committed.head))
    val resumed = baskets(MonteCarloPpr.run(es, vs, cfg, maxSteps = 24,
      walkerBudget = 60, walkMode = "join", checkpoint = Some(mgr), resume = true))
    assertAllClose(straight, resumed, 0.0) // absolute-walkId draws: bit-identical
  }

  test("mc weighted pick: scalar and Column picks equal a linear scan at every interval edge (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.Prop.propBoolean
    val s = spark
    import s.implicits._
    // strictly increasing positive prefix sums; lengths on both sides of
    // the Column pick's 64-entry linear/binary-search cut
    val genCws: Gen[Array[Long]] = for {
      n <- Gen.frequency(3 -> Gen.choose(1, 200), 1 -> Gen.choose(60, 70))
      w <- Gen.listOfN(n, Gen.frequency(4 -> Gen.choose(1L, 5L),
        4 -> Gen.choose(1L, 1000L), 1 -> Gen.choose(1L, 1000000000L)))
    } yield w.scanLeft(0L)(_ + _).tail.toArray
    // reference: 0-based index of the interval [cws(i-1), cws(i)) holding r
    def linear(cws: Array[Long], r: Long): Int = cws.count(_ <= r)
    def draws(cws: Array[Long]): Seq[Long] = {
      val totw = cws.last
      (cws.toSeq.flatMap(c => Seq(c - 1, c)) ++ Seq(0L, totw - 1)).filter(r => r >= 0 && r < totw).distinct
    }
    val prop = Prop.forAll(Gen.listOfN(8, genCws)) { arrays =>
      val cases = arrays.flatMap(cws => draws(cws).map(r => (cws, r)))
      val scalarBad = cases.filter { case (cws, r) => MonteCarloPpr.weightedPick(cws, r) != linear(cws, r) }
      // step 1 draws r = pmod(walkId, totw): walkId = r selects r directly
      val columnBad = cases.map { case (cws, r) => (r, cws.toSeq, cws.last, linear(cws, r) + 1) }
        .toDF("walkId", "cws", "totw", "want").repartition(2)
        .select(col("walkId"), col("want"),
          MonteCarloPpr.pickIdx(1, 42L, weighted = true).as("got"))
        .where(col("got") =!= col("want")).collect()
      (scalarBad.isEmpty :| s"scalar: ${scalarBad.take(3).map(c => (c._1.length, c._2)).mkString(", ")}") &&
        (columnBad.isEmpty :| s"column: ${columnBad.take(3).mkString(", ")}")
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("mc weighted: local and join engines bit-identical; unit weights reduce to unweighted") {
    val s = spark
    import s.implicits._
    val pairs = randomGraph(18, 55, seed = 7)
    val vs = verticesDf(0L until 18L)
    // deterministic integer weights in [1, 5]
    val wEdges = pairs.map { case (a, b) => (a, b, 1L + (a * 31 + b * 17) % 5) }
      .toDF("src", "dst", "weight")
    val cfg = PprConfig(5, 9, 40, topLStrategy = "window", quantize = 1e12)
    // equal weights keep the basket-cut fixture's ties: 0's first hops pick
    // leaf (w mod 24) / 2 + 1, so leaves 1-5 get four visits, 6-12 two
    val wCut = cutEdges.map { case (a, b) => (a, b, 2L) }.toDF("src", "dst", "weight")
    // unequal weights on the combine edge cases; the duplicate edge sums
    val wMix = mixEdges.map { case (a, b) => (a, b, 1L + (a * 31 + b * 17) % 5) }
      .toDF("src", "dst", "weight")
    for ((we, ws) <- Seq((wEdges, vs), (wCut, verticesDf(cutVertices)), (wMix, verticesDf(mixVertices)))) {
      val local = MonteCarloPpr.runWithStats(we, ws, cfg, maxSteps = 24, walkMode = "local")._1
      val join = MonteCarloPpr.runWithStats(we, ws, cfg, maxSteps = 24, walkMode = "join")._1
      assertAllClose(baskets(local), baskets(join), 0.0)
    }
    // all-ones weights: cumulative pick r lands on index r — the uniform
    // draw — so the WALK phase is bit-identical; the combine phase
    // associates the factor differently (unweighted: grid(Σ raw)·f;
    // weighted per-edge: grid(Σ raw_i·f)), so final scores agree to float
    // low bits, not bit-exactly
    val ones = pairs.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "weight")
    val unw = MonteCarloPpr.run(edgesDf(pairs), vs, cfg, maxSteps = 24)
    val w1 = MonteCarloPpr.run(ones, vs, cfg, maxSteps = 24)
    assertAllClose(baskets(unw), baskets(w1), 1e-9)
  }

  test("walkTrace weighted: picks land on cumulative-weight intervals; unit weights reduce to uniform") {
    val s = spark
    import s.implicits._
    // 0 -> 1 (w=1), 0 -> 2 (w=3): totw=4, intervals [0,1) -> 1, [1,4) -> 2.
    // Step 1 pick is walkId % 4, so walk 0 goes to 1, walks 1..3 go to 2.
    val wEdges = Seq((0L, 1L, 1L), (0L, 2L, 3L)).toDF("src", "dst", "weight")
    val got = MonteCarloPpr.walkTrace(wEdges, verticesDf(Seq(0L, 1L, 2L)),
      walksPerNode = 4, maxSteps = 1, damping = 0.85, salt = 42L)
      .where(col("step") === 1)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
    // unit weights == no weight column, every position identical
    val pairs = randomGraph(15, 45, seed = 9)
    val ones = pairs.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "weight")
    val vs = verticesDf(0L until 15L)
    def trace(e: org.apache.spark.sql.DataFrame) =
      MonteCarloPpr.walkTrace(e, vs, walksPerNode = 2, maxSteps = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(trace(ones) == trace(edgesDf(pairs)))
  }

  // ---- forward-push PPR (operators/PushPpr) -----------------------------
  test("push: converges to exact PPR within the total-residual bound") {
    val es = randomGraph(20, 70, seed = 5)
    val res = operators.PushPpr.run(edgesDf(es), verticesDf(Seq(2L, 9L)),
      rmax = 1e-12, iterations = 60, damping = 0.85)
    val rows = res.state.collect()
    val scores = rows.groupBy(_.getLong(0)).map { case (s, rs) =>
      s -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    }
    val resid = rows.map(_.getDouble(3)).sum // invariant: |ppr - p| <= sum r
    // two seeds, always-push: residual mass decays as 2 * 0.85^60 ~ 1.2e-4
    assert(resid < 2e-4, s"residual mass $resid after 60 always-push supersteps")
    for (seed <- Seq(2L, 9L)) {
      val exact = localExactPpr(es, 0L until 20L, seed, 200, 0.85, 1e-10)
      assertAllClose(Map(seed -> scores(seed)), Map(seed -> exact), resid + 1e-9)
    }
  }

  test("push: isolated seed fires once -> {v: (0.15, 0)} — dangling leak preserved") {
    val res = operators.PushPpr.run(edgesDf(Nil), verticesDf(Seq(7L)),
      rmax = 1e-6, iterations = 5, damping = 0.85, tolerance = 1e-9)
    val rows = res.state.collect()
    assert(rows.length == 1)
    assert(math.abs(rows(0).getDouble(2) - 0.15) < 1e-12) // (1-d) * 1
    assert(rows(0).getDouble(3) == 0.0) // damping share leaked, not queued
    assert(res.history.length <= 3, "frontier-empty state must stop the tolerance loop")
  }

  test("push: degree-normalized threshold gates firing; nothing moves below it") {
    // seed = star center with outdeg 5: threshold rmax*5 = 2.5 > residual 1
    val res = operators.PushPpr.run(edgesDf(starOut(5)), verticesDf(Seq(0L)),
      rmax = 0.5, iterations = 6, damping = 0.85, tolerance = 1e-9)
    val rows = res.state.collect()
    assert(rows.length == 1 && rows(0).getDouble(2) == 0.0 && rows(0).getDouble(3) == 1.0)
  }

  test("push: fixed-point grid result is partitioning-invariant") {
    val es = randomGraph(18, 60, seed = 13)
    def run(parts: Int) = operators.PushPpr.run(
      edgesDf(es).repartition(parts), verticesDf(Seq(1L, 4L)).repartition(parts),
      rmax = 1e-4, iterations = 6, damping = 0.85, quantize = 1e12)
      .state.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(run(1) == run(7))
  }

  test("exactPpr weighted: equal weights bit-identical to unweighted on the grid; skew shifts mass") {
    val s2 = spark
    import s2.implicits._
    val es = randomGraph(15, 50, seed = 33)
    val flat = es.map { case (a, b) => (a, b, 5L) }.toDF("src", "dst", "weight")
    def m(df: org.apache.spark.sql.DataFrame) =
      baskets(df)
    val a = m(ExactPpr.run(edgesDf(es), verticesDf(Seq(2L)), 10, 0.85, -1, quantize = 1e12))
    val b = m(ExactPpr.run(flat, verticesDf(Seq(2L)), 10, 0.85, -1, quantize = 1e12))
    assert(a == b)
    // seed 0 -> 1 (w 9) / 0 -> 2 (w 1): basket mass follows the weights
    val skew = Seq((0L, 1L, 9L), (0L, 2L, 1L)).toDF("src", "dst", "weight")
    val got = m(ExactPpr.run(skew, verticesDf(Seq(0L)), 50, 0.85, 1e-12))(0L)
    assert(math.abs(got(1L) / got(2L) - 9.0) < 1e-9, s"$got")
  }

  test("grank weighted: equal weights bit-identical to unweighted on the grid; skew follows weights") {
    val s2 = spark
    import s2.implicits._
    val es = randomGraph(15, 50, seed = 33)
    val vs = verticesDf(es.flatMap(e => Seq(e._1, e._2)).distinct)
    val cfg = graft.model.PprConfig(K = 10, L = 20, iterations = 6, tolerance = -1,
      topLStrategy = "window", quantize = 1e12)
    val flat = es.map { case (a, b) => (a, b, 5L) }.toDF("src", "dst", "weight")
    assert(baskets(GRank.run(edgesDf(es), vs, cfg)) == baskets(GRank.run(flat, vs, cfg)))
    // 0 -> 1 (w 9) / 0 -> 2 (w 1): seed 0's basket mass follows the weights
    val skew = Seq((0L, 1L, 9L), (0L, 2L, 1L)).toDF("src", "dst", "weight")
    val got = baskets(GRank.run(skew, verticesDf(Seq(0L, 1L, 2L)),
      graft.model.PprConfig(K = 3, L = 5, iterations = 30, tolerance = 1e-12)))(0L)
    assert(math.abs(got(1L) / got(2L) - 9.0) < 1e-9, s"$got")
  }

  test("push weighted: equal weights bit-identical to unweighted; skew follows weights") {
    val s2 = spark
    import s2.implicits._
    val es = randomGraph(15, 50, seed = 33)
    val seeds = verticesDf(Seq(2L))
    val flat = es.map { case (a, b) => (a, b, 5L) }.toDF("src", "dst", "weight")
    def run(e: org.apache.spark.sql.DataFrame) =
      baskets(PushPpr.run(e, seeds, rmax = 1e-4, iterations = 8, tolerance = -1,
        quantize = 1e12).state.select(col("seed"), col("node"), col("score")))
    assert(run(edgesDf(es)) == run(flat))
    val skew = Seq((0L, 1L, 9L), (0L, 2L, 1L)).toDF("src", "dst", "weight")
    val got = baskets(PushPpr.run(skew, verticesDf(Seq(0L)), rmax = 1e-8,
      iterations = 50, tolerance = 1e-12)
      .state.select(col("seed"), col("node"), col("score")))(0L)
    assert(math.abs(got(1L) / got(2L) - 9.0) < 1e-9, s"$got")
  }

  test("push: damping = 1 rejected for tolerance-driven runs (score norm is blind to residuals)") {
    val es = edgesDf(cycle(4))
    intercept[IllegalArgumentException] {
      PushPpr.run(es, verticesDf(Seq(0L)), rmax = 1e-4, iterations = 5,
        damping = 1.0, tolerance = 1e-6)
    }
    // fixed-iteration runs with damping = 1 stay legal
    PushPpr.run(es, verticesDf(Seq(0L)), rmax = 1e-4, iterations = 2,
      damping = 1.0, tolerance = -1)
  }

  test("runVector (TrustRank): linearity — uniform two-seed teleport equals the per-seed average") {
    val es = randomGraph(30, 70, seed = 21)
    val edges = edgesDf(es)
    val seeds = verticesDf(Seq(3L, 9L))
    val per = ExactPpr.run(edges, seeds, iterations = 30, tolerance = -1)
      .collect().groupBy(_.getLong(1))
      .view.mapValues(_.map(_.getDouble(2)).sum / 2.0).toMap
    val vec = ExactPpr.runVector(edges,
        seeds.select(col("id"), lit(0.5).as("mass")), iterations = 30, tolerance = -1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(per.keySet == vec.keySet)
    for ((n, s) <- per) assert(math.abs(s - vec(n)) < 1e-9, s"node $n")
  }

  test("runVector: total mass stays <= 1 and teleport set dominates its own ranking") {
    // star-out from trusted center 0: center keeps the teleport share
    val vec = ExactPpr.runVector(edgesDf(starOut(5)),
        verticesDf(Seq(0L)).select(col("id"), lit(1.0).as("mass")),
        iterations = 50, tolerance = -1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vec.values.sum <= 1.0 + 1e-9)
    assert(math.abs(vec(0L) - 0.15) < 1e-9) // pushes out, nothing returns
    // leaves: fixpoint 0.85 * score(0) / 5, leaves are dangling (leak)
    for (l <- 1L to 5L) assert(math.abs(vec(l) - 0.85 * 0.15 / 5) < 1e-9, s"leaf $l")
  }
}
