package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Components, Hits, PageRank, Triangles}
import graft.sources.EdgeSource
import org.apache.spark.grafttest.SqlPlans

class GraphOpsSpec extends AnyFunSuite with GraphFixtures {

  // ---- global PageRank ----------------------------------------------------
  test("pagerank: uniform 1/N on a cycle and on a complete graph; sums to 1") {
    for (es <- Seq(cycle(8), complete(6))) {
      val vids = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val got = PageRank.run(edgesDf(es), verticesDf(vids), 100, 0.85, 1e-10)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val n = vids.size
      for (v <- vids) assert(math.abs(got(v) - 1.0 / n) < 1e-8)
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("assortativity: hand-computed Pearson on a 3-edge graph; degenerate variance -> 0") {
    // edges 0->1, 0->2, 3->1: (x,y) pairs (2,2),(2,1),(1,2) -> r = -0.5
    val got = graft.operators.GraphStats.assortativity(
      edgesDf(Seq((0L, 1L), (0L, 2L), (3L, 1L)))).head()
    assert(got.getLong(0) == 3L)
    assert(got.getDouble(1) == -0.5)
    // star-out: x constant across edges -> zero variance -> 0.0 sentinel
    val star = graft.operators.GraphStats.assortativity(edgesDf(starOut(5))).head()
    assert(star.getDouble(1) == 0.0)
  }

  test("degreeHistogram: bit-length buckets, zero-degree bucket -1") {
    // starOut(5): center outdeg 5 (bucket 2, min_deg 4), leaves outdeg 0;
    // indegs: center 0, leaves 1 (bucket 0, min_deg 1)
    val got = graft.operators.GraphStats.degreeHistogram(
        edgesDf(starOut(5)), verticesDf(0L to 5L))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      ("out", 2) -> (1L, 4L), ("out", -1) -> (5L, 0L),
      ("in", 0) -> (5L, 1L), ("in", -1) -> (1L, 0L)))
  }

  test("coarsen: group-pair weights count page edges; intra-group edges drop by default") {
    val s = spark
    import s.implicits._
    // groups: 0,1 -> A(0); 2,3 -> B(1)
    val mapping = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)).toDF("id", "grp")
    val edges = edgesDf(Seq((0L, 2L), (1L, 2L), (1L, 3L), (0L, 1L), (2L, 0L)))
    val got = graft.operators.Coarsen.project(edges, mapping)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 1L) -> 3L, (1L, 0L) -> 1L)) // 0->1 intra-A dropped
    val withSelf = graft.operators.Coarsen.project(edges, mapping, dropIntra = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(withSelf == Map((0L, 1L) -> 3L, (1L, 0L) -> 1L, (0L, 0L) -> 1L))
  }

  test("hits: star graph concentrates authority on the center, hubs on leaves") {
    // leaves 1..5 -> center 0
    val got = Hits.run(edgesDf(starIn(5)), verticesDf(0L to 5L), iterations = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(got(0L)._1 - 1.0) < 1e-9) // all authority at the center
    assert(got(0L)._2 == 0.0)                 // the center points nowhere
    for (l <- 1L to 5L) {
      assert(got(l)._1 == 0.0)                        // leaves receive nothing
      assert(math.abs(got(l)._2 - 0.2) < 1e-9)        // uniform hubs
    }
  }

  test("hits: auth equals hub on a symmetric graph; both L1-normalize to 1") {
    val es = randomGraph(30, 60, seed = 11).filter(e => e._1 != e._2)
    val sym = es ++ es.map(_.swap)
    val rows = Hits.run(edgesDf(sym), verticesDf(0L until 30L), iterations = 40,
        tolerance = 1e-12)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // auth lags hub by half a step, so finite-iteration equality is
    // approximate (tightens with the spectral gap)
    for ((v, a, h) <- rows) assert(math.abs(a - h) < 1e-6, s"v=$v: $a vs $h")
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9)
  }

  test("hits: fixed-point grid run is partitioning-invariant") {
    val es = randomGraph(40, 90, seed = 3)
    def run(parts: Int) =
      Hits.run(edgesDf(es).repartition(parts), verticesDf(0L until 40L),
        iterations = 8, tolerance = -1, quantize = 1e12)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(run(2).sameElements(run(7)))
  }

  test("pagerank: dangling mass is redistributed (scores still sum to 1)") {
    // 0 -> 1, 1 dangling
    val got = PageRank.run(edgesDf(Seq((0L, 1L))), verticesDf(Seq(0L, 1L)), 100, 0.85, 1e-12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(1L) > got(0L))
  }

  test("pagerank: a caller's cached single-id vertex frame stays cached") {
    val e = edgesDf(Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)))
    val vs = EdgeSource.vertices(e).persist()
    vs.count()
    PageRank.run(e, vs, iterations = 3, tolerance = -1)
    assert(vs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "PageRank dropped the caller's cache entry")
    vs.unpersist()
  }

  /** PageRank's arithmetic in plain Scala: uniform teleport, dangling mass
    * redistributed uniformly; every addend of a node's sum (and of the
    * leak) rounds onto the 1/q grid when q > 0. */
  private def localPageRank(es: Seq[(Long, Long)], vids: Seq[Long], iterations: Int,
      q: Double, d: Double = 0.85): Map[Long, Double] = {
    def grid(x: Double): Long = {
      val a = math.abs(x); val fl = math.floor(a)
      (math.signum(x) * (fl + (if (a - fl >= 0.5) 1.0 else 0.0))).toLong
    }
    def sumOf(xs: Seq[Double]): Double =
      if (q > 0) xs.map(x => grid(x * q)).sum / q else xs.sum
    val n = vids.size
    val outdeg = es.groupBy(_._1).map { case (u, out) => u -> out.size }
    val dangling = vids.filterNot(outdeg.contains)
    val in = es.groupBy(_._2)
    var pr = vids.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val base = (1.0 - d) / n + d / n * sumOf(dangling.map(pr))
      pr = vids.map(v => v -> sumOf(base +: in.getOrElse(v, Nil).map { case (u, _) =>
        pr(u) * (d / outdeg(u)) })).toMap
    }
    pr
  }

  test("pagerank: matches a local power iteration with uniform dangling redistribution (quantized and not)") {
    val es = randomGraph(40, 70, seed = 7) ++ Seq((38L, 39L)) // ensure some dangling targets
    val vids = (0L until 42L) // 40, 41: isolated, dangling
    def run(q: Double) =
      PageRank.runWithMetrics(edgesDf(es), verticesDf(vids), iterations = 12,
        tolerance = -1, quantize = q)
        .state.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    for (q <- Seq(1e12, 0.0)) {
      val (got, want) = (run(q), localPageRank(es, vids, 12, q))
      assert(got.keySet == want.keySet, s"q=$q")
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"q=$q: mass ${got.values.sum}")
      for (v <- vids)
        assert(math.abs(got(v) - want(v)) <= 1e-12, s"q=$q node $v: ${got(v)} vs ${want(v)}")
    }
  }

  test("pagerank: the state side builds the gather hash table, no exchange under the join; planted hub exact") {
    // hub 0 links to 300 leaves (its 300 adjacency rows stream past the
    // hash table, which holds one state row per node); a random graph on
    // 300..339 links back into the hub
    val es = (1L to 300L).map(i => (0L, i)) ++ randomGraph(40, 90, seed = 17).map {
      case (a, b) => (a + 300L, if (b % 7 == 0) 0L else b + 300L) }
    val vids = (0L to 339L)
    val (res, plans) = SqlPlans.capture(spark.sparkContext) {
      PageRank.runWithMetrics(edgesDf(es), verticesDf(vids), iterations = 6,
        tolerance = -1, quantize = 1e12).state.collect()
    }
    // the superstep cuts (the engine's init cut runs in Iterative.scala)
    val steps = plans.filter(_.description.contains("Materialize.scala"))
    assert(steps.size == 6, plans.map(_.description).mkString(" | "))
    for ((p, i) <- steps.zipWithIndex) {
      val joins = p.nodes.filter(_.nodeName == "ShuffledHashJoin")
      assert(joins.size == 1 && joins.head.simpleString.contains("BuildLeft") &&
        joins.head.simpleString.contains("[node#"), s"build side:\n${p.plan}")
      // down to the leaves: the state's checkpoint scan and the cached
      // adjacency. The first superstep reads the unpartitioned init state;
      // from then on the state is hash(node) partitioned
      def exchanges(n: org.apache.spark.sql.execution.SparkPlanInfo): Int =
        if (n.nodeName.startsWith("InMemoryTableScan")) 0
        else (if (n.nodeName.contains("Exchange")) 1 else 0) + n.children.map(exchanges).sum
      assert(exchanges(joins.head) == (if (i == 0) 1 else 0), s"superstep $i, exchanges under the gather join:\n${p.plan}")
    }
    val got = res.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val want = localPageRank(es, vids, 6, 1e12)
    for (v <- vids) assert(got(v) == want(v), s"node $v: ${got(v)} vs ${want(v)}")
  }

  // ---- connected components ----------------------------------------------
  test("cc: two components + isolated vertex, exact labels") {
    val es = Seq((0L, 1L), (1L, 2L), (5L, 6L))
    val got = Components.connectedComponents(edgesDf(es), verticesDf(Seq(0L, 1L, 2L, 5L, 6L, 9L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("cc: direction is ignored (undirected closure) and matches brute force on random graph") {
    val es = randomGraph(30, 25, seed = 13) // sparse -> several components
    val vids = (0L until 30L)
    val got = Components.connectedComponents(edgesDf(es), verticesDf(vids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local union-find oracle
    val parent = scala.collection.mutable.Map(vids.map(v => v -> v): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = vids.map(v => v -> find(v)).toMap
    assert(got == want)
  }

  test("cc: star contraction == min-id propagation on random graphs") {
    // a hub with 5k leaves (one 5k-row window partition) hanging off a
    // path whose far end holds the component minimum, plus a separate edge
    val hub = 5000L
    val hubEs = (1L to 5000L).map(l => (hub, hub + l)) ++
      (0L until 20L).map(i => (i, i + 1)) ++ Seq((20L, hub), (30L, 31L))
    val hubIds = (0L to 20L) ++ Seq(30L, 31L, 40L) ++ (hub to hub + 5000L)
    val inputs = Seq(3, 13, 77).map(seed => s"random seed $seed" -> (randomGraph(40, 30, seed), 0L until 40L)) ++
      Seq("planted hub" -> (hubEs, hubIds), "no edges" -> (Seq.empty[(Long, Long)], 0L until 5L))
    for ((name, (es, vids)) <- inputs) {
      val a = Components.connectedComponentsStar(edgesDf(es), verticesDf(vids))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Components.connectedComponentsMinId(edgesDf(es), verticesDf(vids))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, name)
      assert(a.size == vids.size, name)
    }
  }

  test("cc: star contraction converges in O(log n) rounds on a 10k-vertex path") {
    val n = 10000
    val es = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val (df, rounds) = Components.connectedComponentsStarWithRounds(
      edgesDf(es), verticesDf(0L until n.toLong))
    val comps = df.select(col("comp")).distinct().collect().map(_.getLong(0))
    assert(comps.toSeq == Seq(0L))
    // min-id propagation needs ~n rounds on this graph; contraction is ~log n
    assert(rounds <= 15, s"star contraction took $rounds rounds on a $n-path")
  }

  // ---- label propagation ---------------------------------------------------
  test("lp: clique converges to min label; deterministic") {
    val es = complete(5) ++ Seq.empty
    val got = Components.labelPropagation(edgesDf(es), verticesDf(0L until 5L), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vertex sees all labels once -> tie -> smallest label = 0
    assert(got.values.toSet == Set(0L))
    val again = Components.labelPropagation(edgesDf(es), verticesDf(0L until 5L), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again)
  }

  test("lp: two cliques joined by one edge keep their own labels") {
    val cl1 = complete(4)
    val cl2 = complete(4).map { case (a, b) => (a + 10L, b + 10L) }
    val es = cl1 ++ cl2 ++ Seq((0L, 10L))
    val vids = (0L until 4L) ++ (10L until 14L)
    val got = Components.labelPropagation(edgesDf(es), verticesDf(vids), rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 4L).map(got).toSet.size == 1)
    assert((10L until 14L).map(got).toSet.size == 1)
    assert(got(0L) != got(10L))
  }

  // ---- 2-coloring (findPartitionsTest.cc) ----------------------------------
  test("twoColoring: star -> {1, n-1}; complete -> {1, n-1}; paired nodes -> n/n") {
    val star = Components.twoColoring(edgesDf(starIn(6)), verticesDf(0L to 6L))
      .collect().map(r => r.getInt(1))
    assert(star.count(_ == 0) == 1 && star.count(_ == 1) == 6)
    val comp = Components.twoColoring(edgesDf(complete(5)), verticesDf(0L until 5L))
      .collect().map(r => r.getInt(1))
    assert(comp.count(_ == 0) == 1 && comp.count(_ == 1) == 4)
    val pairs = (0L until 4L).map(i => (i, i + 4L))
    val bip = Components.twoColoring(edgesDf(pairs), verticesDf(0L until 8L))
      .collect().map(r => r.getInt(1))
    assert(bip.count(_ == 0) == 4 && bip.count(_ == 1) == 4)
  }

  test("twoColoringContract: equals BFS parity on bipartite graphs, O(log n) on a 10k path, flags odd cycles") {
    // bipartite random graph: edges only across the two halves
    val bipEs = (0 until 60).map { i =>
      val a = (i * 7 % 20).toLong; val b = 20L + (i * 13 % 20)
      (a, b)
    }
    val vids = 0L until 40L
    val bfs = Components.twoColoring(edgesDf(bipEs), verticesDf(vids))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fast = Components.twoColoringContract(edgesDf(bipEs), verticesDf(vids))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fast == bfs) // bit-equal where parity is path-independent

    // 10k-vertex path: BFS parity needs ~10k supersteps; contraction ~log n
    val n = 10000
    val path = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val (df, rounds) = Components.twoColoringContractWithRounds(
      edgesDf(path), verticesDf(0L until n.toLong))
    val colors = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0 until n).forall(i => colors(i.toLong) == i % 2)) // parity from min id 0
    assert(rounds <= 15, s"doubled-graph contraction took $rounds rounds on a $n-path")

    // odd cycle (triangle) and a selfloop: flagged -1, not arbitrarily sided;
    // the even cycle stays properly colored
    val mixed = Seq((0L, 1L), (1L, 2L), (2L, 0L), // triangle
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), // square
      (20L, 20L)) // selfloop
    val got = Components.twoColoringContract(edgesDf(mixed),
        verticesDf(Seq(0L, 1L, 2L, 10L, 11L, 12L, 13L, 20L)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Seq(0L, 1L, 2L, 20L).forall(got(_) == -1))
    assert(got(10L) == 0 && got(11L) == 1 && got(12L) == 0 && got(13L) == 1)
  }

  // ---- triangles ------------------------------------------------------------
  test("triangles: closed forms — triangle, square, complete(5), star") {
    def cnt(es: Seq[(Long, Long)]): Long =
      Triangles.countAll(edgesDf(es)).head().getLong(0)
    assert(cnt(Seq((0L, 1L), (1L, 2L), (2L, 0L))) == 1L)
    assert(cnt(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))) == 0L)
    assert(cnt(complete(5)) == 10L) // C(5,3)
    assert(cnt(starIn(10)) == 0L)
    // direction / duplicates / self-loops ignored
    assert(cnt(Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 0L))) == 1L)
  }

  test("triangles: both orientations agree with brute force on a random graph") {
    val es = randomGraph(20, 80, seed = 21)
    val got = Triangles.countAll(edgesDf(es)).head().getLong(0)
    val got2 = Triangles.countByDegreeOrder(edgesDf(es)).head().getLong(0)
    val und = es.filter(e => e._1 != e._2)
      .flatMap(e => Seq((e._1, e._2), (e._2, e._1))).toSet
    val vids = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var brute = 0L
    for (i <- vids; j <- vids if j > i; k <- vids if k > j)
      if (und((i, j)) && und((j, k)) && und((i, k))) brute += 1
    assert(got == brute)
    assert(got2 == brute)
  }

  test("triangles: wedgeCounts — degree order collapses hub wedges that id order pays for") {
    // hub 25 with 25 in- and 25 out-neighbors: id orientation leaves the hub
    // with forward AND backward edges (25*25 wedges); degree orientation
    // points every leaf at the hub (0 wedges)
    val es = (0L until 25L).map(i => (i, 25L)) ++ (26L until 51L).map(j => (25L, j))
    val got = Triangles.wedgeCounts(edgesDf(es))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("id_order") == 625L)
    assert(got("degree_order") == 0L)
    // and the formula agrees with a brute-force wedge count on a random graph
    val es2 = randomGraph(20, 60, seed = 8)
    val canon = es2.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val in = canon.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val out = canon.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ids = canon.flatMap(e => Seq(e._1, e._2)).distinct
    val brute = ids.map(v => in.getOrElse(v, 0L) * out.getOrElse(v, 0L)).sum
    val got2 = Triangles.wedgeCounts(edgesDf(es2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2("id_order") == brute)
  }

  test("triangles: per-vertex counts on complete(4) are all C(3,2)=3") {
    val got = Triangles.perVertex(edgesDf(complete(4)), verticesDf(0L until 4L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(3L))
  }

  // ---- k-core / coreness (operators/KCore) ------------------------------
  /** Classic sequential peeling — the independent local coreness oracle:
    * repeatedly remove a minimum-degree vertex; its coreness is the running
    * max of the degree observed at removal time. */
  private def localCoreness(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Int] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = scala.collection.mutable.Map(nodes.map(n =>
      n -> scala.collection.mutable.Set.empty[Long]): _*)
    und.foreach { case (a, b) => adj(a) += b }
    val core = scala.collection.mutable.Map.empty[Long, Int]
    val alive = scala.collection.mutable.Set(nodes: _*)
    var k = 0
    while (alive.nonEmpty) {
      val v = alive.minBy(n => (adj(n).size, n))
      k = math.max(k, adj(v).size)
      core(v) = k
      alive -= v
      adj(v).foreach(u => adj(u) -= v)
      adj(v).clear()
    }
    core.toMap
  }

  test("kcore: h-index rounds converge to peeling coreness on random graphs") {
    for (seed <- Seq(3L, 17L)) {
      val es = randomGraph(40, 180, seed)
      val nodes = 0L until 40L
      val got = operators.KCore.coreness(edgesDf(es), verticesDf(nodes), rounds = 60)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == localCoreness(es, nodes), s"seed $seed")
    }
  }

  test("kcore: closed forms — complete graph n-1, cycle 2, star/path 1, isolated 0") {
    def run(es: Seq[(Long, Long)], nodes: Seq[Long]) =
      operators.KCore.coreness(edgesDf(es), verticesDf(nodes), rounds = 30)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(complete(5), 0L until 5L).values.toSet == Set(4))
    assert(run(cycle(7), 0L until 7L).values.toSet == Set(2))
    assert(run(starOut(6), 0L to 6L).values.toSet == Set(1))
    assert(run(Nil, Seq(9L)) == Map(9L -> 0))
  }

  test("clustering coefficient: closed forms (complete 1.0, triangle+tail, path 0.0)") {
    def run(es: Seq[(Long, Long)], nodes: Seq[Long]) =
      Triangles.clusteringCoefficient(edgesDf(es), verticesDf(nodes))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(complete(4), 0L until 4L).values.toSet == Set(1.0))
    // triangle 0-1-2 with tail 2-3: c(0)=c(1)=1, c(2)=2*1/(3*2)=1/3, c(3)=0
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val got = run(g, 0L until 4L)
    assert(got(0L) == 1.0 && got(1L) == 1.0 && got(3L) == 0.0)
    assert(math.abs(got(2L) - 1.0 / 3) < 1e-15)
    assert(run(Seq((0L, 1L), (1L, 2L)), 0L until 3L).values.toSet == Set(0.0))
  }

  test("pagerank weighted: equal weights are bit-identical to unweighted; skew shifts mass") {
    val es = randomGraph(20, 70, seed = 21)
    val vids = 0L until 20L
    val s2 = spark
    import s2.implicits._
    val flat = es.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "weight")
    val a = PageRank.run(edgesDf(es), verticesDf(vids), 12, 0.85, -1, quantize = 1e12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = PageRank.run(flat, verticesDf(vids), 12, 0.85, -1, quantize = 1e12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // factor 0.85*7/(7k) vs 0.85/k may differ in the last ulp; the
    // fixed-point grid absorbs that, so equality here is exact
    assert(a == b)
    // skewed: 0 -> 1 (w 3) vs 0 -> 2 (w 1); 1,2 -> back to 0
    val skew = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "weight")
    val pr = PageRank.run(skew, verticesDf(Seq(0L, 1L, 2L)), 100, 0.85, 1e-12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr(1L) > pr(2L), s"weight-3 edge target must outrank weight-1: $pr")
  }

  test("graph stats: reciprocity and transitivity closed forms") {
    import graft.operators.GraphStats
    // 0<->1 mutual, 0->2 one-way: reciprocity = 2/3
    val r = GraphStats.reciprocity(edgesDf(Seq((0L, 1L), (1L, 0L), (0L, 2L))))
      .head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 2.0 / 3) < 1e-15)
    // complete graph K4: every wedge closes -> transitivity 1.0
    val t1 = GraphStats.transitivity(edgesDf(complete(4))).head()
    assert(t1.getDouble(2) == 1.0)
    // path 0-1-2: one wedge, no triangle -> 0.0; star: 0.0
    assert(GraphStats.transitivity(edgesDf(Seq((0L, 1L), (1L, 2L)))).head().getDouble(2) == 0.0)
    // triangle + tail: wedges = C(2,2)*2 + C(3,2) = 1+1+3 = 5, T = 1 -> 3/5
    val t2 = GraphStats.transitivity(edgesDf(Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)))).head()
    assert(t2.getLong(0) == 5L && t2.getLong(1) == 1L)
    assert(math.abs(t2.getDouble(2) - 0.6) < 1e-15)
  }

  // ---- materialized state ---------------------------------------------------
  /** RDD ids a frame's plan can still read: the RDD of every LogicalRDD in
    * it and their dependencies. A stats-barrier view reads its checkpoint
    * through one map over the checkpointed RDD, so plan leaves alone miss
    * it. */
  private def lineage(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      r.dependencies.map(_.rdd).toSet.flatMap(walk) + r.id
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.toSet.flatMap(walk)
  }

  private def cacheEntries(): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }

  test("operators leave no materialized state behind but what their result reads") {
    import graft.functions.TextAnalysis
    import graft.model.PprConfig
    import graft.operators._
    val e = edgesDf(randomGraph(30, 120, seed = 37))
    val vs = verticesDf(0L until 32L)
    val ew = e.withColumn("weight", (col("src") % 3 + 1).cast("long"))
    val seeds = verticesDf(Seq(0L, 5L, 9L))
    val tele = seeds.select(col("id"), lit(1.0 / 3).as("mass"))
    val docs = graft.sources.Synth.documents(spark, 40)
    val cfg = PprConfig(5, 10, 3, tolerance = -1, quantize = 1e12)
    val ops: Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])] = Seq(
      "pagerank" -> (() => Seq(PageRank.run(e, vs, 4, tolerance = -1))),
      "pagerank weighted" -> (() => Seq(PageRank.run(ew, vs, 4, tolerance = 1e-3))),
      "hits" -> (() => Seq(Hits.run(e, vs, 3, tolerance = -1))),
      "scc" -> (() => Seq(Scc.scc(e, vs))),
      "bowtie" -> (() => Seq(Scc.bowtie(e, vs))),
      "hyperball registers" -> (() => Seq(HyperBall.registers(e, vs, 3))),
      "hyperball sweep" -> (() => HyperBall.sweep(e, vs, 3)),
      "kcore" -> (() => Seq(KCore.coreness(e, vs, 4))),
      "cc star" -> (() => Seq(Components.connectedComponents(e, vs))),
      "cc min-id" -> (() => Seq(Components.connectedComponentsMinId(e, vs))),
      "label propagation" -> (() => Seq(Components.labelPropagation(e, vs, 3))),
      "twoColoring" -> (() => Seq(Components.twoColoring(e, vs))),
      "twoColoringContract" -> (() => Seq(Components.twoColoringContract(e, vs))),
      "exact ppr" -> (() => Seq(ExactPpr.run(e, seeds, 4, tolerance = -1))),
      "exact ppr vector" -> (() => Seq(ExactPpr.runVector(e, tele, 4, tolerance = -1))),
      "push ppr" -> (() => Seq(PushPpr.run(e, seeds, 1e-3, 5).state)),
      "grank" -> (() => Seq(GRank.run(e, vs, cfg))),
      "grank partitioned" -> (() => Seq(GRank.run(e, vs, cfg.copy(partitionedSchedule = true)))),
      "mc join" -> (() => Seq(MonteCarloPpr.run(e, vs, cfg.copy(iterations = 10), maxSteps = 12,
        walkMode = "join", walkerBudget = 100L))),
      "mc join weighted" -> (() => Seq(MonteCarloPpr.run(ew, vs, cfg.copy(iterations = 10),
        maxSteps = 12, walkMode = "join"))),
      "walkTrace" -> (() => Seq(MonteCarloPpr.walkTrace(e, vs, 2, 3))),
      "wedgeCounts" -> (() => Seq(Triangles.wedgeCounts(e))),
      "triangles" -> (() => Seq(Triangles.countAll(e), Triangles.countByDegreeOrder(e))),
      "graph stats" -> (() => Seq(GraphStats.reciprocity(e), GraphStats.assortativity(e),
        GraphStats.transitivity(e))),
      "unigramLogprob" -> (() => Seq(TextAnalysis.unigramLogprob(docs))),
      "tfidf" -> (() => Seq(TextAnalysis.tfidfTopTerms(docs))),
      "pmi" -> (() => Seq(TextAnalysis.pmiBigrams(docs, minCount = 2))),
      "repetition" -> (() => Seq(TextAnalysis.repetitionStats(docs))))
    val sc = spark.sparkContext
    val failures = ops.flatMap { case (name, op) =>
      val (entries, persisted) = (cacheEntries(), sc.getPersistentRDDs.keySet)
      val out = op()
      val reads = out.flatMap(lineage).toSet
      val left = sc.getPersistentRDDs.keySet -- persisted
      val stray = left -- reads
      val msg =
        (if (cacheEntries() != entries) Seq(s"$name: ${cacheEntries() - entries} CacheManager entries added") else Nil) ++
        (if (stray.nonEmpty) Seq(s"$name: ${stray.size} persisted RDDs the result cannot read") else Nil)
      out.foreach(_.collect()) // the result still reads its blocks
      left.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      msg
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
