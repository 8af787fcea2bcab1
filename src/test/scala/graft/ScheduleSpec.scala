package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.kernels.TopK
import graft.model.PprConfig
import graft.functions.Dedup
import graft.operators.{Components, ExactPpr, GRank, Hits, HyperBall, KCore, MonteCarloPpr, Quality, Scc}
import org.apache.spark.grafttest.{JobCounter, SqlPlans}

/** G5 partitioned schedule + physical-plan and parallelism-invariance
  * contracts (SURVEY.md §2.3-§2.4). */
class ScheduleSpec extends AnyFunSuite with GraphFixtures {

  test("partitioned schedule reaches the same fixpoint as synchronous (1e-6)") {
    // thesis §4.1.1: the alternating schedule changes iterates, not the fixpoint
    val es = randomGraph(12, 50, seed = 23)
    val vids = (es.flatMap(e => Seq(e._1, e._2)).distinct :+ 11L).distinct.sorted
    val e = edgesDf(es); val vs = verticesDf(vids)
    val sync = baskets(GRank.run(e, vs,
      PprConfig(vids.size, vids.size, 200, tolerance = 1e-8)))
    val part = baskets(GRank.run(e, vs,
      PprConfig(vids.size, vids.size, 400, tolerance = 1e-8, partitionedSchedule = true)))
    assertAllClose(sync, part, 1e-6)
  }

  test("partitioned schedule matches exact PPR too (full contract chain)") {
    val es = cycle(5)
    val e = edgesDf(es); val vs = verticesDf(0L until 5L)
    val part = baskets(GRank.run(e, vs,
      PprConfig(5, 5, 400, tolerance = 1e-8, partitionedSchedule = true)))
    val oracle = baskets(ExactPpr.run(e, vs, 300, 0.85, 1e-9))
    assertAllClose(part, oracle, 1e-6)
  }

  test("two-slot convergence: partitioned run takes more iterations than one per partition") {
    // both colors must individually fall below tolerance before stopping
    val e = edgesDf(cycle(6)); val vs = verticesDf(0L until 6L)
    val res = GRank.runWithMetrics(e, vs,
      PprConfig(6, 6, 100, tolerance = 1e-4, partitionedSchedule = true))
    assert(res.history.size >= 3, s"stopped after ${res.history.size} iterations")
  }

  test("superstep physical plan has exactly ONE exchange (window strategy, persisted state)") {
    val e = edgesDf(randomGraph(30, 150, seed = 31)); val vs = verticesDf(0L until 30L)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val adj = e.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(0.85) / col("outdeg")).as("factor"))
      .repartition(4, col("dst")).persist()
    adj.count()
    val teleport = vs.select(col("id").as("seed"), col("id").as("node"), lit(0.15).as("score"))
    // a state that carries hash(seed) partitioning in its plan (a persisted prune)
    val state = TopK.pruneTopLAligned(
      teleport.union(e.join(outdeg, "src").select(col("src").as("seed"),
        col("dst").as("node"), (lit(0.85) / col("outdeg")).as("score"))), 10, 4)
      .persist()
    state.count()
    val gathered = state.join(adj, state("seed") === adj("dst"))
      .select(col("src").as("seed"), col("node"), (col("score") * col("factor")).as("score"))
    val superstep = TopK.pruneTopLAligned(gathered.union(teleport), 10, 4)
    val plan = superstep.queryExecution.executedPlan.toString
    // scope to the live operators: everything below the first cached-relation
    // marker is the (already-materialized) plan text of persisted inputs
    val live = plan.split("InMemoryTableScan").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(live).size
    assert(exchanges == 1, s"expected 1 live exchange, got $exchanges:\n$plan")
    assert(!live.contains("ENSURE_REQUIREMENTS"),
      s"agg/window should reuse the explicit repartition:\n$plan")
    state.unpersist(); adj.unpersist()
  }

  test("superstep from a localCheckpoint'ed state plans with ONE exchange (depth-1 lineage path)") {
    // Spark 4's LogicalRDD checkpoint PRESERVES hash output partitioning —
    // the iterative engine relies on this (it cuts lineage every superstep):
    // constant-depth plans per iteration with no state-side re-shuffle in
    // the gather join.
    val e = edgesDf(randomGraph(30, 150, seed = 32)); val vs = verticesDf(0L until 30L)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val adj = e.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(0.85) / col("outdeg")).as("factor"))
      .repartition(4, col("dst")).persist()
    adj.count()
    val teleport = vs.select(col("id").as("seed"), col("id").as("node"), lit(0.15).as("score"))
    val state = TopK.pruneTopLAligned(
      teleport.union(e.join(outdeg, "src").select(col("src").as("seed"),
        col("dst").as("node"), (lit(0.85) / col("outdeg")).as("score"))), 10, 4)
      .localCheckpoint(true) // <- the per-iteration lineage cut
    val gathered = state.join(adj, state("seed") === adj("dst"))
      .select(col("src").as("seed"), col("node"), (col("score") * col("factor")).as("score"))
    val superstep = TopK.pruneTopLAligned(gathered.union(teleport), 10, 4)
    val plan = superstep.queryExecution.executedPlan.toString
    val live = plan.split("InMemoryTableScan").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(live).size
    assert(exchanges == 1, s"expected 1 live exchange, got $exchanges:\n$plan")
    adj.unpersist()
  }

  test("job-count gate: MC (local engine) and GRank issue only the jobs their data needs") {
    val e = edgesDf(randomGraph(30, 120, seed = 37)).persist()
    val vs = verticesDf(0L until 32L).persist() // 30, 31: absent from the edges
    e.count(); vs.count()
    val sc = spark.sparkContext
    // MC: edge count, adjacency collect, and one job that walks, scatters
    // each walk basket to the origin's predecessors and combines them on one
    // shuffle (no basket checkpoint, no factor or edge joins)
    val (_, mc) = JobCounter.jobs(sc) {
      MonteCarloPpr.run(e, vs, PprConfig(5, 10, 30, topLStrategy = "window", quantize = 1e12),
        maxSteps = 24)
    }
    assert(mc.size == 3, s"MC local engine: ${mc.size} jobs: ${mc.mkString(" | ")}")
    // GRank (tolerance -1): set-up is the hub collect, the norm broadcast
    // and the state init; then one job per superstep and the final cut
    for (it <- Seq(2, 5)) {
      val (_, g) = JobCounter.jobs(sc) {
        GRank.run(e, vs, PprConfig(5, 10, it, tolerance = -1,
          topLStrategy = "window", quantize = 1e12))
      }
      assert(g.size == 3 + it + 1, s"GRank, $it supersteps: ${g.size} jobs: ${g.mkString(" | ")}")
    }
    e.unpersist(); vs.unpersist()
  }

  test("leaf-plan gate: GRank supersteps plan against checkpoint leaves, never a cached relation") {
    // the caller's inputs are cached, as in the benchmark: a persisted loop
    // input would carry their lineage into every superstep as an
    // InMemoryRelation child
    val e = edgesDf(randomGraph(30, 120, seed = 37)).persist()
    val vs = verticesDf(0L until 32L).persist()
    e.count(); vs.count()
    for (cfg <- Seq(PprConfig(5, 10, 3, tolerance = -1, quantize = 1e12),
        PprConfig(5, 10, 3, tolerance = -1, quantize = 1e12, saltThreshold = 2, saltBuckets = 3),
        PprConfig(5, 10, 3, tolerance = -1, quantize = 1e12, partitionedSchedule = true))) {
      val (_, plans) = SqlPlans.capture(spark.sparkContext)(GRank.run(e, vs, cfg).collect())
      // the engine's init cut (Iterative.scala) and one cut per superstep
      // (Materialize.scala); the 2-coloring's cuts run before the init cut
      val loop = plans.dropWhile(!_.description.contains("Iterative.scala"))
        .filter(d => d.description.contains("Iterative.scala") || d.description.contains("Materialize.scala"))
      assert(loop.size == 1 + cfg.iterations, s"$cfg: ${plans.map(_.description).mkString(" | ")}")
      for (p <- loop) assert(!p.nodes.exists(_.nodeName.startsWith("InMemoryTableScan")),
        s"$cfg: a loop plan scans a cached relation:\n${p.plan}")
    }
    e.unpersist(); vs.unpersist()
  }

  /** Spark jobs `body` starts on the 32-vertex, 120-edge job-gate fixture. */
  private def gateJobs(body: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => Any): Seq[String] = {
    val e = edgesDf(randomGraph(30, 120, seed = 37)).persist()
    val vs = verticesDf(0L until 32L).persist()
    e.count(); vs.count()
    try JobCounter.jobs(spark.sparkContext)(body(e, vs))._2
    finally { e.unpersist(); vs.unpersist() }
  }

  test("job-count gate: HITS normalizers ride the gather checkpoints") {
    // set-up is the vertex count and the init cut, then per iteration the
    // authority gather, the hub gather and the engine's cut; the collect
    for (it <- Seq(2, 4)) {
      val jobs = gateJobs((e, vs) => Hits.run(e, vs, it, tolerance = -1, quantize = 1e12).collect())
      assert(jobs.size == 3 * it + 3, s"HITS, $it iterations: ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    }
  }

  test("job-count gate: SCC and HyperBall fixpoint probes ride the checkpoint they read") {
    // SCC: 13 cuts (the active count and the label sum are observed on
    // them) and the collect; the parent ran 8 probe jobs more
    val scc = gateJobs((e, vs) => Scc.scc(e, vs).collect())
    assert(scc.size == 14, s"SCC: ${scc.size} jobs: ${scc.mkString(" | ")}")
    // HyperBall: the init cut and est_0, then per round the register cut
    // (its fingerprint observed), the adjacency broadcast and est_t
    for (r <- Seq(2, 4)) {
      val hb = gateJobs((e, vs) => HyperBall.sweep(e, vs, r))
      assert(hb.size == 3 * r + 2, s"HyperBall sweep, $r rounds: ${hb.size} jobs: ${hb.mkString(" | ")}")
    }
  }

  test("job-count gate: HyperBall registers come out of the fingerprint loop, no norm job") {
    // the init cut, then per round the register cut (its fingerprint
    // observed) and the adjacency broadcast, and the collect; the parent ran
    // the engine's convergence norm as one more job per round
    for (r <- Seq(2, 4)) {
      val jobs = gateJobs((e, vs) => HyperBall.registers(e, vs, r).collect())
      assert(jobs.size == 2 * r + 2, s"HyperBall registers, $r rounds: ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    }
  }

  test("job-count gate: the quality harness reads its sample counts off the cuts that make them") {
    // q_quality_harness's shape on the job-gate fixture, the GRank result
    // materialized beforehand; the parent counted the sample, and the
    // uncovered seeds of a precomputed oracle, in a job each (51 and 15)
    val e = edgesDf(randomGraph(30, 120, seed = 37)).persist()
    val vs = verticesDf(0L until 32L).persist()
    e.count(); vs.count()
    val approx = GRank.run(e, vs, PprConfig(5, 10, 3, tolerance = -1, quantize = 1e12))
    val oracle = ExactPpr.run(e, vs, iterations = 20, tolerance = -1, quantize = 1e12).localCheckpoint(true)
    def harness(pre: Option[org.apache.spark.sql.DataFrame]): Seq[String] =
      JobCounter.jobs(spark.sparkContext)(Quality.evaluate(approx, e, vs, testNodes = 20,
        strict = true, oracleIterations = 20, oracleTolerance = -1, quantize = 1e12,
        precomputedOracle = pre).collect())._2
    val own = harness(None)
    assert(own.size == 50, s"quality harness: ${own.size} jobs: ${own.mkString(" | ")}")
    val pre = harness(Some(oracle))
    assert(pre.size == 13, s"quality harness, precomputed oracle: ${pre.size} jobs: ${pre.mkString(" | ")}")
    e.unpersist(); vs.unpersist()
  }

  test("job-count gate: label fixpoints count their changes on the round's checkpoint") {
    // three rounds each: the init cut, then per round the state cut and
    // its broadcast(s), and the collect; the parent ran one count job more
    // per round
    val minId = gateJobs((e, vs) => Components.connectedComponentsMinId(e, vs).collect())
    assert(minId.size == 9, s"CC min-id: ${minId.size} jobs: ${minId.mkString(" | ")}")
    val twoColor = gateJobs((e, vs) => Components.twoColoring(e, vs).collect())
    assert(twoColor.size == 8, s"twoColoring: ${twoColor.size} jobs: ${twoColor.mkString(" | ")}")
  }

  test("job-count gate: walks count survivors on the walker checkpoint") {
    // walkTrace: the origin cut, then per step the walker cut and the
    // adjacency broadcast, and the collect (the parent counted the walkers
    // after every cut: 13 jobs)
    val trace = gateJobs((e, vs) => MonteCarloPpr.walkTrace(e, vs, 2, 3).collect())
    assert(trace.size == 9, s"walkTrace, 3 steps: ${trace.size} jobs: ${trace.mkString(" | ")}")
    // MC join engine: the edge count that picks the engine is the only
    // count; origins, walkers and batch ends are observed on their cuts
    val mc = gateJobs((e, vs) => MonteCarloPpr.run(e, vs, PprConfig(5, 10, 30, quantize = 1e12),
      maxSteps = 24, broadcastEdgeLimit = 0L, walkerBudget = 200L).collect())
    val counts = mc.filter(_.startsWith("count at"))
    assert(counts.size == 1, s"MC join engine counts: ${counts.mkString(" | ")}")
  }

  test("job-count gate: the engine reads its row count off the superstep checkpoint (k-core, tolerance 0.5)") {
    // per superstep the cut and the convergence norm (plus the gather's
    // broadcast); k-core converges after 5 supersteps on this fixture. The
    // parent counted the rows in one more job per superstep
    for ((r, want) <- Seq(3 -> 13, 6 -> 19)) {
      val jobs = gateJobs((e, vs) => KCore.coreness(e, vs, r).collect())
      assert(jobs.size == want, s"k-core, $r rounds: ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    }
  }

  test("job-count gate: dedup clusters run one job per contraction round") {
    val s = spark
    import s.implicits._
    // chain-corpus pair graph: triangles {i, i+1e6, i+2e6}; docs 3e6.. are pair-free
    val pairs = (0L until 60L).flatMap(i =>
      Seq((i, i + 1000000L), (i + 1000000L, i + 2000000L), (i, i + 2000000L)))
      .toDF("id_a", "id_b").persist()
    val docs = ((0L until 60L).flatMap(i => Seq(i, i + 1000000L, i + 2000000L)) ++
      (3000000L until 3000010L)).toDF("doc_id").persist()
    pairs.count(); docs.count()
    val sc = spark.sparkContext
    val (got, jobs) = JobCounter.jobs(sc)(Dedup.clusters(pairs, docs).collect())
    assert(got.length == 190 && got.forall { r =>
      val id = r.getLong(0)
      r.getLong(1) == (if (id < 3000000L) id % 1000000L else id)
    })
    val (_, rounds) = Components.connectedComponentsStarWithRounds(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")), docs.select(col("doc_id").as("id")))
    assert(rounds == 2)
    // the initial cut, one checkpoint per round (fixpoint count and hash
    // ride it as observed metrics), and the final mapping's collect
    assert(jobs.size == 1 + rounds + 1, s"clusters, $rounds rounds: ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    pairs.unpersist(); docs.unpersist()
  }

  test("job-count gate: simhash near-dup materializes its signatures with one job (AQE on)") {
    // one-shot queries run with AQE on (Verify, Bench); there a persisted
    // frame that no action has filled is filled by one cache-stage job per
    // scan, and the candidate self-join scans the signatures twice
    val docs = graft.sources.Synth.documents(spark, 300)
      .union(graft.sources.Synth.documents(spark, 40).select(
        (col("doc_id") + 1000L).as("doc_id"), col("text"), col("source"))) // 40 exact copies
      .persist()
    docs.count()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val (pairs, jobs) = try JobCounter.jobs(spark.sparkContext) {
      Dedup.simhashNearDup(docs, "doc_id", "text").collect()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(pairs.count(r => r.getLong(1) == r.getLong(0) + 1000L && r.getInt(2) == 0) == 40)
    // the signature checkpoint, the candidate plan's two broadcast
    // exchanges, the result checkpoint and the collect (an unfilled
    // persist of the signatures took one more: a fill per join side)
    assert(jobs.size == 5, s"simhashNearDup: ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    docs.unpersist()
  }

  test("grank result is invariant across shuffle-partition counts (grankMulti contract M4)") {
    // grankMultiThreadTest.cc:384-576: results identical across thread counts.
    // In one JVM the parallelism knobs are shuffle partitioning + repartition
    // counts; results must be bit-stable thanks to deterministic tie-breaks.
    val es = randomGraph(25, 120, seed = 41)
    val e = edgesDf(es); val vs = verticesDf(0L until 25L)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val a = baskets(GRank.run(e, vs, PprConfig(5, 10, 10, tolerance = -1)))
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val b = try baskets(GRank.run(e, vs, PprConfig(5, 10, 10, tolerance = -1)))
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a.keySet == b.keySet)
    for (s <- a.keySet) assert(a(s).keySet == b(s).keySet, s"seed $s basket sets differ")
    assertAllClose(a, b, 1e-12)
  }
}
