package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.kernels.TopK
import graft.model.PprConfig
import graft.functions.Dedup
import graft.operators.{Components, ExactPpr, GRank, MonteCarloPpr}
import org.apache.spark.grafttest.JobCounter

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
    // a state that carries hash(seed) partitioning in its plan (persist-chain shape)
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
    // the engine relies on this (lineageCutEvery = 1 default): constant-depth
    // plans per iteration with no state-side re-shuffle in the gather join.
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
    // MC: edge count, adjacency collect, the walk (emits L-cut baskets: no
    // sum or prune job follows), three broadcasts and the result of the
    // combine superstep
    val (_, mc) = JobCounter.jobs(sc) {
      MonteCarloPpr.run(e, vs, PprConfig(5, 10, 30, topLStrategy = "window", quantize = 1e12),
        maxSteps = 24, walkMode = "local")
    }
    assert(mc.size == 7, s"MC local engine: ${mc.size} jobs: ${mc.mkString(" | ")}")
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
