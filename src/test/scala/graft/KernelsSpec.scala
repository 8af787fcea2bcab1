package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.kernels.{Grid, Materialize, Metrics, TopK}

/** Kernel laws from the reference's unit suites (SURVEY.md §5 tier 1). */
class KernelsSpec extends AnyFunSuite with GraphFixtures {

  private def stateDf(rows: Seq[(Long, Long, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("seed", "node", "score")
  }

  /** Local reference law: top L of (node, score) by score desc, node asc. */
  private def cut(entries: Seq[(Long, Double)], l: Int): Map[Long, Double] =
    entries.sortBy { case (node, score) => (-score, node) }.take(math.max(l, 0)).toMap

  // ---- keepTop laws (test/internal/keepTopTest.cc) ----------------------
  test("topL: L=0 empties the basket") {
    val df = stateDf(Seq((1L, 1L, 1.0), (1L, 2L, 2.0)))
    assert(TopK.pruneTopL(df, 0).count() == 0)
  }

  test("topL: L >= size is a no-op") {
    val df = stateDf(Seq((1L, 1L, 1.0), (1L, 2L, 2.0)))
    val got = baskets(TopK.pruneTopL(df, 5))
    assert(got(1L) == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("topL: exact cut with deterministic ties (score desc, node asc)") {
    val rows = Seq((1L, 10L, 3.0), (1L, 11L, 1.0), (1L, 12L, 3.0), (1L, 13L, 2.0))
    val got = baskets(TopK.pruneTopL(stateDf(rows), 2))
    assert(got(1L) == Map(10L -> 3.0, 12L -> 3.0))
    val got3 = baskets(TopK.pruneTopL(stateDf(rows), 3))
    assert(got3(1L) == Map(10L -> 3.0, 12L -> 3.0, 13L -> 2.0))
  }

  test("topL: duplicate nodes are summed before the cut (window path)") {
    val rows = Seq((1L, 10L, 1.0), (1L, 10L, 1.0), (1L, 11L, 1.5))
    val got = baskets(TopK.pruneTopL(stateDf(rows), 1))
    assert(got(1L) == Map(10L -> 2.0))
    // the aligned superstep shape sums the same way
    assert(baskets(TopK.pruneTopLAligned(stateDf(rows), 1, 3))(1L) == Map(10L -> 2.0))
  }

  test("topL: randomized cut matches local reference law on 500 keys") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map(i => (1L, i.toLong, rnd.nextInt(100).toDouble))
    for (l <- Seq(1, 50, 499, 500)) {
      val got = baskets(TopK.pruneTopL(stateDf(rows), l))(1L)
      assert(got == cut(rows.map(r => (r._2, r._3)), l), s"L=$l")
    }
  }

  // ---- norm1 laws (test/internal/norm1Test.cc) ---------------------------
  // ---- fixed-point grid rounding (kernels.Grid) --------------------------
  test("grid: roundLong equals Spark's round(x).cast(long) on finite |x| < 2^62 (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.Prop.propBoolean
    val s = spark
    import s.implicits._
    val two52 = 4503599627370496.0
    // finite doubles of every binade below 2^62, subnormals included
    val anyFinite = for {
      neg <- Gen.oneOf(true, false)
      exp <- Gen.choose(0L, 1023L + 61L)
      man <- Gen.choose(0L, (1L << 52) - 1L)
    } yield java.lang.Double.longBitsToDouble((if (neg) 1L << 63 else 0L) | (exp << 52) | man)
    val gen: Gen[Double] = Gen.frequency(
      3 -> anyFinite,
      2 -> Gen.choose(-1000000L, 1000000L).map(_ + 0.5),             // +-k.5 ties
      2 -> Gen.choose(-64, 64).map(k => two52 + k * 0.5),             // around 2^52 +- 0.5
      2 -> Gen.choose(-64, 64).map(k => -two52 + k * 0.5),
      2 -> Gen.choose(1e-300, 1.0).map(p => math.log(p) * 1e12),      // log-probabilities on the 1e12 grid
      1 -> Gen.choose(-3.0, 3.0).map(x => Math.nextUp(math.floor(x) + 0.5)),
      1 -> Gen.choose(-3.0, 3.0).map(x => Math.nextDown(math.floor(x) + 0.5)))
    val fixed = Seq(0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 1.5, -2.5,
      0.0, -0.0, two52 - 0.5, -(two52 - 0.5), two52 + 1.0, Math.nextDown(two52), 4.0e18, -4.0e18)
    val prop = Prop.forAll(Gen.listOfN(400, gen)) { xs =>
      // repartition: the projection runs as generated code, as in a query
      val bad = (xs ++ fixed).toDF("x").repartition(2)
        .select(col("x"), round(col("x")).cast("long").as("spark"), Grid.roundLong(col("x")).as("grid"))
        .where(col("spark") =!= col("grid")).collect()
      bad.isEmpty :| s"mismatches: ${bad.take(5).mkString(", ")}"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("norm1: shared, disjoint, and empty-key identities") {
    val a = stateDf(Seq((1L, 1L, 1.0), (1L, 2L, 2.0)))
    val b = stateDf(Seq((1L, 1L, 0.5), (1L, 3L, 4.0)))
    // |1.0-0.5| + |2.0-0| + |0-4.0| = 6.5
    assert(Metrics.maxNorm1(a, b) == 6.5)
    assert(Metrics.maxNorm1(a, a) == 0.0)
  }

  test("norm1: per-seed max is taken across seeds") {
    val a = stateDf(Seq((1L, 1L, 1.0), (2L, 1L, 5.0)))
    val b = stateDf(Seq((1L, 1L, 1.0), (2L, 1L, 1.0)))
    assert(Metrics.maxNorm1(a, b) == 4.0)
  }

  // ---- jaccard laws (test/internal/jaccardTest.cc) -----------------------
  test("jaccard: identical -> 1, disjoint -> 0, half -> 1/3, empty-empty -> 1") {
    val a = stateDf(Seq((1L, 1L, 0.0), (1L, 2L, 0.0), (2L, 5L, 0.0), (3L, 7L, 0.0)))
    val b = stateDf(Seq((1L, 1L, 0.0), (1L, 2L, 0.0), (2L, 6L, 0.0), (3L, 7L, 0.0), (3L, 8L, 0.0)))
    val seeds = verticesDf(Seq(1L, 2L, 3L, 4L))
    val got = Metrics.jaccardPerSeed(a.select("seed", "node"), b.select("seed", "node"), Some(seeds))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
    assert(got(3L) == 0.5) // |{7}| / |{7} u {7,8}| (pprInternal.h:180-184)
    assert(got(4L) == 1.0) // empty vs empty (pprInternal.h:176-177)
  }

  // ---- kendall laws (include/internal/kendall.h semantics) ---------------
  test("kendall: perfect agreement -> 1, reversal -> -1") {
    assert(Metrics.kendallTauB(Array(1, 2, 3, 4), Array(10, 20, 30, 40)) == 1.0)
    assert(Metrics.kendallTauB(Array(1, 2, 3, 4), Array(40, 30, 20, 10)) == -1.0)
  }

  test("kendall: degenerate cases (kendall.h:179)") {
    // both all-ties -> 1.0
    assert(Metrics.kendallTauB(Array(1, 1, 1), Array(2, 2, 2)) == 1.0)
    // only one all-ties -> 0.0
    assert(Metrics.kendallTauB(Array(1, 1, 1), Array(1, 2, 3)) == 0.0)
    assert(Metrics.kendallTauB(Array(1, 2, 3), Array(7, 7, 7)) == 0.0)
    // empty -> 1.0
    assert(Metrics.kendallTauB(Array.empty[Double], Array.empty[Double]) == 1.0)
  }

  test("kendall: tau-b with ties matches hand computation") {
    // x = [1,2,2,3], y = [1,3,2,4]
    // pairs: (1,2):C (1,2):C (1,3):C (2,2):tx (2,3):C (2,3):C -> c=5,d=0,tx=1,ty=0
    // tau-b = 5 / sqrt(5 * 6)
    val got = Metrics.kendallTauB(Array(1, 2, 2, 3), Array(1, 3, 2, 4))
    assert(math.abs(got - 5.0 / math.sqrt(30.0)) < 1e-12)
  }

  test("kendallPerSeed over a relation") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 1.0, 2.0), (1L, 2.0, 3.0), (2L, 1.0, 5.0), (2L, 2.0, 4.0))
      .toDF("seed", "x", "y")
    val got = Metrics.kendallPerSeed(pairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> -1.0))
  }

  // ---- Materialize ----------------------------------------------------------
  test("materialize: one job checkpoints and observes the row count and metrics; empty frames read as SQL") {
    val df = stateDf((1L to 40L).map(i => (i % 3, i, i * 0.5))).repartition(4)
    val ((ck, row), jobs) = org.apache.spark.grafttest.JobCounter.jobs(spark.sparkContext)(
      Materialize(df, sum(col("node")), max(col("score"))))
    assert(jobs.size == 1, jobs.mkString(" | "))
    assert(row.toSeq == Seq(40L, 820L, 20.0))
    assert(ck.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(ck.count() == 40)
    for (empty <- Seq(df.where(col("node") < 0), spark.emptyDataFrame.select(lit(1L).as("node")))) {
      val (e, r) = Materialize(empty, sum(col("node")))
      assert(r.getLong(0) == 0L && r.isNullAt(1))
      assert(e.count() == 0)
    }
  }

  test("materialize: free drops a checkpoint's blocks, through a stats-barrier view too") {
    import org.apache.spark.sql.graft.StatsBarrier.statsBarrier
    val sc = spark.sparkContext
    def persisted() = sc.getPersistentRDDs.keySet
    val before = persisted()
    val (ck, _) = Materialize(stateDf(Seq((1L, 2L, 3.0), (4L, 5L, 6.0))))
    val lazyLeaf = stateDf(Seq((7L, 8L, 9.0))).localCheckpoint(eager = false)
    val view = statsBarrier(Materialize(stateDf(Seq((1L, 1L, 1.0))))._1)
    assert((persisted() -- before).size == 3)
    Materialize.free(ck.select(col("seed")), lazyLeaf, view)
    assert((persisted() -- before).isEmpty)
  }

  test("materialize: apply, cut and leaf store serialized blocks; free drops them") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graft.StatsBarrier.statsBarrier
    val sc = spark.sparkContext
    def stored() = sc.getRDDStorageInfo.map(_.id).toSet
    def rdd(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get
    val before = stored()
    val applied = Materialize(stateDf(Seq((1L, 2L, 3.0), (4L, 5L, 6.0))))._1
    val cut = Materialize.cut(stateDf(Seq((7L, 8L, 9.0))))
    val leaf = Materialize.leaf(stateDf((1L to 20L).map(i => (i, i, 1.0))).repartition(3))
    assert(!stored().contains(rdd(leaf).id), "a leaf holds no blocks before a job reads it")
    assert(leaf.count() == 20)
    for ((name, df) <- Seq("apply" -> applied, "cut" -> cut, "leaf" -> leaf)) {
      val level = rdd(df).getStorageLevel
      assert(level == Materialize.Level && !level.deserialized && level.useDisk, s"$name: $level")
    }
    assert((stored() -- before) == Set(applied, cut, leaf).map(rdd(_).id))
    Materialize.free(applied, leaf, statsBarrier(cut))
    assert((stored() -- before).isEmpty)
  }
}
