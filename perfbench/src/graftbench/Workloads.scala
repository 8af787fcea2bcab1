package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.kernels.TopK
import graft.model.PprConfig
import graft.operators.{GRank, MonteCarloPpr}
import graft.sources.{EdgeSource, Synth, WebCorpus}

/** One pass's results: the digest of each output, the frames behind them
  * (checked once, then released with the pass) and the per-layer values
  * that only the returned objects carry. */
final case class PassOut(
    digests: Seq[(String, String)],
    frames: Map[String, DataFrame],
    layer: Map[String, Double])

/** A workload's materialized inputs and the pass that runs on them. */
trait Loaded {
  /** The cached input frames. */
  def inputs: Seq[DataFrame]
  /** Row counts of the generated inputs, as per-layer metrics. */
  def inputRows: Map[String, Double]
  def pass(tr: Tracer): PassOut
  /** Traced runs only: calls a layer outside the pass, on inputs built
    * outside the span; returns per-layer values. */
  def probe(tr: Tracer): Map[String, Double] = Map.empty
  /** Invariants every output must satisfy at any seed; returns violations. */
  def check(out: PassOut): Seq[String]
}

trait Workload {
  def name: String
  /** Nominal seconds of one warm pass; a run makes `--seconds` divided by
    * this many judged passes. */
  def passSeconds: Double
  /** Generates the inputs from `seed` and materializes them. */
  def setup(spark: SparkSession, seed: Long, tr: Tracer): Loaded
}

object Workloads {
  val all: Seq[Workload] = Seq(PprTopK, CorpusDedup)

  /** Size of the generated web graph (about 3.8k edges). A pass is mostly
    * per-job overhead at this size: a warm `ppr_topk` pass takes about
    * 7 s on 3 local threads, a 4000-page one took 12 s. */
  val webPages = 1000L

  /** Seeded power-law web graph with hub skew: (src, dst) edges and the
    * vertex closure, both cached and counted. */
  def webGraph(spark: SparkSession, seed: Long, tr: Tracer): (DataFrame, DataFrame) =
    tr.span("sources.web_graph") {
      val edges = WebCorpus.edges(WebCorpus.synthesize(spark, webPages, seed)).persist()
      edges.count()
      val vertices = EdgeSource.vertices(edges).persist()
      vertices.count()
      (edges, vertices)
    }

  /** Median of the steady supersteps (the first one pays plan and
    * broadcast set-up). */
  def steadyMs(history: Seq[graft.operators.IterMetrics]): Double = {
    val ws = history.drop(1).map(_.wallMs.toDouble).sorted
    if (ws.isEmpty) 0.0 else ws(ws.length / 2)
  }

  def rows(digest: String): Double = digest.takeWhile(_ != ':').toDouble

  /** Each seed's basket is distinct nodes, at most `k` of them, with
    * positive scores no larger than `maxScore`, and every vertex has a
    * basket. */
  def checkBaskets(name: String, df: DataFrame, vertices: DataFrame, k: Int,
      maxScore: Double): Seq[String] = {
    val r = df.groupBy(col("seed"))
      .agg(count(lit(1)).as("n"), countDistinct(col("node")).as("d"),
        min(col("score")).as("lo"), max(col("score")).as("hi"))
      .agg(count(lit(1)), max(col("n")), sum(when(col("n") =!= col("d"), 1).otherwise(0)),
        min(col("lo")), max(col("hi")))
      .head()
    val nv = vertices.count()
    Seq(
      (r.getLong(0) == nv) -> s"$name: ${r.getLong(0)} seeds with a basket, $nv vertices",
      (r.getLong(1) <= k) -> s"$name: basket of ${r.getLong(1)} > K=$k entries",
      (r.getLong(2) == 0) -> s"$name: ${r.getLong(2)} baskets repeat a node",
      (r.getDouble(3) > 0 && r.getDouble(4) <= maxScore) ->
        s"$name: scores outside (0, $maxScore]: ${r.getDouble(3)}..${r.getDouble(4)}"
    ).collect { case (false, msg) => msg }
  }
}

/** GRank top-K baskets, then Monte-Carlo complete-path PPR (the paper's
  * product): a few wide supersteps with |V|·L state, gather exchanges and
  * the top-L prune. */
object PprTopK extends Workload {
  val name = "ppr_topk"
  val passSeconds = 7.0
  private val grankCfg = PprConfig(K = 10, L = 20, iterations = 6, tolerance = -1,
    topLStrategy = "window", quantize = 1e12)
  private val mcCfg = PprConfig(K = 10, L = 20, iterations = 30,
    topLStrategy = "window", quantize = 1e12)

  def setup(spark: SparkSession, seed: Long, tr: Tracer): Loaded = {
    val (edges, vertices) = Workloads.webGraph(spark, seed, tr)
    new Loaded {
      val inputs = Seq(edges, vertices)
      val inputRows = Map("sources.edges" -> edges.count().toDouble)

      def pass(tr: Tracer): PassOut = {
        val (g, dg) = tr.span("operators.grank") {
          val r = GRank.runWithMetrics(edges, vertices, grankCfg)
          (r, Digest.of(r.state))
        }
        val (mc, stats, dm) = tr.span("operators.mc") {
          val (df, st) = MonteCarloPpr.runWithStats(edges, vertices, mcCfg, maxSteps = 64)
          (df, st, Digest.of(df))
        }
        PassOut(Seq("grank" -> dg, "mc" -> dm), Map("grank" -> g.state, "mc" -> mc),
          Map("operators.grank.superstep_ms" -> Workloads.steadyMs(g.history),
            "operators.mc.max_in_flight" -> stats.maxInFlight.toDouble,
            "operators.mc.chunks" -> stats.chunks.toDouble))
      }

      /** The top-L kernel alone, on the rows a GRank superstep prunes:
        * every seed's one-hop basket gathered one hop further. */
      override def probe(tr: Tracer): Map[String, Double] = {
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val factor = edges.join(deg, "src")
          .select(col("src"), col("dst"), (lit(0.85) / col("deg")).as("f"))
        val gathered = factor.select(col("src").as("seed"), col("dst").as("mid"), col("f").as("f1"))
          .join(factor.withColumnRenamed("src", "mid"), "mid")
          .select(col("seed"), col("dst").as("node"), (col("f1") * col("f")).as("score"))
          .localCheckpoint(true)
        val in = gathered.count()
        val out = tr.span("kernels.topl") {
          TopK.pruneTopL(gathered, grankCfg.L, "window", grankCfg.quantize).count()
        }
        Map("kernels.topl.keep_frac" -> out.toDouble / math.max(in, 1L))
      }

      def check(out: PassOut): Seq[String] =
        // GRank scores are probabilities; MC scores add visit frequencies,
        // which exceed 1 where walks revisit a node
        Workloads.checkBaskets("grank", out.frames("grank"), vertices, grankCfg.K, 1.0) ++
          Workloads.checkBaskets("mc", out.frames("mc"), vertices, mcCfg.K, Double.PositiveInfinity)

    }
  }
}

/** n-gram Jaccard near-dup, duplicate clusters and MinHash LSH over a
  * chain corpus: one-shot AQE-on queries dominated by the functions layer
  * (tokenize, shingle hashing, inverted index, candidate join, verify). */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val passSeconds = 5.0
  /** Original documents; the corpus adds a one-tail and a two-tail copy
    * of each (ids + copyOffset, + 2 * copyOffset). */
  val nDocs = 300L
  val copyOffset = 1000000L
  private val tail1 = " graft near duplicate pad tail"
  private val tail2 = " second graft pad chunk extra"

  def setup(spark: SparkSession, seed: Long, tr: Tracer): Loaded = {
    val docs = tr.span("sources.docs") {
      val d = Synth.documents(spark, nDocs, seed = seed).select(col("doc_id"), col("text"))
      val all = d
        .union(d.select(col("doc_id") + copyOffset, concat(col("text"), lit(tail1))))
        .union(d.select(col("doc_id") + 2 * copyOffset, concat(col("text"), lit(tail1), lit(tail2))))
        .toDF("doc_id", "text").persist()
      all.count()
      all
    }
    new Loaded {
      val inputs = Seq(docs)
      val inputRows = Map("sources.docs" -> docs.count().toDouble)

      def pass(tr: Tracer): PassOut = {
        val (pairs, dp) = tr.span("functions.ngram") {
          val p = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.7, maxShingleFreq = 50)
          (p, Digest.of(p))
        }
        val (cl, dc) = tr.span("functions.clusters") {
          val c = Dedup.clusters(pairs, docs)
          (c, Digest.of(c))
        }
        val (mh, dm) = tr.span("functions.minhash") {
          val m = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7)
          (m, Digest.of(m))
        }
        PassOut(Seq("ngram" -> dp, "clusters" -> dc, "minhash" -> dm),
          Map("ngram" -> pairs, "clusters" -> cl, "minhash" -> mh),
          Map("functions.ngram.pairs" -> Workloads.rows(dp),
            "functions.minhash.pairs" -> Workloads.rows(dm)))
      }

      def check(out: PassOut): Seq[String] = {
        def pairStats(df: DataFrame) = df.agg(count(lit(1)),
          sum(when(col("id_a") >= col("id_b") || col("jaccard") < 0.7, 1).otherwise(0))).head()
        val ng = pairStats(out.frames("ngram"))
        val mh = pairStats(out.frames("minhash"))
        // every planted copy is above 0.7 and shares rare shingles with
        // its original, so the exact n-gram index must find it
        val planted = out.frames("ngram")
          .where(col("id_b") === col("id_a") + copyOffset && col("id_a") < copyOffset).count()
        val cl = out.frames("clusters")
        val c = cl.agg(count(lit(1)), sum(when(col("canonical") > col("doc_id"), 1).otherwise(0))).head()
        val unmerged = cl.where(col("doc_id") < copyOffset)
          .join(cl.where(col("doc_id") >= 2 * copyOffset)
            .select((col("doc_id") - 2 * copyOffset).as("doc_id"), col("canonical").as("c2")), "doc_id")
          .where(col("canonical") =!= col("c2")).count()
        Seq(
          (ng.getLong(1) == 0) -> s"ngram: ${ng.getLong(1)} pairs unordered or below 0.7",
          (mh.getLong(1) == 0) -> s"minhash: ${mh.getLong(1)} pairs unordered or below 0.7",
          (planted == nDocs) -> s"ngram: $planted of $nDocs planted copies found",
          (c.getLong(0) == 3 * nDocs) -> s"clusters: ${c.getLong(0)} rows, ${3 * nDocs} docs",
          (c.getLong(1) == 0) -> s"clusters: ${c.getLong(1)} canonical ids above their doc",
          (unmerged == 0) -> s"clusters: $unmerged chains not merged end to end"
        ).collect { case (false, msg) => msg }
      }

    }
  }
}
