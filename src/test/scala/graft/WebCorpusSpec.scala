package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.model.PprConfig
import graft.operators.{CheckpointManager, GRank}
import graft.sources.{EdgeSource, WebCorpus}

class WebCorpusSpec extends AnyFunSuite with GraphFixtures {

  test("ingest invariant: byte-identical text (and html) per url across runs") {
    val a = WebCorpus.synthesize(spark, 300, seed = 42)
      .select(col("url"), md5(col("text")).as("th"), md5(col("html")).as("hh"))
    val b = WebCorpus.synthesize(spark, 300, seed = 42)
      .select(col("url"), md5(col("text")).as("th2"), md5(col("html")).as("hh2"))
    val joined = a.join(b, Seq("url"), "full_outer")
    assert(joined.count() == 300)
    assert(joined.where(col("th") =!= col("th2") || col("hh") =!= col("hh2")).count() == 0)
  }

  test("link extraction recovers exactly the planted edge set") {
    val n = 300L
    val pages = WebCorpus.synthesize(spark, n, seed = 7).persist()
    val extracted = WebCorpus.edges(pages)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted edges, independently recomputed from the generator's formula
    val urlHash = pages.select(col("url"), WebCorpus.urlId(col("url")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val planted = pages
      .select(WebCorpus.urlId(col("url")).as("src"),
        explode(WebCorpus.extractLinks(col("text"))).as("du"))
      .select(col("src"), WebCorpus.urlId(col("du")).as("dst"))
      .dropDuplicates("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(extracted == planted && extracted.nonEmpty)
    // every link target is an in-corpus url (generator plants mod-n targets)
    val dstUrls = pages.select(explode(WebCorpus.extractLinks(col("text"))).as("u")).distinct()
    val unknown = dstUrls.join(pages.select(col("url").as("u")), Seq("u"), "left_anti").count()
    assert(unknown == 0)
    pages.unpersist()
  }

  test("corpus stats: power-law-ish skew exists (hub in-degrees)") {
    val pages = WebCorpus.synthesize(spark, 500, seed = 42)
    val e = WebCorpus.edges(pages)
    val maxIn = e.groupBy("dst").count().agg(max("count")).head().getLong(0)
    val avgIn = e.count().toDouble / WebCorpus.vertices(pages).count()
    assert(maxIn > 10 * avgIn, s"expected skew: maxIn=$maxIn avgIn=$avgIn")
  }

  test("id collision audit: planted collision is detected, not silently merged; real ids are clean") {
    val s = spark
    import s.implicits._
    // weak id = url length: "a/x" and "b/y" collide (len 3), "ccccc" alone
    val urls = Seq("a/x", "b/y", "ccccc").toDF("url")
    val hits = WebCorpus.idCollisionAudit(urls, u => length(u).cast("long"))
      .collect()
    assert(hits.length == 1)
    assert(hits(0).getLong(1) == 2L)          // n_urls: both 3-char urls
    assert(hits(0).getString(2) == "a/x")      // min-url witness
    // the production xxhash64 path over a real corpus: zero collisions
    // (expected pairs ~ n^2/2^65 ~ 1e-12 at n = 5000 — class doc math)
    val pages = WebCorpus.synthesize(spark, 5000, seed = 42)
    assert(WebCorpus.idCollisionAudit(pages.select(col("url"))).count() == 0)
  }

  test("end-to-end: corpus -> link extraction -> GRank -> baskets joined back to urls") {
    val pages = WebCorpus.synthesize(spark, 200, seed = 1).persist()
    val e = WebCorpus.edges(pages)
    val v = WebCorpus.vertices(pages)
    val ppr = GRank.run(e, v, PprConfig(K = 5, L = 10, iterations = 5, tolerance = 1e-3))
    val dict = WebCorpus.dictionary(pages)
    val named = ppr.join(dict, ppr("seed") === dict("id"))
      .select(col("url").as("seed_url"), col("node"), col("score"))
    assert(named.count() > 0)
    assert(ppr.groupBy("seed").count().agg(max("count")).head().getLong(0) <= 5)
    pages.unpersist()
  }

  test("checkpoint/resume: killing after iteration i and resuming gives identical final state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val es = edgesDf(randomGraph(25, 150, seed = 3)); val vs = verticesDf(0L until 25L)
    val cfgFull = PprConfig(5, 10, 8, tolerance = -1,
      checkpointEvery = 2, checkpointDir = Some(dir + "/full"))
    val full = baskets(GRank.run(es, vs, cfgFull))

    // "crash" run: same params but stop after 4 iterations (snapshot at 2,4)
    val cfgHalf = PprConfig(5, 10, 4, tolerance = -1,
      checkpointEvery = 2, checkpointDir = Some(dir + "/resume"))
    GRank.run(es, vs, cfgHalf).count()
    val mgr = new CheckpointManager(dir + "/resume")
    assert(mgr.committed() == Seq(2, 4))
    // resume to 8 iterations from the snapshot at 4
    val cfgResume = PprConfig(5, 10, 8, tolerance = -1,
      checkpointEvery = 2, checkpointDir = Some(dir + "/resume"))
    val resumed = baskets(GRank.run(es, vs, cfgResume))
    assertAllClose(full, resumed, 1e-12)

    // manifest carries per-partition lineage + metrics
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir + "/resume/iter_000008/manifest.json"))
    assert(manifest.contains("\"partitions\":") && manifest.contains("\"history\":")
      && manifest.contains("\"wallMs\""))
  }

  test("checkpoint/resume holds under the Bench/ScalingRun config (window strategy, salting)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-bench").toString
    val es = edgesDf(randomGraph(25, 150, seed = 11)); val vs = verticesDf(0L until 25L)
    def cfg(iters: Int, sub: String) = PprConfig(5, 10, iters, tolerance = -1,
      topLStrategy = "window", saltThreshold = 3, saltBuckets = 4,
      checkpointEvery = 2, checkpointDir = Some(s"$dir/$sub"))
    val full = baskets(GRank.run(es, vs, cfg(6, "full")))
    GRank.run(es, vs, cfg(4, "resume")).count() // "crash" at 4 (snapshots at 2, 4)
    val resumed = baskets(GRank.run(es, vs, cfg(6, "resume")))
    assertAllClose(full, resumed, 1e-12)
    // manifests under tolerance = -1 must still be valid JSON (maxDiff null)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/resume/iter_000004/manifest.json"))
    assert(manifest.contains("\"maxDiff\":null"), manifest.take(200))
  }
}
