package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graftbench.{SparkCounters, SparkCounts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The benchmark program: generates one workload's inputs from a seed,
  * runs warm-up passes, then timed passes for a fixed number of seconds,
  * checks every pass's output digest, and writes one JSON result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file> [--references <file>]
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced, it
  * alternates untraced and traced passes (spans and Spark counters) and
  * reports per-layer metrics plus the tracing overhead. */
object Main {

  /** Local thread count, capped by the machine. */
  val maxThreads = 3
  /** Fixed, so plans do not depend on the core count. */
  val shufflePartitions = 8
  /** Set-ups (session and inputs) per run; `setup_s` takes their median. */
  val setupReps = 3
  /** Warm-up passes before timing; reported, not judged. */
  val warmupPasses = 1
  /** Entries of Spark's generated-code cache (default 100). One pass
    * compiles more classes than that (`ppr_topk` 117, `corpus_dedup` 174),
    * so at the default every pass recompiled and re-warmed part of its
    * generated code. */
  val codegenCacheEntries = 4000

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.all.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val references = opt.get("references").map(p => Json.readReferences(Paths.get(p)))
      .getOrElse(Map.empty)
    val expected = references.get(s"${workload.name}/$seed")

    val threads = math.min(maxThreads, Runtime.getRuntime.availableProcessors())
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$threads]")
        .appName(s"graftbench-${workload.name}")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // ---- set-up, several times: SparkSession, then generate and
    // materialize the inputs; the first one counts from JVM start ----
    var spark: SparkSession = null
    var counters: Option[SparkCounters] = None
    var loaded: Loaded = null
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupSpans = mutable.ArrayBuffer.empty[Span]
    for (rep <- 0 until setupReps) {
      if (spark != null) spark.stop()
      val t0 = if (rep == 0) jvmStartMs else System.currentTimeMillis()
      spark = session()
      counters = if (traced) {
        val c = new SparkCounters
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
      val tr = new Tracer(spark, counters)
      loaded = workload.setup(spark, seed, tr)
      setupTimes += (System.currentTimeMillis() - t0) / 1000.0
      setupSpans ++= tr.spans
    }
    val sc = spark.sparkContext
    var keep = sc.getPersistentRDDs.keySet.toSet
    val baseStorage = storageBytes(spark)

    // ---- passes ----
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    final case class PassRec(kind: String, wall: Double, cpu: Double, gc: Double, ok: Boolean,
        load: (Double, Double), spans: Seq[Span], probeSpans: Seq[Span],
        layer: Map[String, Double], err: String, engine: Map[String, Double] = Map.empty)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val violations = mutable.ArrayBuffer.empty[String]
    var reference: Option[Map[String, String]] = expected
    var checked = false
    var checkS = 0.0
    var leakedRdds = 0
    var recached = 0

    def runPass(kind: String, tracer: Tracer): PassRec = {
      counters.foreach(_.reset(sc))
      val l0 = loadavg()
      val c0 = os.getProcessCpuTime
      val g0 = gcSeconds()
      val e0 = engineCounters()
      val t0 = System.nanoTime()
      val rec = try {
        val out = loaded.pass(tracer)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (os.getProcessCpuTime - c0) / 1e9
        val engine = engineCounters().map { case (k, v) => k -> (v - e0(k)) }
        val l1 = loadavg()
        val digests = out.digests.toMap
        if (!checked) { // invariants hold at any seed; digest equality carries them to later passes
          checked = true
          val t = System.nanoTime()
          violations ++= loaded.check(out)
          checkS = (System.nanoTime() - t) / 1e9
          // no recorded digests for this seed: the first pass is the reference
          if (reference.isEmpty) reference = Some(digests)
        }
        val ok = reference.contains(digests)
        if (!ok) violations += s"$kind pass digests $digests != reference ${reference.get}"
        val probe = new Tracer(spark, counters)
        val layer = if (tracer.traced) out.layer ++ loaded.probe(probe) else out.layer
        PassRec(kind, wall, cpu, gcSeconds() - g0, ok, (l0, l1), tracer.spans.toSeq,
          probe.spans.toSeq, layer, "", engine)
      } catch {
        case e: Exception =>
          val wall = (System.nanoTime() - t0) / 1e9
          PassRec(kind, wall, (os.getProcessCpuTime - c0) / 1e9, gcSeconds() - g0, ok = false,
            (l0, loadavg()),
            Nil, Nil, Map.empty, e.toString)
      }
      // isolation: free everything the pass cached or checkpointed
      val extra = sc.getPersistentRDDs.filter { case (id, _) => !keep(id) }
      extra.values.foreach(_.unpersist(blocking = true))
      leakedRdds = math.max(leakedRdds, extra.size)
      // an operator that unpersists a frame equal to an input's plan drops
      // the input's cache entry too; re-materialize it outside the timing
      loaded.inputs.filter(_.storageLevel == StorageLevel.NONE).foreach { df =>
        df.persist().count()
        recached += 1
      }
      keep = sc.getPersistentRDDs.keySet.toSet
      val storage = storageBytes(spark)
      if (storage != baseStorage)
        violations += s"$kind pass left storage at $storage bytes, post-setup $baseStorage: " +
          sc.getRDDStorageInfo.map(i => s"${i.id}:${i.name}:${i.memSize}").mkString(" ")
      passes += rec
      rec
    }

    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val marks = mutable.LinkedHashMap[String, Double]("setup_done" -> sinceStart)
    val plain = new Tracer(spark, None)
    for (_ <- 0 until warmupPasses) runPass("warmup", plain)
    marks("warmup_done") = sinceStart
    // A fixed number of passes, so that every run measures the same stage
    // of the JVM's warm-up; a time window would give a slow run fewer,
    // colder passes. Traced runs alternate untraced and traced passes.
    val judgedPasses = math.max(2, math.round(seconds / workload.passSeconds).toInt)
    for (i <- 0 until judgedPasses) {
      if (traced && i % 2 == 1) runPass("traced", new Tracer(spark, counters))
      else runPass("timed", plain)
    }
    marks("passes_done") = sinceStart

    // ---- metrics ----
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(s.length / 2)
    }
    val timed = passes.filter(_.kind == "timed").toSeq
    val judged = passes.filter(_.kind != "warmup").toSeq
    val okPasses = judged.count(_.ok)
    // a pass with a wrong output still ran in full; one that threw did not
    val completed = timed.filter(_.err.isEmpty)
    // The second-fastest pass: co-tenant bursts only add time, so a low
    // order statistic is burst-robust; the fastest alone scattered more
    // between runs, as it also picks up a pass's lucky timing.
    def secondFastest(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(math.min(1, s.length - 1))
    }
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("wall_s") = secondFastest(completed.map(_.wall))
    metrics("cpu_s") = secondFastest(completed.map(_.cpu))
    metrics("setup_s") = median(setupTimes.toSeq)
    metrics("peak_rss_mb") = peakRssMb()
    metrics("ok_frac") = okPasses.toDouble / math.max(judged.size, 1)

    if (traced) {
      val best = passes.filter(p => p.kind == "traced" && p.err.isEmpty).minByOption(_.wall)
      val fastest = completed.map(_.wall).minOption.getOrElse(0.0)
      metrics ++= LayerMetrics.of(best.map(_.wall).getOrElse(0.0) - fastest,
        best.map(_.spans).getOrElse(Nil), best.map(_.probeSpans).getOrElse(Nil),
        best.map(_.layer).getOrElse(Map.empty), best.map(_.engine).getOrElse(Map.empty),
        setupSpans.toSeq, loaded.inputRows, threads)
    }

    val context = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_threads" -> threads,
      "shuffle_partitions" -> shufflePartitions, "codegen_cache_entries" -> codegenCacheEntries,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
      "setup_reps_s" -> setupTimes.toSeq,
      "reference" -> (if (expected.isDefined) "recorded" else "first pass"),
      "digests" -> reference.getOrElse(Map.empty),
      "marks_s" -> marks, "check_s" -> checkS,
      "leaked_rdds_max" -> leakedRdds, "inputs_recached" -> recached,
      "violations" -> violations.toSeq,
      "passes" -> passes.map(p => mutable.LinkedHashMap[String, Any](
        "kind" -> p.kind, "wall_s" -> p.wall, "cpu_s" -> p.cpu, "jvm_gc_s" -> p.gc, "ok" -> p.ok,
        "load1_start" -> p.load._1, "load1_end" -> p.load._2, "error" -> p.err) ++ p.engine).toSeq)
    if (traced) {
      context("spans") = passes.filter(_.kind == "traced").map(p => (p.spans ++ p.probeSpans).map(s =>
        mutable.LinkedHashMap[String, Any]("name" -> s.name, "s" -> s.seconds,
          "jobs" -> s.spark.jobs, "stages" -> s.spark.stages, "exchanges" -> s.spark.exchanges,
          "tasks" -> s.spark.tasks, "failed_tasks" -> s.spark.failedTasks,
          "shuffle_write_b" -> s.spark.shuffleWriteBytes,
          "shuffle_write_records" -> s.spark.shuffleWriteRecords,
          "shuffle_read_b" -> s.spark.shuffleReadBytes,
          "shuffle_read_records" -> s.spark.shuffleReadRecords, "spill_b" -> s.spark.spillBytes,
          "executor_run_ms" -> s.spark.runMs, "executor_cpu_ns" -> s.spark.cpuNs,
          "gc_ms" -> s.spark.gcMs))).toSeq
    }
    val correct = violations.isEmpty && judged.nonEmpty &&
      okPasses == judged.size && passes.forall(_.err.isEmpty)
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> judged.size, "failed" -> (judged.size - okPasses),
      "metrics" -> metrics, "context" -> context)
    Files.writeString(Paths.get(opt("out")), Json.write(result))
    spark.stop()
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Collection time of every garbage collector of this JVM. */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  }

  /** CPU time of the JIT compiler threads. */
  private def jitCpuNs(): Long = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get("/proc/self/task")).iterator().asScala.map { t =>
      try {
        val stat = Files.readString(t.resolve("stat"))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        if (stat.contains("CompilerThre")) f(11).toLong + f(12).toLong else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum * 10000000L
  }

  /** Steal time of the whole machine, seconds (USER_HZ ticks). */
  private def stealS(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100

  /** Cumulative counters, recorded per pass as deltas: Janino compilations
    * of Spark's generated code and their time (from a sampled histogram, so
    * approximate), time in Catalyst rules (analysis and optimization), CPU
    * of the JIT compiler threads and the machine's steal time. */
  private def engineCounters(): Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    Map("codegen_compiles" -> ct.getCount.toDouble,
      "codegen_compile_s" -> ct.getSnapshot.getValues.sum / 1000.0,
      "jit_cpu_s" -> jitCpuNs() / 1e9, "steal_s" -> stealS(),
      "catalyst_rules_s" ->
        org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time / 1e9)
  }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  /** Peak resident set of this JVM (VmHWM). */
  private def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Per-layer metrics of the fastest traced pass. A layer the workload does
  * not call reports 0. */
object LayerMetrics {
  private val mb = 1024.0 * 1024.0

  def of(overhead: Double, spans: Seq[Span], probeSpans: Seq[Span], layer: Map[String, Double],
      engine: Map[String, Double], setupSpans: Seq[Span], inputRows: Map[String, Double],
      threads: Int): Seq[(String, Double)] = {
    def span(n: String): Option[Span] = (spans ++ probeSpans).find(_.name == n)
    def secs(n: String) = span(n).map(_.seconds).getOrElse(0.0)
    def jobs(n: String) = span(n).map(_.spark.jobs.toDouble).getOrElse(0.0)
    def shuffleMb(n: String) = span(n).map(_.spark.shuffleWriteBytes / mb).getOrElse(0.0)
    def spillMb(n: String) = span(n).map(_.spark.spillBytes / mb).getOrElse(0.0)
    def sourceSecs(n: String) = {
      val ts = setupSpans.filter(_.name == n).map(_.seconds).sorted
      if (ts.isEmpty) 0.0 else ts(ts.length / 2)
    }
    // totals and busy share cover the pass, not the probes
    val total = new SparkCounts
    spans.foreach(s => total.add(s.spark))
    val wall = spans.map(_.seconds).sum
    Seq(
      "sources.web_graph_s" -> sourceSecs("sources.web_graph"),
      "sources.edges" -> inputRows.getOrElse("sources.edges", 0.0),
      "sources.docs_s" -> sourceSecs("sources.docs"),
      "sources.docs" -> inputRows.getOrElse("sources.docs", 0.0),
      "operators.grank_s" -> secs("operators.grank"),
      "operators.grank.superstep_ms" -> layer.getOrElse("operators.grank.superstep_ms", 0.0),
      "operators.grank.jobs" -> jobs("operators.grank"),
      "operators.grank.shuffle_mb" -> shuffleMb("operators.grank"),
      "operators.grank.spill_mb" -> spillMb("operators.grank"),
      "operators.mc_s" -> secs("operators.mc"),
      "operators.mc.jobs" -> jobs("operators.mc"),
      "operators.mc.max_in_flight" -> layer.getOrElse("operators.mc.max_in_flight", 0.0),
      "operators.mc.chunks" -> layer.getOrElse("operators.mc.chunks", 0.0),
      "kernels.topl_s" -> secs("kernels.topl"),
      "kernels.topl.keep_frac" -> layer.getOrElse("kernels.topl.keep_frac", 0.0),
      "functions.ngram_s" -> secs("functions.ngram"),
      "functions.ngram.pairs" -> layer.getOrElse("functions.ngram.pairs", 0.0),
      "functions.ngram.shuffle_mb" -> shuffleMb("functions.ngram"),
      "functions.clusters_s" -> secs("functions.clusters"),
      "functions.clusters.jobs" -> jobs("functions.clusters"),
      "functions.minhash_s" -> secs("functions.minhash"),
      "functions.minhash.pairs" -> layer.getOrElse("functions.minhash.pairs", 0.0),
      "functions.minhash.shuffle_mb" -> shuffleMb("functions.minhash"),
      "spark.jobs" -> total.jobs.toDouble,
      "spark.stages" -> total.stages.toDouble,
      "spark.exchanges" -> total.exchanges.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.failed_tasks" -> total.failedTasks.toDouble,
      "spark.shuffle_write_mb" -> total.shuffleWriteBytes / mb,
      "spark.shuffle_read_mb" -> total.shuffleReadBytes / mb,
      "spark.spill_mb" -> total.spillBytes / mb,
      "spark.executor_run_s" -> total.runMs / 1000.0,
      "spark.executor_cpu_s" -> total.cpuNs / 1e9,
      "spark.gc_s" -> total.gcMs / 1000.0,
      "spark.core_busy_frac" -> (if (wall > 0) total.runMs / 1000.0 / (wall * threads) else 0.0),
      "spark.task_skew" -> total.taskSkew,
      // the pass alone: not the first pass's check, not the probes
      "spark.codegen_compiles" -> engine.getOrElse("codegen_compiles", 0.0),
      "spark.catalyst_rules_s" -> engine.getOrElse("catalyst_rules_s", 0.0),
      "trace.overhead_s" -> overhead)
  }
}
