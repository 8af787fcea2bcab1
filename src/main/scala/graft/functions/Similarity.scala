package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kernels.{Grid, TopK}

/** Approximate-nearest-neighbor search over embedding columns
  * (Array[Float]): brute-force cosine top-k as the exactness baseline, and
  * an LSH-bucketed variant as the scale path.
  *
  * All vector math is column-level (`zip_with` + `aggregate`) — codegen'd,
  * no UDF. The top-k reuses the engine's per-seed top-L kernel (TopK).
  */
object Similarity {

  /** Dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** Sign-bit signature of `planes` random hyperplanes packed into a LONG:
    * bit p = [v . r_p >= 0]. Vectors at angle theta collide on a bit with
    * probability 1 - theta/pi (classic SRP-LSH). */
  def hyperplaneSignature(vec: Column, planes: Int, seed: Long): Column = {
    require(planes <= 63, "signature is packed into one LONG")
    val bits = transform(sequence(lit(0), lit(planes - 1)), p => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v * planeComponentOf(i, p, seed)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(zip_with(bits, sequence(lit(0), lit(planes - 1)),
      (b, p) => call_function("shiftleft", b, p.cast("int"))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Deterministic pseudo-random hyperplane component for (dimension i,
    * plane p): uniform in [-1, 1) from the seeded SQL-replayable mixer
    * (kernels.Mix — lets the DuckDB oracle recompute the same planes). */
  private[graft] def planeComponentOf(i: Column, p: Column, seed: Long): Column =
    (pmod(graft.kernels.Mix.mix31(i, p, lit(0L), seed * 7919L + 555557L), lit(2000001L)) - 1000000L) / 1000000.0

  /** The same plane component as a driver-side scalar (bit-identical: the
    * mixer is pure integer arithmetic and the final division is the same
    * single IEEE-754 op). Materializing the plane matrix ONCE as literals
    * removes the O(dims*planes) per-row mixer re-evaluation that made the
    * expression-only signature ~2.7x slower (BENCH_r02 q_ann_lsh). */
  private[graft] def planeComponentScala(i: Long, p: Long, seed: Long): Double =
    (graft.kernels.Mix.mix31Scala(i, p, 0L, seed * 7919L + 555557L) % 2000001L - 1000000L) / 1000000.0

  /** [[hyperplaneSignature]] with the plane matrix precomputed as literal
    * arrays (requires the embedding dimensionality). Output is bit-identical
    * to the expression form: same components, same left-fold addition order. */
  def hyperplaneSignatureLit(vec: Column, planes: Int, dims: Int, seed: Long): Column = {
    require(planes <= 63, "signature is packed into one LONG")
    val bits = (0 until planes).map { p =>
      val row = typedLit((0 until dims).map(i => planeComponentScala(i.toLong, p.toLong, seed)))
      val proj = aggregate(zip_with(vec, row, (v, r) => v * r), lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Embedding dimensionality probe (first row; -1 on an empty frame).
    * Fallback only: Spark's ArrayType carries no fixed width, so when the
    * caller doesn't supply `dims` this costs one 1-row job per signature
    * build. Callers that know their embedding width (any real pipeline —
    * the width is part of the model contract) should pass it. */
  private def dimsOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(-1)

  /** Signature column for `df`: literal-plane form when the dimensionality
    * is known (caller-supplied `dims`, or one 1-row probe as fallback),
    * expression form otherwise. */
  private[graft] def signatureFor(df: DataFrame, vecCol: String, planes: Int,
      seed: Long, dims: Int = -1): Column = {
    val d = if (dims > 0) dims else dimsOf(df, vecCol)
    if (d > 0) hyperplaneSignatureLit(col(vecCol), planes, d, seed)
    else hyperplaneSignature(col(vecCol), planes, seed)
  }

  /** Exact brute-force cosine top-k: every query row scored against every
    * corpus row (the correctness baseline; O(|Q|*|C|) — pair it with
    * [[lshTopK]] at scale). Returns (seed = query id, node = corpus id,
    * score = cosine), k rows per query. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("seed"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("node"), col(vecCol).as("cv"))
    val scored = q.crossJoin(c)
      .where(col("seed") =!= col("node"))
      .select(col("seed"), col("node"), cosine(col("qv"), col("cv")).as("score"))
    TopK.pruneTopL(scored, k)
  }

  /** Deterministic seeded initial centroid component for IVF cell c, dim i:
    * uniform in [-1, 1) from the SQL-replayable mixer (distinct salt from
    * the LSH planes). */
  private[graft] def centroidComponentScala(i: Long, c: Long, seed: Long): Double =
    (graft.kernels.Mix.mix31Scala(i, c, 1L, seed * 7919L + 777773L) % 2000001L - 1000000L) / 1000000.0

  /** IVF (inverted-file) coarse quantizer: `nCells` centroids — seeded
    * deterministic init, refined by `lloydIters` Lloyd steps whose per-cell
    * means are summed on a fixed-point grid (round(x*1e6) as exact LONGs,
    * divided back once), so the trained centroids are independent of
    * partitioning/addend order and an external SQL oracle can replay the
    * whole training bit-exactly. Returns (cell INT, centroid ARRAY<DOUBLE>);
    * empty cells keep their previous centroid. Assignment metric is cosine
    * with ties broken by smallest cell id (deterministic). */
  def ivfTrain(corpus: DataFrame, nCells: Int, dims: Int,
      lloydIters: Int = 1, seed: Long = 42L,
      vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    var centroids: Seq[(Int, Seq[Double])] = (0 until nCells).map(c =>
      c -> (0 until dims).map(i => centroidComponentScala(i.toLong, c.toLong, seed)))
    var it = 0
    while (it < lloydIters) {
      val assigned = corpus.select(col(vecCol).as("v"))
        .crossJoin(broadcast(centroidsFrame(spark, centroids)))
        .select(col("v"), cellOf(col("v")).as("cell"))
      // fixed-point per-cell per-dim mean: exact LONG sums, one division
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(Grid.roundLong(col("x") * 1e6)).as("sx"), count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(map_from_arrays(collect_list(col("dim")),
          collect_list(col("sx") / (col("n") * 1e6))).as("m"))
        .collect().map(r => r.getInt(0) ->
          r.getMap[Int, Double](1)).toMap
      centroids = centroids.map { case (c, old) =>
        sums.get(c) match {
          case Some(m) => c -> (0 until dims).map(i => m(i))
          case None    => c -> old // empty cell keeps its centroid
        }
      }
      it += 1
    }
    centroids
  }

  /** The trained centroids as DATA, not expressions: a ONE-ROW frame whose
    * single `cents` column is the full codebook ARRAY<STRUCT<c INT,
    * cent ARRAY<DOUBLE>>> sorted by cell id. Cross-joining it with
    * `broadcast()` attaches the codebook to every row through one
    * BroadcastExchange (a real torrent broadcast, shipped once per
    * executor) with ZERO expression-tree growth — the previous
    * literal-centroid projection embedded O(nCells·dims) typedLit nodes in
    * the plan, which cannot even be CONSTRUCTED at realistic IVF settings
    * (tens of thousands of cells × 512-1024 dims; a when()-chain variant
    * OOMed the driver at just 16×64). The codebook rides the task broadcast
    * exactly like any small dimension table. */
  private[graft] def centroidsFrame(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    centroids.toDF("c", "cent")
      .agg(sort_array(collect_list(struct(col("c"), col("cent")))).as("cents"))
  }

  /** Per-row (−cosine, cell) scores against the joined `cents` codebook —
    * the shared kernel of assignment and probing. One linear `transform`
    * pass per row; struct order (negs asc, cell asc) = cosine desc, ties
    * smallest cell id, matching the pre-join literal formulation and the
    * DuckDB oracle's ORDER BY s DESC, c ASC. */
  private def cellScores(vec: Column): Column =
    transform(col("cents"), e =>
      struct((-cosine(vec, e.getField("cent"))).as("negs"), e.getField("c").as("c")))

  /** Cell assignment column (requires the `cents` codebook column in scope,
    * i.e. after a broadcast cross-join with [[centroidsFrame]]): argmax
    * cosine via a linear array_min — no per-row sort, no shuffle. */
  private[graft] def cellOf(vec: Column): Column =
    array_min(cellScores(vec)).getField("c")

  /** IVF approximate top-k: corpus vectors are bucketed by trained cell;
    * each query probes its `nProbe` best cells and scores exact cosine only
    * within them. The 100-TB shape: the corpus side is a cell-partitioned
    * inverted file built ONCE (re-usable across query batches), the probe
    * join touches |Q| * nProbe cells instead of the whole corpus, and the
    * per-cell candidate lists shuffle on 4-byte cell keys. Recall knob:
    * nProbe (and nCells controls the cell granularity). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 1,
      seed: Long = 42L, idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else corpus.select(size(col(vecCol))).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(d > 0, "ivfTopK needs the embedding dimensionality (empty corpus?)")
    require(nProbe >= 1 && nProbe <= nCells, "1 <= nProbe <= nCells")
    val centroids = ivfTrain(corpus, nCells, d, lloydIters, seed, vecCol)
    val cents = broadcast(centroidsFrame(queries.sparkSession, centroids))
    val inverted = corpus.select(col(idCol).as("node"), col(vecCol).as("cv"))
      .crossJoin(cents)
      .select(col("node"), col("cv"), cellOf(col("cv")).as("cell"))
    // per-query probe list: nProbe best cells by centroid cosine (desc,
    // cell asc) — one sort of the nProbe-truncated per-row score array
    val probes = queries.select(col(idCol).as("seed"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .select(col("seed"), col("qv"),
        explode(slice(array_sort(cellScores(col("qv"))), 1, nProbe)).as("p"))
      .select(col("seed"), col("qv"), col("p.c").as("cell"))
    val scored = probes.join(inverted, Seq("cell"))
      .where(col("seed") =!= col("node"))
      .select(col("seed"), col("node"), cosine(col("qv"), col("cv")).as("score"))
      .dropDuplicates("seed", "node")
    TopK.pruneTopL(scored, k)
  }

  /** Recall@k of an approximate top-k result against the exact one
    * ([[bruteForceTopK]]) — the quality harness of the ANN family, the
    * analog of the reference's Jaccard/Kendall benchmark for its PPR
    * approximations (include/benchmarkAlgorithm.h:52-153): a user tuning
    * `planes` / `nCells` / `nProbe` reads THIS, not the hash-exactness
    * tests. One row: (method, n_seeds, hits, avg_recall, min_recall).
    * All aggregation is exact-integer (per-seed hit counts) with ONE
    * floating division per metric, so an external SQL oracle replays it
    * bit-exactly — no float-sum order dependence. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int, method: String): DataFrame = {
    val hits = exact.select(col("seed"), col("node"))
      .join(approx.select(col("seed"), col("node")), Seq("seed", "node"), "left_semi")
      .groupBy(col("seed")).agg(count(lit(1)).as("h"))
    val perSeed = exact.select(col("seed")).distinct()
      .join(hits, Seq("seed"), "left")
      .select(coalesce(col("h"), lit(0L)).as("h"))
    perSeed
      .agg(count(lit(1)).as("n_seeds"), sum(col("h")).as("hits"),
        min(col("h")).as("min_hits"))
      .select(lit(method).as("method"), col("n_seeds"), col("hits"),
        (col("hits").cast("double") / (col("n_seeds") * lit(k.toLong))).as("avg_recall"),
        (col("min_hits").cast("double") / lit(k)).as("min_recall"))
  }

  /** LSH-bucketed approximate top-k: candidates share at least one of the
    * two half-signatures (multi-probe lite), exact cosine within candidates,
    * per-query top-k (TopK). Recall < 1 by construction; the tradeoff knob
    * is `planes` (fewer planes = bigger buckets = higher recall & cost). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 12, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = -1): DataFrame = {
    def halves(df: DataFrame, side: String) = {
      val sig = signatureFor(df, vecCol, planes, seed, dims)
      df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_v"), sig.as("sig"))
        .select(col(s"${side}_id"), col(s"${side}_v"), posexplode(array(
          col("sig").bitwiseAND(lit((1L << (planes / 2)) - 1)),
          shiftright(col("sig"), planes / 2))))
        .select(col(s"${side}_id"), col(s"${side}_v"), col("pos").as("part"), col("col").as("h"))
    }
    val qh = halves(queries, "q")
    val ch = halves(corpus, "c")
    val cand = qh.join(ch, Seq("part", "h"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("seed"), col("c_id").as("node"),
        col("q_v").as("qv"), col("c_v").as("cv"))
      .dropDuplicates("seed", "node")
    val scored = cand.select(col("seed"), col("node"), cosine(col("qv"), col("cv")).as("score"))
    TopK.pruneTopL(scored, k)
  }
}
