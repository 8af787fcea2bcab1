package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant is candidate-generation (a bucket equi-join
  * that shuffles ONLY on short keys) followed by per-pair verification —
  * never an all-pairs product. Signatures are computed in one projection
  * pass (column expressions over shingle arrays; no UDF except the simhash
  * bit-fold, which runs per-row over an already-bounded token array).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical text.
    *
    * Scale shape: groups on xxhash64(text) so the shuffle key is 8 bytes,
    * never the document payload (grouping by raw text ships every document
    * through the exchange). Correctness is NOT entrusted to the hash: an
    * independent second hash rides along as min/max aggregates, and any
    * bucket where it disagrees (a would-be h1 collision between distinct
    * texts) is re-grouped by full text — that escalation join touches only
    * the collided buckets (none, in practice; both-hash joint collisions
    * are a 128-bit event). */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    exactWithHashes(df, idCol, textCol,
      xxhash64(col(textCol)), xxhash64(col(textCol), lit(0x9E3779B9L)))

  /** [[exact]] with injectable hash columns (lets tests force collisions to
    * exercise the escalation path). */
  private[graft] def exactWithHashes(df: DataFrame, idCol: String, textCol: String,
      h1: org.apache.spark.sql.Column, h2: org.apache.spark.sql.Column): DataFrame = {
    val hashed = df.select(col(idCol).as("id"), h1.as("h1"), h2.as("h2"))
    val grouped = hashed.groupBy("h1")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("copies"),
        min(col("h2")).as("lo2"), max(col("h2")).as("hi2"))
      .persist()
    val clean = grouped.where(col("lo2") === col("hi2")).select(col("keep_id"), col("copies"))
    val collided = grouped.where(col("lo2") =!= col("hi2")).select(col("h1"))
    val fix = df.select(col(idCol).as("id"), col(textCol).as("t"), h1.as("h1"))
      .join(broadcast(collided), Seq("h1"), "left_semi")
      .groupBy(col("t"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("copies"))
      .select(col("keep_id"), col("copies"))
    val res = clean.union(fix).localCheckpoint(true)
    grouped.unpersist()
    res
  }

  /** Near-dup cluster resolution — the step every corpus-dedup pipeline
    * runs AFTER pair generation (CCNet / RefinedWeb style): near-duplicate
    * similarity is not transitive, but dedup treats it as if it were, so
    * pairs become an undirected graph, clusters are its connected
    * components, and each cluster keeps one canonical document (min id).
    * Documents in no pair are their own canonical. Returns
    * (doc_id, canonical).
    *
    * Composition of two existing pieces: any pair generator
    * ([[minHashLsh]], [[ngramJaccard]], [[simHashNearDup]], ...) and
    * operators/Components star-contraction CC — O(log n) rounds, so a
    * pathological duplicate CHAIN (a~b~c~... each link above threshold,
    * ends far apart) resolves without diameter-many supersteps. 100-TB
    * shape: pair count is bounded by the generator's banding/cap machinery;
    * the CC runs on pairs only, vertices join back at the end. */
  def clusters(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    graft.operators.Components.connectedComponents(
        pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")),
        docs.select(col(idCol).cast("long").as("id")))
      .select(col("id").as(idCol), col("comp").as("canonical"))

  /** Word k-shingles (token n-grams) of the text. */
  def tokenShingles(text: Column, k: Int = 3): Column =
    tokenShinglesOf(TextAnalysis.tokens(text), k)

  /** [[tokenShingles]] over an already-tokenized column — hot paths hoist
    * tokenization into its own projection first (see
    * [[tokenShingleHashesOf]] for why: no CSE inside HOF lambdas). */
  def tokenShinglesOf(toks: Column, k: Int = 3): Column =
    when(size(toks) <= k, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))

  /** 8-byte hashes of the word k-shingles WITHOUT materializing the shingle
    * strings (r7): a window hashes its k tokens directly
    * (xxhash64(t_i..t_{i+k-1})), skipping the per-position array_join that
    * dominated the shingling pass. Hash-faithful to [[tokenShingles]]'s
    * string sets: distinct windows ⇔ distinct token tuples ⇔ distinct
    * hashes (64-bit collisions aside). A doc of exactly k tokens is one
    * window and hashes like every other window, so it matches the same
    * window inside a longer doc. Only a doc SHORTER than k (one shingle =
    * all tokens joined) hashes the joined string: it has fewer than k-1
    * spaces while every k-window string has exactly k-1, so that shingle
    * can never equal a window's and the two hash spaces never need to
    * agree. Set sizes, df counts and intersections over these hashes
    * therefore equal the string-set values (ScalaCheck-gated). */
  def tokenShingleHashes(text: Column, k: Int = 3): Column =
    tokenShingleHashesOf(TextAnalysis.tokens(text), k)

  /** [[tokenShingleHashes]] over an ALREADY-TOKENIZED column. Callers on a
    * hot path must hoist tokenization into its own projection
    * (`.withColumn("toks", TextAnalysis.tokens(...))`) and pass
    * `col("toks")`: expressions inside higher-order-function lambdas get
    * no common-subexpression elimination, so a `toks` that is itself the
    * tokenizer regexp would re-run the regexp for EVERY element_at
    * reference (measured ~3x the whole shingling pass); a hoisted
    * attribute is materialized once per row. */
  def tokenShingleHashesOf(toks: Column, k: Int = 3): Column =
    when(size(toks) < k, array(xxhash64(array_join(toks, " "))))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => xxhash64((1 to k).map(j => element_at(toks, i + j)): _*)))

  /** MinHash signature: `perms` permutations simulated as seeded xxhash64;
    * one array column, computed in a single pass over the shingle array. */
  def minhashSignature(shingles: Column, perms: Int = 32): Column =
    transform(sequence(lit(0), lit(perms - 1)),
      p => coalesce(array_min(transform(shingles, s => xxhash64(s, p))), lit(Long.MaxValue)))

  /** MinHash + LSH banding: pairs of documents that share at least one
    * (band, band-hash) bucket, verified by exact shingle-set Jaccard >=
    * `threshold`. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * bands * rowsPerBand must equal the signature length. The bucket join
    * shuffles only (band, hash, id); the verify join touches only candidate
    * pairs. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    // hash each shingle STRING once (8-byte base hash), then derive every
    // permutation by re-hashing the base hash — perms × |sh| hashes over 8
    // bytes instead of over k-token strings (r7; the minhashLshMix shape).
    // Identical output at any threshold where the result is determined by
    // shingle SETS (threshold 1.0 exactly); at lower thresholds only the
    // banding's false-negative pattern shifts, and the exact verify keeps
    // precision unchanged (recall is test-gated).
    val withSig = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("toks", TextAnalysis.tokens(col("t"))) // hoisted: see tokenShingleHashesOf
      .withColumn("hs", tokenShingleHashesOf(col("toks"), shingleK))
      .withColumn("sig", transform(sequence(lit(0), lit(bands * rowsPerBand - 1)),
        p => coalesce(array_min(transform(col("hs"), h => xxhash64(h, p))), lit(Long.MaxValue))))
      .select(col("id"), col("hs"), col("sig"))
      .localCheckpoint(true) // one job; see ngramJaccard
    val banded = withSig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .select(col("id"), col("pos").as("band"), col("col").as("bhash"))
    val cand = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyJaccardHashed(cand,
        withSig.select(col("id"), array_distinct(col("hs")).as("hset")), threshold)
      .localCheckpoint(true)
  }

  /** SQL-replayable polynomial string hash mod 2^31-1 (char-code left fold,
    * h = (h*31 + code) % P): shingles are ASCII by construction (lowercased
    * word tokens joined by spaces), so DuckDB's ascii() sees the exact same
    * codes. Used by [[minhashLshMix]] so the ENTIRE minhash+banding pipeline
    * is oracle-replayable at thresholds < 1 (VERDICT r2 #4). */
  private[graft] def polyHash(s: Column): Column =
    when(length(s) === 0, lit(0L)).otherwise(
      aggregate(transform(sequence(lit(1), length(s)), i => ascii(substring(s, i, lit(1))).cast("long")),
        lit(0L), (a, c) => pmod(a * 31L + c, lit(graft.kernels.Mix.P))))

  private[graft] def permSalt(salt: Long): Long = salt * 7919L + 333331L
  private[graft] def bandSalt(salt: Long): Long = salt * 7919L + 444441L

  /** MinHash + LSH banding with the seeded quadratic mixer in place of
    * xxhash64 — semantically the same candidate-generation + verify shape as
    * [[minhashLsh]], but every draw (shingle hash, permutation, band hash)
    * is a pure mod-2^31-1 function an external SQL oracle replays exactly.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold,
    * restricted to pairs sharing >= 1 (band, band-hash) bucket. */
  def minhashLshMix(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.7, salt: Long = 42L): DataFrame = {
    val perms = bands * rowsPerBand
    val withSig = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("toks", TextAnalysis.tokens(col("t"))) // hoisted: see tokenShingleHashesOf
      .withColumn("sh", array_distinct(tokenShinglesOf(col("toks"), shingleK)))
      .drop("toks")
      // hash each distinct shingle ONCE; permutations then mix the 8-byte
      // hash, not the string (perms * |sh| cheap mixes, one char fold)
      .withColumn("hs", transform(col("sh"), s => polyHash(s)))
      .withColumn("sig", transform(sequence(lit(0), lit(perms - 1)),
        p => coalesce(
          array_min(transform(col("hs"), h => graft.kernels.Mix.mix31(h, p, lit(0L), permSalt(salt)))),
          lit(graft.kernels.Mix.P))))
      .localCheckpoint(true) // one job; see ngramJaccard
    val banded = withSig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => aggregate(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          lit(0L), (a, x) => graft.kernels.Mix.mix31(a, x, b, bandSalt(salt))))))
      .select(col("id"), col("pos").as("band"), col("col").as("bhash"))
    val cand = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, withSig.select(col("id"), col("sh")), threshold)
      .localCheckpoint(true)
  }

  /** Exact shingle-set Jaccard verification of candidate pairs.
    *
    * Intersection/union run over the 8-byte shingle HASHES (r7): the two
    * verify joins ship long arrays instead of k-token string arrays (~4-5x
    * fewer bytes per candidate, guide §2.3) and the set ops hash 8-byte
    * values — |A∩B| and |A∪B| are unchanged because distinct strings map
    * to distinct hashes (64-bit xxhash64; a collision within one pair's
    * ~10^2-shingle universe is a ~1e-15 event), so the jaccard VALUES and
    * the thresholded pair set are identical. */
  private def verifyJaccard(cand: DataFrame, shingled: DataFrame, threshold: Double): DataFrame =
    verifyJaccardHashed(cand,
      shingled.select(col("id"),
        array_distinct(transform(array_distinct(col("sh")), s => xxhash64(s))).as("hset")),
      threshold)

  /** [[verifyJaccard]] over PRE-HASHED distinct shingle sets (id, hset
    * ARRAY<LONG>) — callers that already carry shingle hashes skip the
    * re-hash projection. */
  private[graft] def verifyJaccardHashed(cand: DataFrame, hsets: DataFrame, threshold: Double): DataFrame = {
    // SIZE FILTER (the SSJoin length filter, exact): J(A,B) <= min/max, so
    // a candidate with min(|A|,|B|) < threshold * max(|A|,|B|) can never
    // verify — drop it on a NARROW (id, set-size) join before any
    // shingle-hash array is attached (DedupPhaseBench measured 9.5M
    // candidates whose two ~10^2-element arrays otherwise ride both
    // verify shuffles; guide §2.3 "shuffle keys and metadata instead of
    // payloads"). Kept pairs satisfy min >= t*max, so no qualifying pair
    // is lost; threshold 0 keeps everything.
    val sizes = hsets.select(col("id"), size(col("hset")).as("n"))
    val candS =
      if (threshold <= 0) cand
      else cand
        .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
        .where(least(col("na"), col("nb")).cast("double") >=
          lit(threshold) * greatest(col("na"), col("nb")).cast("double"))
        .select(col("id_a"), col("id_b"))
    // Attach the two hash arrays WITHOUT shipping them through a shuffle
    // when the per-doc fingerprint table fits a broadcast (guide §3.1 /
    // §8: the candidate stream is the big side — millions of 16-byte
    // pairs — and the array payloads should move once, not once per
    // candidate). Guarded by the plan's size estimate against the
    // session's own broadcast threshold (no job runs to decide); above it
    // the shuffle joins take over, and at true corpus scale verification
    // is sharded by the banding/cap machinery anyway.
    val limit = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val est = hsets.queryExecution.optimizedPlan.stats.sizeInBytes
    val a = hsets.select(col("id").as("id_a"), col("hset").as("sha"))
    val b = hsets.select(col("id").as("id_b"), col("hset").as("shb"))
    val (aJ, bJ) = if (limit >= 0 && est <= limit) (broadcast(a), broadcast(b)) else (a, b)
    candS.join(aJ, "id_a").join(bJ, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** All-pairs n-gram Jaccard near-dup via an inverted shingle index
    * (exact, no MinHash approximation): candidate pairs share >= 1 shingle;
    * hot shingles (df > maxShingleFreq) are dropped from candidate
    * generation to bound the join (they still count in verification). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      maxShingleFreq: Int = 1000): DataFrame = {
    // the whole pipeline runs on 8-byte shingle HASHES, never shingle
    // strings (r7, two steps): [[tokenShingleHashes]] skips the per-window
    // array_join string build entirely, and the inverted index / df cap /
    // candidate self-join / exact verify all operate on the hashes —
    // hash-faithful throughout (per-hash df = per-string df, identical
    // candidate pairs and jaccard values, 64-bit collisions aside).
    val shingled = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks")) // hoisted: see tokenShingleHashesOf
      .select(col("id"), array_distinct(tokenShingleHashesOf(col("toks"), shingleK)).as("hset"))
      // materialized by ONE job before the index and verify plans read it.
      // A persisted frame that no action has filled yet would instead be
      // filled under AQE by one cache-stage job per scan of it (index,
      // df cap, size filter, both verify sides)
      .localCheckpoint(true)
    val inv = shingled.select(col("id"), explode(col("hset")).as("s"))
    val rare = inv.groupBy("s").agg(count(lit(1)).as("df_s"))
      .where(col("df_s") <= maxShingleFreq).select("s")
    val invR = inv.join(rare, "s")
    val cand = invR.as("x").join(invR.as("y"),
      col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    verifyJaccardHashed(cand, shingled, threshold).localCheckpoint(true)
  }

  /** 64-bit SimHash over token hashes: per bit, sum +1/-1 across tokens,
    * sign fold. Single per-row pass (bounded token array). */
  val simhash64: Column => Column = {
    val f = udf { (hashes: Seq[Long]) =>
      val acc = new Array[Int](64)
      hashes.foreach { h =>
        var i = 0
        while (i < 64) { acc(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    text => f(transform(TextAnalysis.tokens(text), t => xxhash64(t)))
  }

  /** SimHash near-dup: candidates agree on at least one of four 16-bit
    * chunks (guarantees recall of all pairs with Hamming distance <= 3),
    * verified by exact Hamming distance <= maxHamming. Returns
    * (id_a, id_b, hamming). */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sig")).persist()
    val chunked = sigs.select(col("id"), col("sig"), posexplode(
      transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("sig"), (c * 16).cast("int"))
          .bitwiseAND(lit(0xFFFFL)))))
      .select(col("id"), col("sig"), col("pos").as("chunk"), col("col").as("chash"))
    val cand = chunked.as("x").join(chunked.as("y"),
      col("x.chunk") === col("y.chunk") && col("x.chash") === col("y.chash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
    val res = cand.select(col("id_a"), col("id_b"),
      bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .localCheckpoint(true)
    sigs.unpersist()
    res
  }

  /** Embedding cosine near-dup: LSH-bucketed (random-hyperplane sign bits,
    * seeded) candidate generation + exact cosine verify >= threshold.
    * Returns (id_a, id_b, cosine). */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12, seed: Long = 42L,
      dims: Int = -1): DataFrame = {
    val sigCol = Similarity.signatureFor(df, vecCol, planes, seed, dims)
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("v"), sigCol.as("sig")).persist()
    // multi-probe: bucket on the full signature AND each one-bit flip would
    // explode candidates; two half-signatures give Hamming<=1-per-half recall
    val half = sigs.select(col("id"), col("v"), posexplode(array(
      col("sig").bitwiseAND(lit((1L << (planes / 2)) - 1)),
      shiftright(col("sig"), planes / 2))))
      .select(col("id"), col("v"), col("pos").as("part"), col("col").as("h"))
    val cand = half.as("x").join(half.as("y"),
      col("x.part") === col("y.part") && col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.v").as("va"), col("y.v").as("vb"))
      .distinct()
    val res = cand.select(col("id_a"), col("id_b"), Similarity.cosine(col("va"), col("vb")).as("cosine"))
      .where(col("cosine") >= threshold)
      .localCheckpoint(true)
    sigs.unpersist()
    res
  }
}
