package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic pipeline tables (documents / embeddings) at
  * ARBITRARY scale, from one seeded generator — inputs for the non-graph
  * families beyond the driver's testdata parquet (which stops at sf0.1).
  * Shapes mirror TESTDATA.md:
  *
  *   documents(doc_id, text, source)  — Zipf-ish token stream: rank
  *     r = floor(V^u) (log-uniform, the classic Zipf(1) surrogate), the 14
  *     head ranks rendered as English stopwords so language-ID, stopword
  *     quality ratios and the unigram Zipf head behave like real text;
  *     40-119 tokens per doc.
  *   embeddings(vec_id, embedding float[dims]) — uniform in [-1, 1).
  *
  * xxhash64-seeded (bench inputs, not oracle-checked — the driver-oracled
  * queries keep using the driver's parquet; kernels.Mix stays reserved for
  * draws an external SQL oracle must replay). */
object Synth {

  private def u(c: Column*): Column = // uniform (0,1] from the args
    (pmod(xxhash64(c: _*), lit(1000000L)) + 1) / 1000000.0

  private val headWords = Seq(
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
    "with", "his", "her", "this")

  /** (doc_id, text, source): ~80 Zipf tokens/doc over a `vocab`-word
    * vocabulary, stopword head, `nSources` source labels. */
  def documents(spark: SparkSession, n: Long, vocab: Int = 30000,
      nSources: Int = 5, seed: Long = 42L): DataFrame = {
    val head = array(headWords.map(lit): _*)
    val len = (pmod(xxhash64(col("doc_id"), lit(seed), lit(1)), lit(80L)) + 40).cast("int")
    val word = (i: Column) => {
      // u in (0,1] -> V^u in (1, V] -> floor in [1, V]: rank 1 ("the", the
      // Zipf head) is reachable and nothing escapes the vocabulary
      val rank = floor(pow(lit(vocab.toDouble), u(col("doc_id"), i, lit(seed), lit(2)))).cast("long")
      when(rank <= headWords.size, element_at(head, rank.cast("int")))
        .otherwise(concat(lit("w"), rank))
    }
    spark.range(n).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), len), word)).as("text"),
        concat(lit("src"), pmod(col("doc_id"), lit(nSources.toLong))).as("source"))
  }

  /** (vec_id, embedding float[dims]) uniform in [-1, 1). */
  def embeddings(spark: SparkSession, n: Long, dims: Int = 64,
      seed: Long = 42L): DataFrame =
    spark.range(n).select(col("id").as("vec_id"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => (u(col("vec_id"), d, lit(seed), lit(3)) * 2 - 1).cast("float"))
          .as("embedding"))
}
