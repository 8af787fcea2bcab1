package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kernels.Mix

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007), built
  * SQL-replayably: the register table and the estimate are pure functions of
  * the input multiset, so the DuckDB verification oracle reproduces both
  * hash-exactly — unlike `approx_count_distinct`, whose engine-internal HLL++
  * is not replayable outside Spark.
  *
  * The 100-TB shape is the canonical one: rho extraction is a per-row
  * projection (codegen'd — mixer, shift, bin/ltrim bit-length), registers
  * aggregate with MAX — fully map-side combinable, so the shuffle carries at
  * most 2^p rows per map partition regardless of input size, and register
  * tables from disjoint shards MERGE by bucket-wise max (tested), which is
  * how a 1000-executor fleet unions per-shard sketches without re-reading
  * data. No reference analog (the reference has no sketches); added as part
  * of the pipeline family — distinct-url / distinct-vertex cardinality at
  * 10^12 rows is exactly where exact countDistinct's full shuffle stops
  * being an option.
  *
  * Hash layout: mix31 yields h in [0, 2^31-1); bucket = h mod 2^p, and rho =
  * 1 + leading zeros of the remaining (31-p)-bit word w — computed as
  * (31-p) + 1 - bitlen(w) with bitlen via length(ltrim(bin(w), '0')), an
  * idiom both Spark and DuckDB evaluate identically (bin(0) = "0" trims to
  * bit-length 0).
  */
object Sketch {

  /** Register table (bucket INT, rho INT), one row per NON-EMPTY bucket.
    *
    * Choosing p: the estimate's standard error is ±1.04/√m with m = 2^p
    * registers (Flajolet et al. 2007, Thm 1) — p=8 → ±6.5%, p=10 → ±3.25%,
    * p=12 → ±1.6%, p=14 → ±0.8%; memory is m registers (≤ m rows here).
    * Measured sweep vs exact countDistinct: BASELINE.md §HLLSWEEP (the
    * observed error sits inside the bound at every p). */
  def hllRegisters(values: DataFrame, valueCol: String, p: Int = 8,
      salt: Long = 42L): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val m = 1 << p
    val h = Mix.mix31(col(valueCol), lit(0L), lit(1L), salt)
    val w = shiftright(h.cast("long"), p)
    val rho = lit(31 - p + 1) - length(ltrim(bin(w), "0"))
    values.select(pmod(h, lit(m.toLong)).cast("int").as("bucket"),
        rho.cast("int").as("rho"))
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Merge register tables from disjoint shards: bucket-wise max. */
  def mergeRegisters(parts: DataFrame*): DataFrame =
    parts.reduce(_ union _).groupBy(col("bucket")).agg(max(col("rho")).as("rho"))

  /** KEYED register table (keys..., bucket, rho) — one sketch per group
    * (e.g. per time window, per host). Same map-side-combinable max shape;
    * the shuffle carries ≤ 2^p rows per (group, map partition). */
  def hllRegistersBy(values: DataFrame, valueCol: String, keys: Seq[String],
      p: Int = 8, salt: Long = 42L): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val m = 1 << p
    val h = Mix.mix31(col(valueCol), lit(0L), lit(1L), salt)
    val w = shiftright(h.cast("long"), p)
    val rho = lit(31 - p + 1) - length(ltrim(bin(w), "0"))
    values.select(keys.map(col) ++ Seq(pmod(h, lit(m.toLong)).cast("int").as("bucket"),
        rho.cast("int").as("rho")): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Per-group estimate (keys..., est, filled): the windowed/keyed distinct
    * count — what replaces count(DISTINCT) per group at 10^12 rows. */
  def approxDistinctBy(values: DataFrame, valueCol: String, keys: Seq[String],
      p: Int = 8, salt: Long = 42L): DataFrame =
    estimateFrom(hllRegistersBy(values, valueCol, keys, p, salt), p, keys)

  private[graft] def alphaFor(m: Int): Double =
    if (m >= 128) 0.7213 / (1 + 1.079 / m)
    else if (m == 64) 0.709
    else if (m == 32) 0.697
    else 0.673

  /** Estimate (est DOUBLE on a 1e-6 grid, filled BIGINT) per `keys` group
    * of a register table — one global row when `keys` is empty, one row
    * per group otherwise (HyperBall estimates per vertex this way). The
    * harmonic sum is computed as exact integers — sum(2^(32-rho)) plus
    * 2^32 per empty bucket, every term and the total below 2^53 — so it is
    * addend-order-free; the one floating division happens once, and the
    * published small-range correction (linear counting over empty buckets
    * when raw <= 2.5m) branches on those exact values, so an external
    * replay takes the same branch. */
  private[graft] def estimateFrom(registers: DataFrame, p: Int,
      keys: Seq[String]): DataFrame = {
    val m = 1 << p
    val alpha = alphaFor(m)
    val kc = keys.map(col)
    registers
      .groupBy(kc: _*)
      .agg(count(lit(1)).as("filled"),
        sum(expr("CAST(power(2, 32 - rho) AS BIGINT)")).as("sumNon"))
      .select(kc ++ Seq(col("filled"), (lit(m.toLong) - col("filled")).as("zeros"),
        (col("sumNon") + (lit(m.toLong) - col("filled")) * lit(4294967296L)).as("sumint")): _*)
      .select(kc ++ Seq(col("filled"), col("zeros"),
        (lit(alpha) * lit(m.toDouble) * lit(m.toDouble) * lit(4294967296.0) /
          col("sumint")).as("raw")): _*)
      .select(kc ++ Seq(
        (round(when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")) * lit(1e6)) / 1e6).as("est"),
        col("filled")): _*)
  }

  /** One-row global estimate from a register table. */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame =
    estimateFrom(registers, p, Nil)

  /** Convenience: sketch + estimate in one call. */
  def approxDistinct(values: DataFrame, valueCol: String, p: Int = 8,
      salt: Long = 42L): DataFrame =
    hllEstimate(hllRegisters(values, valueCol, p, salt), p)
}
