package graft.kernels

import org.apache.spark.sql.SparkSession

/** Session tuning scoped to iterative driver loops. */
object IterTuning {

  private val BloomKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
  private val AqeKey = "spark.sql.adaptive.enabled"

  private def scoped[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Iterative-loop scope: runtime bloom filters OFF (see
    * [[withoutRuntimeFilters]]) and AQE OFF. AQE re-plans every superstep
    * query and wraps cached/checkpointed plans in AdaptiveSparkPlan whose
    * output partitioning is opaque to the next superstep's planning, so the
    * loop-invariant co-partitioning (state hash(node) / adjacency hash(src),
    * established once) is NOT recognized and both join sides re-exchange
    * every superstep (measured: plans/r07/sup_before vs sup_after). Inside
    * a loop the partition count is deliberately FIXED (the engine derives
    * it from spark.sql.shuffle.partitions — scale-adaptive via conf, guide
    * §2.2) and per-superstep frames are uniform, which is exactly the
    * situation AQE's coalescing cannot improve (BASELINE.md round-1: AQE
    * coalescing measured harmful for supersteps; OPTIMIZATION_r07.md "The
    * AQE-off scope is EVIDENCE-SCOPED" has the per-operator A/B — loops of
    * tiny sub-second rounds, SCC's among them, run faster with AQE
    * coalescing and do not use this scope). Restores the caller's
    * settings afterwards; one-shot queries keep AQE. */
  def forLoop[T](spark: SparkSession)(body: => T): T =
    scoped(spark, BloomKey, "false")(scoped(spark, AqeKey, "false")(body))

  /** Spark 4 injects runtime bloom-filter joins by default
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled=true`). Inside an
    * iterative loop the injected filter is re-built and re-deserialized by
    * the driver on EVERY superstep's re-planning (multi-MB filters, minutes
    * of driver wall at bench scale) with no payoff: the loop's joins are
    * already partition-aligned. Scope it OFF for the duration of one
    * iterative run and restore the caller's setting afterwards. */
  def withoutRuntimeFilters[T](spark: SparkSession)(body: => T): T =
    scoped(spark, BloomKey, "false")(body)
}
