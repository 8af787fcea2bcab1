package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Spark-internal escape hatch for an iterative-plan pathology.
  *
  * Spark 4's `Dataset.localCheckpoint` carries the ORIGINAL plan's
  * statistics onto the replacement `LogicalRDD`
  * (`LogicalRDD.rewriteStatsAndConstraints`, sql/execution/ExistingRDD
  * .scala). `SizeInBytesOnlyStatsPlanVisitor.visitJoin` estimates a join as
  * the PRODUCT of its children's `sizeInBytes`, so in an iterative operator
  * whose next state is built from TWO frames descending from the previous
  * state (e.g. SCC refinement: cand = fwd ⋈ bwd, restricted edges =
  * e ⋈ active ⋈ active), the carried BigInt's bit-length roughly DOUBLES
  * per cut. After a few dozen cuts the stats visitor is multiplying
  * million-bit BigIntegers and each localCheckpoint costs the driver tens
  * of seconds in `BigInteger.multiplyToomCook3` (measured on a 30k-edge
  * graph: superstep materialization 0.4 s → 76 s while the DATA shrank;
  * jstack shows the main thread inside the stats visitor reached from
  * `rewriteStatsAndConstraints`).
  *
  * [[statsBarrier]] rebuilds a frame as a fresh `LogicalRDD` WITHOUT the
  * stats rewrite: the physical `InternalRow` RDD is reused as-is — zero
  * copy, no re-encoding, same partitioning data — and the statistics reset
  * to the session default estimate. Loops that compound multiplicatively
  * call it right after each lineage cut; the default (conservative, huge)
  * estimate merely disables broadcast choices inside the loop, which these
  * tiny-state loops never want anyway.
  *
  * Lives under `org.apache.spark.sql` to reach the `private[sql]`
  * `internalCreateDataFrame` — the documented pattern for Catalyst-level
  * extensions that the public API cannot express.
  */
object StatsBarrier {

  /** `df` re-wrapped as a stats-fresh LogicalRDD over the same rows.
    * NOTE: the result reads the same underlying blocks as `df` — freeing
    * df's checkpoint blocks invalidates both. NOTE also: unlike Spark 4's
    * localCheckpoint (which preserves hash output partitioning — the
    * engine's ScheduleSpec-gated exchange-reuse contract), the rebuilt
    * LogicalRDD reports UNKNOWN partitioning, so downstream joins on the
    * old key re-shuffle. Use the barrier only in loops whose join keys
    * change round to round anyway (SCC refinement, star contraction) — NOT
    * in the iterative engine's superstep loop, which reuses the state's
    * partitioning. */
  def statsBarrier(df: DataFrame): DataFrame = {
    // the "apply only after localCheckpoint" usage rule, enforced: on a
    // non-materialized frame, toRdd would hand back the UNexecuted physical
    // RDD — every action on the rebuilt LogicalRDD would re-run the whole
    // upstream plan (and a nondeterministic source could produce
    // inconsistent reads across those re-runs). A checkpointed frame
    // analyzes to a bare LogicalRDD; anything else is a misuse (ADVICE r5).
    require(df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "statsBarrier requires an already-materialized frame " +
        s"(df.localCheckpoint(true) first); got plan ${df.queryExecution.analyzed.nodeName}")
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
  }
}
