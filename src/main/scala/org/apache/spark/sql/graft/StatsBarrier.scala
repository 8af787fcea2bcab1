package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

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
  * stats rewrite: the checkpointed `InternalRow` RDD itself is reused —
  * zero copy, no re-encoding, same partitioning data — and the statistics
  * reset to the session default estimate. Loops that compound multiplicatively
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
    * NOTE: the view's LogicalRDD holds df's checkpointed RDD, so
    * `graft.kernels.Materialize.free` on either one frees the blocks both
    * read. NOTE also: unlike Spark 4's localCheckpoint (which preserves
    * hash output partitioning — the engine's ScheduleSpec-gated
    * exchange-reuse contract), the rebuilt
    * LogicalRDD reports UNKNOWN partitioning, so downstream joins on the
    * old key re-shuffle. Use the barrier only in loops whose join keys
    * change round to round anyway (SCC refinement, star contraction) — NOT
    * in the iterative engine's superstep loop, which reuses the state's
    * partitioning. */
  def statsBarrier(df: DataFrame): DataFrame = {
    // the "apply only after a checkpoint cut" usage rule, enforced: a
    // non-materialized frame has no RDD of its rows, and re-wrapping its
    // physical plan would re-run the whole upstream plan on every action
    // (and a nondeterministic source could produce inconsistent reads
    // across those re-runs). A checkpointed frame analyzes to a bare
    // LogicalRDD; anything else is a misuse (ADVICE r5).
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        df.sparkSession.asInstanceOf[ClassicSession].internalCreateDataFrame(l.rdd, df.schema)
      case p => throw new IllegalArgumentException("statsBarrier requires an already-" +
        s"materialized frame (graft.kernels.Materialize.cut(df) first); got plan ${p.nodeName}")
    }
  }
}
