package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.{SparkCounters, SparkCounts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One closed span: its name, wall seconds and the Spark counters of the
  * jobs it started. */
final case class Span(name: String, seconds: Double, spark: SparkCounts)

/** Spans around the benchmark's calls into the program's layers. Untraced
  * (`counters = None`) a span is only its body; traced, the span opens a
  * job group so the listener can attribute the span's jobs to it. Spans
  * are flat and kept in memory; a pass reads them after it ends. */
final class Tracer(spark: SparkSession, counters: Option[SparkCounters]) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def traced: Boolean = counters.isDefined

  def span[T](name: String)(body: => T): T = counters match {
    case None => body
    case Some(c) =>
      val sc = spark.sparkContext
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val sec = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        spans += Span(name, sec, c.of(sc, name))
      }
  }
}

object Digest {
  /** Order-independent digest over every column of every row: row count,
    * the exact sum and the xor of a 64-bit hash of each row. Column names
    * are sorted, so column order does not matter either. */
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
}
