package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.kernels.{Grid, Materialize}

/** Structured-Streaming operators over the `events` table shape
  * (event_id, ts TIMESTAMP, user_id, event_type, value, props).
  *
  * Each transform is written against a plain DataFrame so the SAME code
  * runs in batch (driver/oracle checks) and behind `readStream` (tests run
  * both). Watermarks only bind in streaming mode — on a batch frame
  * `withWatermark` is a no-op, which is exactly Spark's contract.
  */
object EventStream {

  /** Tumbling-window counts + sums per event type, watermarked for state
    * eviction in streaming mode. quantize > 0 switches the value sum to the
    * engine's fixed-point grid sum (round(v*q) summed as exact LONGs,
    * divided back once) — addend-order-free, so the driver's DuckDB oracle
    * compares it value-exactly instead of hoping a double sum lands on the
    * same side of a rounding boundary. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours", quantize: Double = 0.0): DataFrame = {
    val valueSum =
      if (quantize > 0) (sum(Grid.roundLong(col("value") * quantize)) / quantize).as("sum_value")
      else sum(col("value")).as("sum_value")
    events
      .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ -> event time
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), valueSum)
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
  }

  private val sinkSeq = new AtomicInteger(0)

  private def deleteRecursively(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Materialize a memory-sink table and release its backing resources:
    * cut the rows (`Materialize.cut`), then drop the temp view and the staged
    * source directory (they otherwise accumulate disk + driver memory
    * across runs in one JVM — ADVICE r4). */
  private def drainSink(spark: SparkSession, name: String, dir: String,
      filter: DataFrame => DataFrame = identity): DataFrame = {
    val res = Materialize.cut(filter(spark.table(name)))
    spark.catalog.dropTempView(name)
    deleteRecursively(dir)
    res
  }

  /** Execute the streaming [[windowedAgg]] over a finite file source to
    * completion and hand back the result as a batch DataFrame: stage the
    * events parquet into a fresh source directory, run the SAME transform
    * behind `readStream` (complete-mode memory sink, drained with
    * `processAllAvailable`), and return the sink table. This is the
    * driver-oracle entry point for streaming mode — the plan genuinely
    * executes through the streaming engine (file source, StateStore-backed
    * aggregation), and the result shape matches the batch windowedAgg, so
    * the same DuckDB oracle checks both. */
  def windowedAggStreamOnce(spark: SparkSession, eventsParquet: String,
      windowLen: String = "1 hour", watermark: String = "2 hours",
      quantize: Double = 0.0): DataFrame = {
    val schema = spark.read.parquet(eventsParquet).schema
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream").toString
    spark.read.parquet(eventsParquet).write.mode("overwrite").parquet(dir)
    val stream = windowedAgg(spark.readStream.schema(schema).parquet(dir),
      windowLen, watermark, quantize)
    val name = s"graft_win_agg_stream_${sinkSeq.incrementAndGet()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    drainSink(spark, name, dir)
  }

  /** Execute the streaming [[sessionizeStream]] over a finite file source
    * to completion (driver-oracle entry point, like
    * [[windowedAggStreamOnce]]): stage the events parquet, run the
    * flatMapGroupsWithState pipeline behind `readStream` (append-mode
    * memory sink), then FLUSH the open sessions by appending two sentinel
    * batches from a reserved user (-1) far past every real event — the
    * first advances the event-time watermark beyond every open session's
    * timeout, the second triggers the micro-batch in which those timeouts
    * fire (watermarks bind one batch late by contract). The sentinel user
    * is filtered from the result, which then equals batch sessionization
    * on the same data and is checked against the SAME DuckDB oracle. */
  def sessionizeStreamOnce(spark: SparkSession, eventsParquet: String,
      gapMinutes: Int = 30, watermark: String = "2 hours"): DataFrame = {
    val batch = spark.read.parquet(eventsParquet)
    val schema = batch.schema
    val dir = java.nio.file.Files.createTempDirectory("graft-events-sess").toString
    // single staged file: the whole real dataset lands in ONE micro-batch,
    // so no real event can arrive in a later batch behind an advanced
    // watermark and be dropped as late (ADVICE r4). This is the
    // driver-oracle entry point at verification scale, not the production
    // ingest path — there a stream is genuinely unbounded and late events
    // past the watermark are the documented streaming contract.
    batch.coalesce(1).write.mode("overwrite").parquet(dir)
    // sentinel user derived OUTSIDE the observed id range: a fixed -1 would
    // silently drop a real user with that id (ADVICE r4)
    val minRow = batch.agg(min(col("user_id"))).head()
    val sentinel = (if (minRow.isNullAt(0)) 0L else minRow.getLong(0)) - 1L
    val stream = sessionizeStream(spark.readStream.schema(schema).parquet(dir),
      gapMinutes, watermark)
    val name = s"graft_sessionize_stream_${sinkSeq.incrementAndGet()}"
    val q = stream.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // one row both sentinel writes copy: a leaf the first write fills
      val top = Materialize.leaf(batch.orderBy(col("ts").desc).limit(1))
      for (days <- Seq(100, 200)) {
        top.withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))
          .withColumn("user_id", lit(sentinel))
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      Materialize.free(top)
    } finally q.stop()
    drainSink(spark, name, dir, _.where(col("user_id") =!= sentinel))
  }

  /** Streaming exact dedup by event_id within the watermark horizon. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark).dropDuplicates("event_id")

  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Open-session state for the streaming sessionizer. */
  final case class SessionState(start: Long, end: Long, n: Long)

  /** Batch sessionization: a new session starts after a gap > gapMinutes.
    * Window-function formulation (lag + running conditional sum). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val gap = lit(gapMinutes * 60L)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
  }

  // Session bounds are tracked in MICROSECONDS since the epoch — the events
  // table carries microsecond timestamps, and java.sql.Timestamp.getTime
  // alone (millis) would silently truncate session_start/session_end, which
  // the batch path keeps exactly (caught by the driver-oracle compare).
  private def toMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming sessionization via flatMapGroupsWithState (custom per-key
    * state: open session bounds + count; emits a session when the gap is
    * exceeded or the state times out at the watermark). */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    events.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[Timestamp])
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, fromMicros(s.start), fromMicros(s.end), s.n))
          } else {
            val ts = rows.map(r => toMicros(r._2)).toArray.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, fromMicros(s.start), fromMicros(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout API is millisecond-grained: round the micros gap UP
              state.setTimeoutTimestamp((s.end + gapUs) / 1000L + 1L)
            }
            closed.reverseIterator
          }
      }
  }
}
