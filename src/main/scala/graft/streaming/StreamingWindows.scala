package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming shape of the windowed aggregations (SURVEY.md §2.7 W1).
  *
  * The batch queries bucket by `date_trunc`; the streaming twin uses the
  * equivalent `window()` tumbling windows plus a watermark so state is bounded
  * and late data past the watermark is dropped. The input can be any streaming
  * DataFrame with an event-time `ts` column (file source, rate source, or
  * MemoryStream in tests).
  */
object StreamingWindows {

  /** Watermarks require TIMESTAMP (with local tz); parquet written by other
    * engines (and the driver's testdata) often carries TIMESTAMP_NTZ. Cast
    * the event-time column up front. The wall-clock value (and thus every
    * window assignment) is preserved ONLY under a fixed-offset session
    * timezone — under a DST zone, nonexistent/ambiguous local times would
    * shift and diverge from the batch NTZ bucketing — so this asserts the
    * session timezone is UTC (which every entry point in this repo pins). */
  private def eventTime(stream: DataFrame, tsCol: String): DataFrame =
    stream.schema(stream.schema.fieldIndex(tsCol)).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        val tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"NTZ event-time cast requires spark.sql.session.timeZone=UTC (fixed offset), got $tz")
        stream.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case _ => stream
    }

  /** Tumbling-window counts per key over an event-time column. */
  def windowedCounts(stream: DataFrame, keyCol: String, windowLen: String,
                     watermark: String = "1 hour"): DataFrame =
    eventTime(stream, "ts").withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("cnt"))

  /** Session-window (inactivity-gap) aggregation — the streaming twin of
    * [[graft.operators.Sessions.sessionize]]. Native `session_window` state
    * merges sessions incrementally and evicts them once the watermark passes
    * their close — bounded state, no per-key scan-back, which is what a
    * continuous 100 TB/day clickstream needs.
    *
    * Semantics note (asserted in StreamingSessionSpec): `session_window`
    * merges an event while `diff <= gap`, the same inclusive test as the
    * batch operator's `diff <= gapSec`, so passing `gap = gapSec` seconds
    * here reproduces the batch split decisions exactly; the emitted window
    * end is `last_event + gap`, so `duration = end - start - gap`. */
  def sessionCounts(stream: DataFrame, keyCol: String, gap: String,
                    watermark: String = "1 hour"): DataFrame =
    eventTime(stream, "ts").withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
}
