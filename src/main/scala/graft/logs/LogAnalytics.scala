package graft.logs

import graft.functions.Exprs._
import graft.ml.Evaluate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType}

/** The PDF1 log-analytics task set over any event-time frame with a `ts`
  * column — the `events` table (q12/q14/q16) or parsed logs
  * (LogSource.parsed schema): tumbling-window counts and averages per key,
  * next-day forecasting scored by RMSE (SURVEY.md §2.4 A10/A13, §2.7 G3).
  *
  * Every query groups on an event-time bucket computed by `date_trunc`, so the
  * identical plan runs under Structured Streaming with a watermark
  * (graft.streaming.StreamingWindows wires that up).
  */
object LogAnalytics {

  /** Hourly tumbling-window counts per key: (hour_epoch, key, cnt). */
  def hourlyCounts(logs: DataFrame, keyCol: String): DataFrame =
    logs.groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** Hourly average of `valueCol` per key through the exact DECIMAL(30,8)
    * accumulator: (hour_epoch, key, cnt, avg_<valueCol>). */
  def hourlyAvg(logs: DataFrame, keyCol: String, valueCol: String): DataFrame =
    logs.groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"), col(keyCol))
      .agg(count(lit(1)).as("cnt"), davg(col(valueCol), 8).as(s"avg_$valueCol"))

  /** Mean-model forecast — per (key, hour-of-day) average hourly count over
    * days < splitDate predicts each later day's cell; scored by RMSE per key
    * (the PDF1 p.3 metric). Returns (key, n_cells, rmse). */
  def forecastRmse(logs: DataFrame, keyCol: String, splitDate: String): DataFrame = {
    val cells = logs.groupBy(col(keyCol), col("ts").cast(DateType).as("d"),
      hour(col("ts")).cast(LongType).as("h")).agg(count(lit(1)).as("cnt"))
    val train = cells.filter(col("d") < lit(splitDate).cast(DateType))
    val test = cells.filter(col("d") >= lit(splitDate).cast(DateType))
    val model = train.groupBy(col(keyCol), col("h"))
      .agg((sum(col("cnt")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("predicted"))
    val joined = test.withColumn("actual", col("cnt").cast(DoubleType))
      .join(model, Seq(keyCol, "h"))
    Evaluate.rmse(joined, Seq(keyCol)).withColumnRenamed("n", "n_cells")
  }
}
