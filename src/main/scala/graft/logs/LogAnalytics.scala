package graft.logs

import graft.functions.Exprs._
import graft.ml.Evaluate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType}

/** The PDF1 log-analytics task set over a parsed log DataFrame
  * (LogSource.parsed schema): frequency counts, tumbling-window aggregation,
  * per-URL response times, next-day forecasting scored by RMSE
  * (SURVEY.md §2.4 A10/A13, §2.7 G3).
  *
  * Every query groups on an event-time bucket computed by `date_trunc`, so the
  * identical plan runs under Structured Streaming with a watermark
  * (graft.streaming.StreamingWindows wires that up).
  */
object LogAnalytics {

  /** Task 1: total hits per status code / per IP / per URL (keyCol-generic). */
  def totals(logs: DataFrame, keyCol: String): DataFrame =
    logs.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))

  /** Task 2: hourly tumbling-window counts per key (e.g. status, url, ip). */
  def hourlyCounts(logs: DataFrame, keyCol: String): DataFrame =
    logs.groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** Task 4: per-URL average response time per hour. */
  def hourlyAvgResponse(logs: DataFrame): DataFrame =
    logs.groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"), col("url"))
      .agg(count(lit(1)).as("cnt"), davg(col("response_ms"), 8).as("avg_response_ms"))

  /** Task 5: mean-model forecast — per (url, hour-of-day) average hourly hit
    * count over days < splitDate predicts each later day's cell; scored by
    * RMSE per url (the PDF1 p.3 metric). Returns (url, n_cells, rmse). */
  def forecastRmse(logs: DataFrame, splitDate: String): DataFrame = {
    val cells = logs.groupBy(col("url"), col("ts").cast(DateType).as("d"),
      hour(col("ts")).as("h")).agg(count(lit(1)).as("cnt"))
    val train = cells.filter(col("d") < lit(splitDate).cast(DateType))
    val test = cells.filter(col("d") >= lit(splitDate).cast(DateType))
    val model = train.groupBy(col("url"), col("h"))
      .agg((sum(col("cnt")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("predicted"))
    val joined = test.withColumn("actual", col("cnt").cast(DoubleType))
      .join(model, Seq("url", "h"))
    Evaluate.rmse(joined, Seq("url")).withColumnRenamed("n", "n_cells")
  }
}
