package graft.ml

import graft.functions.Exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Metric evaluation (SURVEY.md §2.4 A7 accuracy, A13 RMSE) — each a single
  * aggregation expression instead of the reference's dedicated MR jobs
  * (AccuracyMapper/Combiner/Reducer ×2 pipelines).
  */
object Evaluate {

  /** A7: classification accuracy. Input must carry `truth` and `pred` columns.
    * Exact integer-ratio arithmetic → engine-portable. */
  def accuracy(scored: DataFrame): DataFrame =
    scored.agg(
      count(lit(1)).as("n"),
      sum(when(col("truth") === col("pred"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", col("n_correct").cast(DoubleType) / col("n").cast(DoubleType))

  /** Confusion matrix over (truth, pred): one row per observed class pair.
    * The raw artifact per-class metrics derive from. */
  def confusion(scored: DataFrame): DataFrame =
    scored.groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))

  /** Per-class precision / recall / F1 from (truth, pred) rows — the
    * evaluation surface beyond plain accuracy. Derived from [[confusion]]:
    * one (truth, pred) aggregate, each cell exploded into a truth-side
    * (tp, n_truth) and a pred-side (n_pred) contribution, one
    * class-sized groupBy(label). Classes are the observed truths and
    * predictions (a class never predicted gets precision 0, one never true
    * gets recall 0). A null label contributes no counts, so it keeps the
    * all-zero row it gets under equi-join semantics. Ratios are exact
    * integer divisions, F1 a fixed expression over them → engine-portable. */
  def classMetrics(scored: DataFrame): DataFrame = {
    val n = col("n")
    val z = lit(0L)
    def side(label: String, tp: Column, nTruth: Column, nPred: Column): Column =
      struct(col(label).as("label"), tp.as("tp"), nTruth.as("n_truth"), nPred.as("n_pred"))
    confusion(scored)
      .select(explode(array(
        side("truth", when(col("truth") === col("pred"), n).otherwise(z),
          when(col("truth").isNotNull, n).otherwise(z), z),
        side("pred", z, z, when(col("pred").isNotNull, n).otherwise(z)))).as("c"))
      .groupBy(col("c.label").as("label"))
      .agg(sum(col("c.tp")).as("tp"), sum(col("c.n_truth")).as("n_truth"),
        sum(col("c.n_pred")).as("n_pred"))
      .select(col("label"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, 0.0d)
          .otherwise(col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType)))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, 0.0d)
          .otherwise(col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType)))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0d, 0.0d)
          .otherwise(lit(2.0d) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
  }

  /** A13: RMSE between `actual` and `predicted` columns, grouped by `keys`. */
  def rmse(joined: DataFrame, keys: Seq[String]): DataFrame = {
    val diff = col("predicted") - col("actual")
    val grouped =
      if (keys.isEmpty) joined.agg(count(lit(1)).as("n"), dsum(diff * diff, 10).as("sse"))
      else joined.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"), dsum(diff * diff, 10).as("sse"))
    grouped.withColumn("rmse", sqrt(col("sse") / col("n").cast(DoubleType))).drop("sse")
  }
}
