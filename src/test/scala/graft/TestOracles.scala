package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The built-in forms that the engine's rewrites replaced, kept in test scope
  * as parity oracles: each spec compares a rewrite against the exact
  * expression or plan it took the place of. Nothing in the engine calls
  * these. */
object TestOracles {

  /** Interpreted HOF twin of `Exprs.dot` ([[graft.functions.DotProduct]]). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Interpreted HOF twin of `Exprs.sqdist` ([[graft.functions.SqDist]]) —
    * the exact expression the L2 kernels used before the codegen swap. */
  def sqdistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)),
      lit(0.0d), (acc, v) => acc + v)

  /** Interpreted HOF twin of `Exprs.mapCosine` ([[graft.functions.MapCosine]])
    * — the exact expression the sparse kernel used before the codegen swap. */
  def mapCosineHof(a: Column, b: Column): Column = {
    def dotMaps(x: Column, y: Column): Column =
      aggregate(
        map_values(map_zip_with(x, y, (_, u, v) => coalesce(u, lit(0.0d)) * coalesce(v, lit(0.0d)))),
        lit(0.0d), (acc, p) => acc + p)
    def norm(m: Column): Column =
      sqrt(aggregate(map_values(m), lit(0.0d), (acc, v) => acc + v * v))
    val denom = norm(a) * norm(b)
    when(denom === 0.0d, lit(0.0d)).otherwise(dotMaps(a, b) / denom)
  }

  /** The four-expression tokenizer chain `Exprs.tokens` compiled to before
    * the [[graft.functions.Tokens]] kernel. */
  def tokensChain(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +"), t => t =!= "")

  /** `Evaluate.classMetrics` before it derived from the confusion matrix:
    * union-distinct classes, three aggregates, three outer joins. */
  def classMetricsJoin(scored: DataFrame): DataFrame = {
    val classes = scored.select(col("truth").as("label"))
      .unionByName(scored.select(col("pred").as("label"))).distinct()
    val tp = scored.filter(col("truth") === col("pred"))
      .groupBy(col("truth").as("label")).agg(count(lit(1)).as("tp"))
    val truths = scored.groupBy(col("truth").as("label")).agg(count(lit(1)).as("n_truth"))
    val preds = scored.groupBy(col("pred").as("label")).agg(count(lit(1)).as("n_pred"))
    val z = lit(0L)
    classes
      .join(tp, Seq("label"), "left")
      .join(truths, Seq("label"), "left")
      .join(preds, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), z).as("tp"),
        (coalesce(col("n_pred"), z) - coalesce(col("tp"), z)).as("fp"),
        (coalesce(col("n_truth"), z) - coalesce(col("tp"), z)).as("fn"))
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
}
