package graft.ml

import graft.functions.Exprs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

/** Distributed binary logistic regression by full-batch gradient descent, as
  * pure DataFrame dataflow — the trainable quality/domain classifier a
  * curation pipeline gates documents with (the fastText-classifier role in
  * CCNet/RefinedWeb-style pipelines, expressed over engineered per-doc
  * features instead of an external embedding model).
  *
  * Engine-portable determinism, same toolkit as [[KMeans]] / the q90
  * char-LM: the margin is rounded to 12 dp before `exp` (so both engines
  * exponentiate identical doubles), the sigmoid to 10 dp (the `ln`-rounding
  * precedent — JVM/libm differ in the last ulp), each per-feature gradient
  * term to 12 dp before the exact DECIMAL(30,12) accumulator (partial-
  * aggregation-order independent), and each weight update to 12 dp — every
  * round is bit-identical across engines and partitionings, which is what
  * lets q96/q97 unroll the whole optimization as DuckDB CTEs.
  *
  * Scale: per round, one (d+1)-row broadcast (the weight vector — feature-
  * count-bounded, never corpus-sized) and one n×d posexplode shuffle into d
  * keys with map-side combine — the [[KMeans]] update shape. The single
  * driver action is one `count` before the loop (the gradient's 1/n). Full-
  * batch GD is the deterministic choice: SGD's per-row update order is
  * exactly what a distributed engine cannot (and should not) pin down.
  */
object Logistic {

  /** data: (id, x: array<double> — bias feature included by the caller,
    * y: double 0/1). Returns (pos, weight), pos 0-based over x.
    *
    * Contract: `data` is non-empty and every `x` has the same length (the
    * dimension is read from one row; [[graft.functions.ArrayFold]]
    * min-truncates a ragged vector rather than erroring, so a violation
    * surfaces as a silently misfit model, not an exception). */
  def train(data: DataFrame, lr: Double, iterations: Int): DataFrame = {
    require(iterations >= 0, s"Logistic.train iterations must be >= 0, got $iterations")
    require(!lr.isNaN && !lr.isInfinite, s"Logistic.train lr must be finite, got $lr")
    val spark = data.sparkSession
    // coalesce to cluster width before persist: AQE partition coalescing
    // is DISABLED for cached plans (canChangeCachedPlanOutputPartitioning
    // defaults false), so a feature frame arriving through a
    // spark.sql.shuffle.partitions-wide exchange would otherwise cache at
    // that width — and every GD round then launches that many map tasks
    // over it. At 2048 partitions the 16-round loop spent ~8× the 32-
    // partition wall clock on task scheduling alone (round-10 probe).
    // coalesce (narrow, no shuffle) caps the cached frame at the
    // cluster's core count without losing scan parallelism.
    val e = data.select(col("id"), col("x"), col("y"))
      .coalesce(spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = e.count().toDouble
    // Weights live on the DRIVER as a (d+1)-array — model state, feature-
    // count-bounded, corpus-independent (the spark.ml iteration posture; the
    // q208 bounded-collect discipline). The previous weight-FRAME loop paid
    // per round: a collect_list job to build the broadcast, the n×(d+1)
    // posexplode shuffled into a (d+1)-group hash aggregate, a weights join,
    // and an eager localCheckpoint — ~3 jobs and a full row explosion per
    // round. Now each round is ONE job: the per-row gradient terms ride an
    // array column through the element-wise exact-DECIMAL [[VecDsum]] (bit-
    // equal to posexplode+dsum — its scaladoc walks the ladder), and the
    // d+1-double gradient is the round's only driver transfer. Every number
    // is produced by the same arithmetic as before: p by the identical
    // column expression over a literal weight vector (same doubles as the
    // broadcast-join form), terms by the identical round((p−y)·x[j], 12),
    // sums by the identical decimal ladder, updates by SparkRound(·, 12) —
    // Spark's own Round arithmetic — applied to the same double products.
    val dim = {
      val r = e.select(size(col("x")).as("d")).head(1)
      if (r.isEmpty) 0 else r.head.getInt(0)
    }
    var w = new Array[Double](dim) // zero-init, as the frame seed was
    if (dim > 0) {
      for (_ <- 1 to iterations) {
        val wv = typedLit(w.toSeq)
        val p = round(lit(1.0d) / (lit(1.0d) + exp(-round(dot(col("x"), wv), 12))), 10)
        val sums = graft.OpsExplain.dump("Logistic.train GD round body",
            e.agg(graft.functions.VecDsum(col("x"), p - col("y")).as("s")))
          .head().getSeq[Double](0)
        w = Array.tabulate(dim) { j =>
          graft.functions.SparkRound(w(j) - lr * (sums(j) / n), 12)
        }
      }
    }
    e.unpersist(blocking = false)
    import spark.implicits._
    w.toSeq.zipWithIndex
      .map { case (wt, pos) => (pos.toLong, wt) }
      .toDF("pos", "weight")
  }

  /** Sigmoid scores for `data` (id, x) under trained `weights` (pos, weight):
    * (id, score), score rounded to 10 dp — the same arithmetic as training,
    * so an external engine replays it. Weight frame is broadcast-sized. */
  def score(data: DataFrame, weights: DataFrame): DataFrame = {
    val wArr = weights
      .agg(array_sort(collect_list(struct(col("pos"), col("weight")))).as("es"))
      .select(transform(col("es"), x => x.getField("weight")).as("wv"))
    data.select(col("id"), col("x")).crossJoin(broadcast(wArr))
      .select(col("id"),
        round(lit(1.0d) / (lit(1.0d) + exp(-round(dot(col("x"), col("wv")), 12))), 10)
          .as("score"))
  }
}
