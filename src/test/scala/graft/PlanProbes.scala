package graft

import graft.functions.Tokens
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.physical.BroadcastMode
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Deterministic plan and scheduler counts that specs pin where wall-clock
  * medians are band-noisy. */
object PlanProbes extends AdaptiveSparkPlanHelper {

  /** One `BroadcastExchangeExec`: its mode, the key types of a hashed mode
    * (empty for any other), and its `dataSize` metric (0 until it ran). */
  case class Broadcast(mode: BroadcastMode, keyTypes: Seq[DataType], dataSize: Long) {
    /** A hashed relation on a key that is not one packed integral long: an
      * `UnsafeHashedRelation`, whose first `BytesToBytesMap` page is a whole
      * memory page however few rows it holds. */
    def nonIntegralHash: Boolean = mode.isInstanceOf[HashedRelationBroadcastMode] &&
      !keyTypes.forall(Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains)
  }

  /** Every broadcast in `plan`, adaptive query stages and subqueries
    * included. On an unexecuted adaptive plan these are the initial plan's. */
  def broadcastsIn(plan: SparkPlan): Seq[Broadcast] =
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec =>
      val keys = b.mode match {
        case h: HashedRelationBroadcastMode => h.key.map(_.dataType)
        case _ => Nil
      }
      Broadcast(b.mode, keys, b.metrics("dataSize").value)
    }

  /** Runs `df` to the end (no rows reach the driver) and returns each
    * broadcast of its executed plan. */
  def broadcasts(df: DataFrame): Seq[Broadcast] = {
    df.queryExecution.toRdd.foreach(_ => ())
    broadcastsIn(df.queryExecution.executedPlan)
  }

  /** Spark jobs scheduled while `body` runs. Listener delivery is async, so
    * the count is read once it stops moving. */
  def countJobs(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(200) }
    } finally spark.sparkContext.removeSparkListener(counter)
    jobs.get()
  }

  /** Tokenizations in an expression tree: the [[Tokens]] kernel, or a
    * `regexp_replace` (the signature of every built-in tokenizer spelling). */
  def tokenizations(e: Expression): Int =
    e.collect { case t @ (_: Tokens | _: RegExpReplace) => t }.size
}
