package graft

import graft.functions.Tokens
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}

/** Deterministic plan and scheduler counts that specs pin where wall-clock
  * medians are band-noisy. */
object PlanProbes {

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
