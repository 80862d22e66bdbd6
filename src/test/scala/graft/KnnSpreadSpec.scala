package graft

import scala.jdk.CollectionConverters._

import graft.ml.{Evaluate, Knn}
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** kNN's query side is spread over `defaultParallelism` partitions: on a
  * one-partition input the catalog rows over it are unchanged, and the
  * cross-join stage runs on every core. */
class KnnSpreadSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val cores = spark.sparkContext.defaultParallelism

  /** An `embeddings` table of 400 random 8-dim vectors over four labels,
    * one parquet file with one row group: its scan is one partition. */
  private val dir: String = {
    val rnd = new scala.util.Random(17)
    val d = java.nio.file.Files.createTempDirectory("knn-spread").toString
    Seq.tabulate(400)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f), rnd.nextInt(4)))
      .toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  /** The catalog rows' split (`vec_id % 10 = 0` is test). */
  private def split(): (DataFrame, DataFrame) = {
    val e = Tables(spark, dir, "embeddings").select(col("vec_id").as("id"),
      col("label").cast(LongType).as("label"), col("embedding").cast("array<double>").as("vec"))
    (e.filter(col("id") % 10 === 0), e.filter(col("id") % 10 =!= 0))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def row(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("the fixture's query side is one partition") {
    assert(split()._1.rdd.getNumPartitions == 1)
  }

  test("q27, q28 and q29 give the rows of the unspread plan") {
    val (test, train) = split()
    val nbrs = TestOracles.knnNeighbors(test, train, k = 5)
    val pred = TestOracles.knnVote(nbrs)
    assert(rows(row("q27_knn_neighbors")) == rows(nbrs))
    assert(rows(row("q28_knn_predict")) ==
      rows(pred.select(col("q_id").as("vec_id"), col("pred"))))
    assert(rows(row("q29_knn_accuracy")) == rows(Evaluate.accuracy(
      pred.join(test.select(col("id").as("q_id"), col("label").as("truth")), "q_id"))))
  }

  test("the cross-join stage runs defaultParallelism tasks") {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        tasks.add(s.stageInfo.numTasks); ()
      }
    }
    val q27 = row("q27_knn_neighbors")
    spark.sparkContext.addSparkListener(l)
    try PlanProbes.countJobs(spark) { q27.collect(); () }
    finally spark.sparkContext.removeSparkListener(l)
    val joins = collect(q27.queryExecution.executedPlan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size == 1)
    assert(joins.head.left.outputPartitioning.numPartitions == cores)
    assert(tasks.asScala.toSeq.contains(cores), s"stage task counts: $tasks")
  }

  test("sparse neighbors equal the unspread plan on a one-partition input") {
    val rnd = new scala.util.Random(3)
    val d = java.nio.file.Files.createTempDirectory("knn-sparse").toString
    Seq.tabulate(120) { i =>
      (i.toLong, s"l${rnd.nextInt(3)}",
        Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(20).toLong -> (rnd.nextInt(9) + 1) / 4.0).toMap)
    }.toDF("id", "label", "features").coalesce(1).write.parquet(s"$d/sparse.parquet")
    val sparse = spark.read.parquet(s"$d/sparse.parquet")
    val (test, train) = (sparse.filter(col("id") % 6 === 0), sparse.filter(col("id") % 6 =!= 0))
    assert(test.rdd.getNumPartitions == 1)
    assert(rows(Knn.neighborsSparse(test, train, k = 4)) ==
      rows(TestOracles.knnNeighborsSparse(test, train, k = 4)))
  }
}
