package graft

import graft.ml.NaiveBayes
import graft.operators.TextPipeline
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scheduled-job budgets for catalog rows on a seeded fixture. Job counts
  * are deterministic for a fixed input and session, so a change that adds
  * Spark jobs (rounds, in the MapReduce cost model) fails here even when its
  * wall-clock cost hides in the bench's noise band. A change that removes
  * jobs lowers the budget. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** A `documents` table (600 docs of 10–100 tokens over 30 mixed-case
    * terms, five languages), an `embeddings` table (300 random 8-dim
    * vectors, four labels) and TPC-H's 25-row `nation` table (the key
    * columns q81 and q121 read), each one parquet file in its own
    * directory. */
  private val dir: String = {
    val rnd = new scala.util.Random(5)
    val langs = Seq("en", "de", "es", "fr", "zh")
    val docs = Seq.tabulate(600) { i =>
      (i.toLong, langs(rnd.nextInt(langs.size)),
        Seq.fill(10 + rnd.nextInt(91))(s"Term${rnd.nextInt(30)}").mkString(" "))
    }
    val vecs = Seq.tabulate(300) { i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f), rnd.nextInt(4))
    }
    val d = java.nio.file.Files.createTempDirectory("job-budget").toString
    docs.toDF("doc_id", "lang", "text").coalesce(1).write.parquet(s"$d/documents.parquet")
    vecs.toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(s"$d/embeddings.parquet")
    Seq(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1).zipWithIndex
      .map { case (r, n) => (n, r) }.toDF("n_nationkey", "n_regionkey")
      .coalesce(1).write.parquet(s"$d/nation.parquet")
    // resolve every schema now: the counts below then do not depend on
    // whether an earlier test read the tables
    Seq("documents", "embeddings", "nation").foreach(Tables(spark, d, _))
    d
  }

  /** Jobs to build and fully materialise one frame (the bench's noop sink). */
  private def jobs(build: => DataFrame): Int = Caching.scoped {
    PlanProbes.countJobs(spark) {
      build.write.format("noop").mode("overwrite").save()
    }
  }

  private def row(name: String): Int = jobs(SparkEntry.queries(name)(spark, dir))

  private def budget(name: String, max: Int): Unit = {
    val n = row(name)
    info(s"$name: $n jobs")
    assert(n <= max, s"$name scheduled $n jobs, budget $max")
  }

  test("q21_tfidf stays within its job budget") { budget("q21_tfidf", 7) }

  test("q29_knn_accuracy stays within its job budget") { budget("q29_knn_accuracy", 6) }

  test("q30_nb_predict stays within its job budget") { budget("q30_nb_predict", 7) }

  test("q37_ann_brute_topk stays within its job budget") { budget("q37_ann_brute_topk", 3) }

  test("q62_ann_topk_agg stays within its job budget") { budget("q62_ann_topk_agg", 3) }

  test("q179_hard_negatives stays within its job budget") { budget("q179_hard_negatives", 5) }

  test("q31_nb_accuracy stays within its job budget") { budget("q31_nb_accuracy", 10) }

  test("q65_nb_confusion stays within its job budget") { budget("q65_nb_confusion", 10) }

  test("q66_nb_class_metrics stays within its job budget, below the join form") {
    // q66 with the class metrics computed by the former union/join form
    val joinForm = jobs {
      val toks = TextPipeline.tokenize(Tables(spark, dir, "documents"),
        keep = Seq("doc_id", "lang")).withColumnRenamed("lang", "label")
      val train = toks.filter(col("doc_id") % 10 =!= 0)
      val test = toks.filter(col("doc_id") % 10 === 0)
      val truth = test.select(col("doc_id"), col("label").as("truth")).distinct()
      TestOracles.classMetricsJoin(
        NaiveBayes.predict(test.drop("label"), NaiveBayes.train(train)).join(truth, "doc_id"))
    }
    val n = row("q66_nb_class_metrics")
    info(s"q66_nb_class_metrics: $n jobs (join form: $joinForm)")
    assert(n < joinForm, s"q66 scheduled $n jobs, the join form $joinForm")
    assert(n <= 11, s"q66_nb_class_metrics scheduled $n jobs, budget 11")
  }

  // The graph rows: each iterative round is at least one job, so a budget
  // here pins the round structure of the operator behind the row. q147,
  // q149 and q171 read one job more in some runs than in others (adaptive
  // execution re-plans as concurrent stages finish in either order): their
  // budgets are the highest count seen.
  for ((name, max) <- Seq(
      "q25_pagerank" -> 33, "q81_pagerank_dangling" -> 88, "q104_triangle_counts" -> 12,
      "q114_kcore" -> 39, "q121_personalized_pagerank" -> 94, "q127_bfs_hops" -> 34,
      "q134_hits" -> 82, "q138_textrank" -> 31, "q147_shortest_paths" -> 35,
      "q149_modularity" -> 50, "q156_clustering_coeff" -> 13,
      "q169_assortativity" -> 9, "q171_ktruss" -> 50))
    test(s"$name stays within its job budget") { budget(name, max) }
}
