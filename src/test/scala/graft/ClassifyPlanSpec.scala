package graft

import graft.ml.Evaluate
import graft.operators.TextPipeline
import graft.sources.Tables
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** The classify pipeline's TF-IDF and naive-Bayes rows against the forms
  * they replaced, on a fixture with the cases the shipped tables lack:
  * duplicated `doc_id`s (same and different `lang`, in both splits),
  * token-less documents (empty, punctuation-only, null) and a test document
  * with only out-of-vocabulary terms. Every double is compared by its bits.
  * Also pins the plan shapes, the final adaptive plans where a run shares
  * an exchange: scans, `truth` sides, broadcasts and their sizes. */
class ClassifyPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val dir: String = {
    val rnd = new scala.util.Random(23)
    val langs = Seq("en", "de", "es", "fr")
    val seeded = Seq.tabulate(240) { i =>
      val id = 100L + i
      (id, langs(rnd.nextInt(langs.size)),
        Seq.fill(3 + rnd.nextInt(25))(s"W${rnd.nextInt(40)}").mkString(" ", ", ", "."))
    }
    val special = Seq[(Long, String, String)](
      (10L, "en", "alpha beta"), (10L, "en", "Beta gamma"), // test, same lang twice
      (20L, "en", "alpha alpha"), (20L, "de", "delta w3"), // test, two langs
      (21L, "fr", "alpha w1"), (21L, "de", "beta beta"), // train, two langs
      (30L, "en", ""), (31L, "de", "!!! ???"), (40L, "es", null), // no tokens
      (50L, "en", "zzqx qqzy zzqx"), // test, out-of-vocabulary only
      (11L, "en", "alpha beta gamma delta"), (12L, "de", "delta w3 w4"))
    val d = java.nio.file.Files.createTempDirectory("classify-plan").toString
    (special ++ seeded).toDF("doc_id", "lang", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def row(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  /** Rows as sorted strings, each double replaced by its raw bits. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      r.toSeq.map {
        case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
        case v => String.valueOf(v)
      }.mkString("|")
    }.sorted

  private def docs = Tables(spark, dir, "documents")

  test("q21, q69 and q22 equal the broadcast-join TF-IDF bit for bit") {
    val toks = TextPipeline.tokenize(docs)
    val oracle = TestOracles.tfidfJoin(toks)
    val q21 = bits(row("q21_tfidf"))
    assert(q21 == bits(oracle))
    assert(bits(row("q69_tfidf_log")) == bits(TestOracles.tfidfJoin(toks, ref = false)))
    assert(bits(row("q22_doc_vectors")) ==
      bits(TextPipeline.docVectors(oracle, TextPipeline.vocab(toks))))
    // the duplicated doc 10 is one document; docs 30, 31 and 40 none
    val ids = oracle.select("doc_id").distinct().as[Long].collect().toSet
    assert(ids.contains(10L) && ids.contains(20L) && !ids.exists(Set(30L, 31L, 40L)))
    assert(q21.size == oracle.count())
  }

  test("the naive-Bayes rows equal the lazy model over the token-stream truth join") {
    val (train, test, truth) = TestOracles.nbPartsJoin(docs)
    val lazyModel = TestOracles.nbTrainLazy(train)
    val pred = TestOracles.nbPredictLazy(test, lazyModel, referenceCompat = false)
    val scored = pred.join(truth, "doc_id")
    assert(bits(row("q30_nb_predict")) == bits(pred))
    assert(bits(row("q68_nb_reference_compat")) ==
      bits(TestOracles.nbPredictLazy(test, lazyModel, referenceCompat = true)))
    assert(bits(row("q31_nb_accuracy")) == bits(Evaluate.accuracy(scored)))
    assert(bits(row("q65_nb_confusion")) == bits(Evaluate.confusion(scored)))
    assert(bits(row("q66_nb_class_metrics")) == bits(TestOracles.classMetricsViaConfusion(scored)))
    // the fixture reaches every case: doc 20 joins two truths, doc 10 one;
    // the token-less docs have no truth, doc 50 no prediction
    val perDoc = scored.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(perDoc(20L) == 2L && perDoc(10L) == 1L)
    assert(!perDoc.keySet.exists(Set(30L, 40L, 50L)))
    assert(truth.filter("doc_id = 50").count() == 1L)
  }

  test("q21's final plan scans documents once, the other branch a reused exchange") {
    val plan = PlanProbes.finalPlan(row("q21_tfidf"))
    val readsDocs: SparkPlan => Boolean = {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == "documents.parquet")
      case _ => false
    }
    val scans = collectWithSubqueries(plan) { case s if readsDocs(s) => s }
    assert(scans.size == 1, s"${scans.size} documents scans in\n$plan")
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec if r.child.exists(readsDocs) => r }
    assert(reused.size == 1, s"${reused.size} reused documents exchanges in\n$plan")
  }

  test("the naive-Bayes rows' final plans hold no broadcast") {
    for (q <- Seq("q30_nb_predict", "q31_nb_accuracy", "q65_nb_confusion", "q66_nb_class_metrics")) {
      val plan = PlanProbes.finalPlan(row(q))
      val bs = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
      assert(bs.isEmpty, s"$q: ${bs.size} broadcasts in\n$plan")
    }
  }

  test("class metrics equal the confusion-derived form bit for bit") {
    // a null truth, a null pred, c never predicted, d never true, a
    // duplicated row, and a row null on both sides
    val scored = Seq[(Long, String, String)](
      (1L, "a", "a"), (1L, "a", "a"), (2L, "a", "b"), (3L, "b", "b"), (4L, "b", "a"),
      (5L, "c", "a"), (6L, "c", "b"), (7L, "a", "d"), (8L, null, "a"), (9L, "b", null),
      (10L, null, null)).toDF("doc_id", "truth", "pred")
    val got = bits(Evaluate.classMetrics(scored))
    assert(got == bits(TestOracles.classMetricsViaConfusion(scored)))
    assert(got.size == 5) // a, b, c, d and the null label
  }

  test("no truth side of the naive-Bayes rows explodes tokens") {
    for (q <- Seq("q31_nb_accuracy", "q65_nb_confusion", "q66_nb_class_metrics",
        "q192_accuracy_ci", "q193_worst_group")) {
      val sides = row(q).queryExecution.optimizedPlan.collect {
        case j: Join => Seq(j.left, j.right).filter(_.output.exists(_.name == "truth"))
      }.flatten
      assert(sides.nonEmpty, s"$q: no join with a truth side")
      sides.foreach(s => assert(s.collect { case g: Generate => g }.isEmpty, s"$q: $s"))
    }
  }

  test("no broadcast of the classify rows reaches a memory page") {
    val page = SparkEnv.get.memoryManager.pageSizeBytes
    for (q <- Seq("q21_tfidf", "q30_nb_predict", "q31_nb_accuracy", "q65_nb_confusion",
        "q66_nb_class_metrics", "q68_nb_reference_compat")) {
      val bs = Caching.scoped(PlanProbes.broadcasts(row(q)))
      assert(bs.forall(_.dataSize < page), s"$q: $bs against a $page-byte page")
      assert(!bs.exists(_.nonIntegralHash), s"$q: $bs")
    }
  }
}
