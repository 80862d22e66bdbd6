package graft

import graft.ml.NaiveBayes
import org.apache.spark.sql.{DataFrame, Row}

/** The driver-fitted naive-Bayes model against the lazy model it replaced
  * (`TestOracles.nbTrainLazy`/`nbScoresLazy`): every score and every
  * prediction bit for bit, with the reference's aberrant scoring off and
  * on. */
class NaiveBayesParitySpec extends SparkSpec {
  import spark.implicits._

  private def train(rows: (Long, String, String)*): DataFrame =
    rows.toDF("doc_id", "label", "term")

  private def test(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "term")

  /** (doc_id, label, score bits), sorted: doubles compare by their bits. */
  private def bits(scores: DataFrame): Seq[(Long, String, Long)] =
    scores.select("doc_id", "label", "score").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .sorted

  private def preds(df: DataFrame): Seq[(Long, String)] =
    df.as[(Long, String)].collect().toSeq.sorted

  /** Asserts parity on both scorings and returns the (standard) predictions. */
  private def parity(tr: DataFrame, te: DataFrame): Seq[(Long, String)] = {
    val model = NaiveBayes.train(tr)
    val lazyModel = TestOracles.nbTrainLazy(tr)
    assert(model.vocabSize == lazyModel.vocabSizeDf.head().getLong(0))
    assert(model.termCounts.collect().toSet == lazyModel.termCounts.collect().toSet)
    for (rc <- Seq(false, true)) {
      withClue(s"referenceCompat = $rc: ") {
        assert(bits(NaiveBayes.scores(te, model, rc)) ==
          bits(TestOracles.nbScoresLazy(te, lazyModel, rc)))
        assert(preds(NaiveBayes.predict(te, model, rc)) ==
          preds(TestOracles.nbPredictLazy(te, lazyModel, rc)))
      }
    }
    preds(NaiveBayes.predict(te, model))
  }

  test("null labels, a null-only term, a label without test docs, out-of-vocabulary terms") {
    val tr = train(
      (1L, "a", "x"), (1L, "a", "x"), (1L, "a", "y"),
      (2L, "b", "y"), (2L, "b", "z"), (2L, "b", "z"),
      (3L, "c", "w"),
      // null label: its documents count toward the priors' denominator and
      // "nul" (seen nowhere else) toward the vocabulary size
      (4L, null, "nul"), (4L, null, "x"), (5L, null, "y"))
    val te = test(
      (10L, "x"), (10L, "y"), (10L, "oov"),
      (11L, "z"), (11L, "nul"),
      (12L, "nul"),
      (13L, "oov"), (13L, "oov2"))
    val model = NaiveBayes.train(tr)
    assert(model.vocabSize == 5L)
    assert(model.classes.as[(String, Long, Double, Long)].collect().toSet == Set(
      ("a", 3L, 1.0 / 5.0, 5L), ("b", 3L, 1.0 / 5.0, 5L), ("c", 1L, 1.0 / 5.0, 5L)))
    val p = parity(tr, te)
    // doc 13 has no in-vocabulary term; doc 12 only the null-only term
    assert(p.map(_._1) == Seq(10L, 11L, 12L))
    assert(!p.exists(_._2 == null))
  }

  test("an empty training set predicts nothing") {
    val tr = train((1L, "a", "x")).filter("false")
    val model = NaiveBayes.train(tr)
    assert(model.vocabSize == 0L)
    assert(model.classes.count() == 0L)
    assert(parity(tr, test((10L, "x"), (11L, "y"))).isEmpty)
  }

  test("a seeded corpus: every score bit-identical to the lazy model") {
    val rnd = new scala.util.Random(11)
    val labels = Seq("en", "de", "fr", null)
    val docs = (0L until 240L).flatMap { d =>
      val label = labels(rnd.nextInt(labels.size))
      Seq.fill(5 + rnd.nextInt(40))((d, label, s"t${rnd.nextInt(60)}"))
    }
    val tr = docs.filter(_._1 % 10 != 0).toDF("doc_id", "label", "term")
    val te = docs.filter(_._1 % 10 == 0).map(r => (r._1, r._3))
      .toDF("doc_id", "term")
      .unionByName(Seq((0L, "unseen")).toDF("doc_id", "term"))
    assert(parity(tr, te).size == 24)
  }

  test("the fit is one Spark query and the model's frames are local") {
    val tr = train((1L, "a", "x"), (2L, "b", "y"))
    var model: NaiveBayes.Model = null
    val jobs = PlanProbes.countJobs(spark) { model = NaiveBayes.train(tr) }
    assert(jobs <= 3, s"fit scheduled $jobs jobs")
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    Seq(model.termCounts, model.classes, model.vocab).foreach { df =>
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation])
    }
    assert(model.vocab.collect().toSet == Set(Row("x"), Row("y")))
  }
}
