package graft

import graft.ml.{Evaluate, Knn, Logistic, NaiveBayes}
import graft.operators.TextPipeline
import org.apache.spark.sql.functions._

/** End-to-end classifier tests on hand-separable fixtures: the SURVEY.md §7
  * first-milestone slice (corpus → vectors → kNN → accuracy 1.0) and an
  * exactly-hand-computed Naive Bayes posterior. */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("kNN on numeric vectors: hand-checked neighbors and vote") {
    val train = Seq(
      (1L, "A", Array(1.0, 0.0)), (2L, "A", Array(0.9, 0.1)),
      (3L, "B", Array(0.0, 1.0)), (4L, "B", Array(0.1, 0.9))
    ).toDF("id", "label", "vec")
    val test = Seq((10L, "A", Array(1.0, 0.05)), (11L, "B", Array(0.05, 1.0)))
      .toDF("id", "label", "vec")
    val pred = Knn.classify(test, train, k = 3)
      .as[(Long, String)].collect().toMap
    assert(pred == Map(10L -> "A", 11L -> "B"))
    val acc = Evaluate.accuracy(
      Knn.classify(test, train, k = 3)
        .join(test.select($"id".as("q_id"), $"label".as("truth")), "q_id"))
      .select($"accuracy").as[Double].head()
    assert(acc == 1.0)
  }

  test("kNN LSH scale path agrees with the exact broadcast path") {
    // two well-separated clusters, deterministic jitter: multi-probe sign-LSH
    // (Hamming-1 query probing) recovers the exact kNN vote on every query.
    // Everything downstream is deterministic (md5 planes, fixed fixture), so
    // this is a stable golden, not a statistical assertion.
    def v(axis: Int, i: Int): Array[Double] =
      Array.tabulate(8)(d => (if (d == axis) 1.0 else 0.0) + 0.01 * ((i * 7 + d * 3) % 5))
    val train = ((1 to 12).map(i => (i.toLong, "A", v(0, i))) ++
      (13 to 24).map(i => (i.toLong, "B", v(4, i)))).toDF("id", "label", "vec")
    val test = Seq((101L, "A", v(0, 99)), (102L, "B", v(4, 98)),
      (103L, "A", v(0, 97)), (104L, "B", v(4, 96))).toDF("id", "label", "vec")
    val exact = Knn.classify(test, train, k = 5).as[(Long, String)].collect().toMap
    val lsh = Knn.classifyLsh(test, train, k = 5, planes = 3, reps = 4)
      .as[(Long, String)].collect().toMap
    graft.Caching.release()
    assert(exact == Map(101L -> "A", 102L -> "B", 103L -> "A", 104L -> "B"))
    assert(lsh == exact)
  }

  test("kNN end-to-end over the text pipeline (mini corpus, accuracy 1.0)") {
    val docs = Seq(
      (1L, "space", "rocket orbit launch star rocket"),
      (2L, "space", "orbit star rocket nebula"),
      (3L, "autos", "engine car wheel road engine"),
      (4L, "autos", "car road wheel gear"),
      (10L, "space", "rocket star orbit"),
      (11L, "autos", "engine wheel car")
    ).toDF("doc_id", "label", "text")
    val toks = TextPipeline.tokenize(docs)
    val tfidf = TextPipeline.tfidf(
      TextPipeline.tf(TextPipeline.termCounts(toks)), TextPipeline.idf(toks))
    val vocab = TextPipeline.vocab(toks)
    val vSize = vocab.count().toInt
    // densify the sparse map to an array vector for the cosine kernel
    val dense = TextPipeline.docVectorMap(tfidf, vocab)
      .withColumn("vec", transform(sequence(lit(1L), lit(vSize.toLong)),
        i => coalesce(element_at(col("features"), i), lit(0.0))))
      .join(docs.select($"doc_id", $"label"), "doc_id")
      .select($"doc_id".as("id"), $"label", $"vec")
    val test = dense.filter($"id" >= 10L)
    val train = dense.filter($"id" < 10L)
    val scored = Knn.classify(test, train, k = 3)
      .join(test.select($"id".as("q_id"), $"label".as("truth")), "q_id")
    assert(Evaluate.accuracy(scored).select($"accuracy").as[Double].head() == 1.0)
  }

  test("NB matches a hand-computed posterior argmax") {
    // train: c1 = "a a b", c2 = "b b c"; test doc "a b"
    // score(c1) = ln(.5) + ln(3/6) + ln(2/6) = ln(.5) + ln(1/6)·…  → c1 wins
    val train = Seq(
      (1L, "c1", "a"), (1L, "c1", "a"), (1L, "c1", "b"),
      (2L, "c2", "b"), (2L, "c2", "b"), (2L, "c2", "c")
    ).toDF("doc_id", "label", "term")
    val test = Seq((10L, "a"), (10L, "b")).toDF("doc_id", "term")
    val model = NaiveBayes.train(train)
    assert(model.vocabSize == 3L)
    val pred = NaiveBayes.predict(test, model).as[(Long, String)].collect().toMap
    assert(pred == Map(10L -> "c1"))
  }

  test("NB reference-compat scoring (abs of log-product, argmin) still separates") {
    val train = Seq(
      (1L, "c1", "a"), (1L, "c1", "a"), (1L, "c1", "b"),
      (2L, "c2", "b"), (2L, "c2", "b"), (2L, "c2", "c")
    ).toDF("doc_id", "label", "term")
    val test = Seq((10L, "a"), (10L, "a"), (10L, "b")).toDF("doc_id", "term")
    val model = NaiveBayes.train(train)
    val pred = NaiveBayes.predict(test, model, referenceCompat = true)
      .as[(Long, String)].collect().toMap
    assert(pred.contains(10L))
  }

  test("class metrics golden: hand-computed P/R/F1 incl. a never-predicted class") {
    // truths: a×3, b×2, c×1; preds: a→a,a,b ; b→a,b ; c→a
    // a: tp=2 fp=2 fn=1 → P=0.5  R=2/3  F1=4/7
    // b: tp=1 fp=1 fn=1 → P=0.5  R=0.5  F1=0.5
    // c: tp=0 fp=0 fn=1 → P=0 (never predicted) R=0 F1=0
    val scored = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"),
      ("b", "a"), ("b", "b"),
      ("c", "a")
    ).toDF("truth", "pred")
    val m = graft.ml.Evaluate.classMetrics(scored)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(m("a") == (("a", 2L, 2L, 1L, 0.5, 2.0 / 3.0, 2.0 * 0.5 * (2.0 / 3.0) / (0.5 + 2.0 / 3.0))))
    assert(m("b") == (("b", 1L, 1L, 1L, 0.5, 0.5, 0.5)))
    assert(m("c") == (("c", 0L, 0L, 1L, 0.0, 0.0, 0.0)))
    val conf = graft.ml.Evaluate.confusion(scored)
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(conf == Map(("a", "a") -> 2L, ("a", "b") -> 1L, ("b", "a") -> 1L,
      ("b", "b") -> 1L, ("c", "a") -> 1L))
    // null truths and preds: the direct form equals the former
    // union/three-aggregate/three-join form, whose equi-joins leave the null
    // label an all-zero row
    val withNulls = scored.unionByName(Seq[(String, String)](
      (null, "a"), ("b", null), (null, null), (null, "d"), ("e", null)).toDF("truth", "pred"))
    val got = graft.ml.Evaluate.classMetrics(withNulls).collect().toSet
    assert(got == TestOracles.classMetricsJoin(withNulls).collect().toSet)
    assert(got.map(_.getString(0)) == Set("a", "b", "c", "d", "e", null))
    assert(got.find(_.isNullAt(0)).get.toSeq.tail == Seq(0L, 0L, 0L, 0.0, 0.0, 0.0))
    assert(got.find(_.getString(0) == "a").get.getLong(2) == 3L) // (null, a) is a false positive
  }

  test("out-of-vocabulary test terms are dropped (J2 inner-join semantics)") {
    val train = Seq((1L, "c1", "a"), (2L, "c2", "b")).toDF("doc_id", "label", "term")
    val test = Seq((10L, "zzz")).toDF("doc_id", "term")
    val model = NaiveBayes.train(train)
    assert(NaiveBayes.predict(test, model).count() == 0L)
  }

  test("logistic regression separates a linearly separable fixture") {
    // x = [bias, f] with f = 0 for class 0, f = 1 for class 1: GD must push
    // the f-weight positive and the class scores to the right side of 0.5
    val data = Seq(
      (1L, Seq(1.0, 0.0), 0.0), (2L, Seq(1.0, 0.1), 0.0), (3L, Seq(1.0, 0.05), 0.0),
      (4L, Seq(1.0, 1.0), 1.0), (5L, Seq(1.0, 0.9), 1.0), (6L, Seq(1.0, 0.95), 1.0)
    ).toDF("id", "x", "y")
    val trained = Logistic.train(data, lr = 2.0, iterations = 50)
    val w = trained.as[(Long, Double)].collect().toMap
    assert(w(1L) > 0.0) // feature weight learned positive
    val scores = Logistic.score(data, trained).as[(Long, Double)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(scores(_) < 0.5))
    assert(Seq(4L, 5L, 6L).forall(scores(_) > 0.5))
    // zero-weight start: first-round sigmoid is exactly 0.5, so one round
    // with lr=0 stays at the origin (the deterministic seed)
    val w0 = Logistic.train(data, lr = 0.0, iterations = 1)
      .as[(Long, Double)].collect().toMap
    assert(w0 == Map(0L -> 0.0, 1L -> 0.0))
  }
}
