package graft

import graft.functions.Exprs
import graft.ml.Knn
import graft.operators.TextPipeline
import org.apache.spark.sql.functions._

/** Bit-parity of the round-15 codegen [[graft.functions.MapCosine]] sparse
  * cosine against the interpreted HOF form it replaced
  * ([[TestOracles.mapCosineHof]]): same union fold order, same doubles. */
class MapCosineSpec extends SparkSpec {
  import spark.implicits._

  private def sparseFrame(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n) { i =>
      val keys = (0 until 40).filter(_ => rnd.nextDouble() < 0.3)
      (i.toLong, keys.map(k =>
        k.toLong -> math.floor((rnd.nextDouble() - 0.2) * 1e10) / 1e6).toMap)
    }.toDF("id", "f")
  }

  test("codegen MapCosine is bit-identical to the HOF fold on random sparse maps") {
    val a = sparseFrame(60, seed = 3)
    val pairs = a.as("x").crossJoin(a.as("y"))
    val diffs = pairs.select(
      Exprs.mapCosine(col("x.f"), col("y.f")).as("fast"),
      TestOracles.mapCosineHof(col("x.f"), col("y.f")).as("hof"))
      .filter($"fast" =!= $"hof" ||
        ($"fast".isNull =!= $"hof".isNull))
    assert(diffs.count() == 0L)
  }

  test("MapCosine edge cases: disjoint keys, zero vector, empty map, null map") {
    val df = Seq(
      (Map(1L -> 1.0, 2L -> 2.0), Map(3L -> 4.0)), // disjoint → 0 dot, nonzero denom
      (Map(1L -> 0.0), Map(1L -> 3.0)), // zero vector → guard value 0.0
      (Map.empty[Long, Double], Map(1L -> 1.0)) // empty map → guard value 0.0
    ).toDF("a", "b")
    val both = df.select(Exprs.mapCosine($"a", $"b").as("fast"),
      TestOracles.mapCosineHof($"a", $"b").as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    assert(both(0).getDouble(0) == 0.0 && both(1).getDouble(0) == 0.0)
    val withNull = Seq((Some(Map(1L -> 1.0)), Option.empty[Map[Long, Double]]))
      .toDF("a", "b")
    assert(withNull.select(Exprs.mapCosine($"a", $"b")).collect().head.isNullAt(0))
  }

  test("sparse kNN end-to-end result is unchanged by the codegen swap") {
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
    val sparse = TextPipeline.docVectorMap(tfidf, TextPipeline.vocab(toks))
      .join(docs.select($"doc_id", $"label"), "doc_id")
      .select($"doc_id".as("id"), $"label", $"features")
    val test = sparse.filter($"id" >= 10L)
    val train = sparse.filter($"id" < 10L)
    val got = Knn.neighborsSparse(test, train, k = 3)
      .as[(Long, Long, String, Double, Long)].collect().toSet
    // reference: the identical plan with the HOF kernel inlined
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    val want = test.select(col("id").as("q_id"), col("features").as("q_f"))
      .crossJoin(broadcast(train.select(col("id").as("n_id"),
        col("label").as("n_label"), col("features").as("n_f"))))
      .withColumn("sim", round(TestOracles.mapCosineHof(col("q_f"), col("n_f")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("n_id"), col("n_label"), col("sim"), col("rk"))
      .as[(Long, Long, String, Double, Long)].collect().toSet
    assert(got == want)
  }
}
