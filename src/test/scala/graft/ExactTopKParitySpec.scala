package graft

import graft.ml.TopK
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The exact top-k operator ([[TopK.topK]]) against the rank-window forms it
  * replaced ([[TestOracles.topKWindow]]), bit for bit: every score kind,
  * every replicated side, the hard-negative label filter, tied scores, k
  * past the corpus size, an empty corpus, and LONG and STRING label columns
  * carried through the heap. */
class ExactTopKParitySpec extends SparkSpec {
  import spark.implicits._

  /** 40 vectors on a small integer grid: many pairs tie on the rounded
    * cosine and on the squared distance. Labels as LONG and as STRING. */
  private val dense: DataFrame = {
    val rnd = new scala.util.Random(23)
    Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(3)((rnd.nextInt(5) - 2).toDouble), (i % 3).toLong, s"c${i % 4}")
    }.toDF("id", "vec", "label", "tag")
  }

  /** 40 sparse vectors of small integer weights over 6 indices. */
  private val sparse: DataFrame = {
    val rnd = new scala.util.Random(29)
    Seq.tabulate(40) { i =>
      val weights = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(6).toLong -> (1 + rnd.nextInt(2)).toDouble)
      (i.toLong, weights.toMap, (i % 3).toLong, s"c${i % 4}")
    }.toDF("id", "vec", "label", "tag")
  }

  /** Rows as sorted strings with every double spelled by its bits, plus the
    * column names: equal means equal bit for bit. */
  private def bits(df: DataFrame): (Seq[String], Seq[String]) = {
    def cell(v: Any): String = v match {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case other => String.valueOf(other)
    }
    (df.columns.toSeq, df.collect().map((r: Row) => r.toSeq.map(cell).mkString("|")).toSeq.sorted)
  }

  private def sides(df: DataFrame, carry: String*): (DataFrame, DataFrame) = {
    def side(p: String) = df.select((col("id").as(s"${p}_id") +:
      carry.map(c => col(c).as(s"${p}_$c")) :+ col("vec").as(s"${p}_vec")): _*)
    (side("q").filter(col("q_id") % 4 === 0), side("n"))
  }

  test("every score kind and replicated side equals the rank window, bit for bit") {
    for {
      (score, input) <- Seq(TopK.Cosine -> dense, TopK.L2 -> dense, TopK.SparseCosine -> sparse)
      k <- Seq(1, 4, 50)
      replicate <- Seq(TopK.Corpus, TopK.Queries, TopK.Neither)
    } {
      val (q, n) = sides(input, "label", "tag")
      val filter = col("q_id") =!= col("n_id")
      val clue = s"$score k=$k $replicate"
      val want = bits(TestOracles.topKWindow(q, n, k, score, filter))
      assert(want._2.nonEmpty, clue)
      assert(bits(TopK.topK(q, n, k, score, filter, replicate)) == want, clue)
    }
  }

  test("ties break on the smaller id, and k past the corpus keeps every pair") {
    // five copies of one vector: every pair ties, so rank is id order
    val same = Seq.tabulate(5)(i => (i.toLong, Seq(1.0, 2.0), 0L, "a")).toDF("id", "vec", "label", "tag")
    val (q, n) = sides(same, "tag")
    val top = TopK.topK(q, n, 10, TopK.Cosine, col("q_id") =!= col("n_id"))
      .filter(col("q_id") === 0L).orderBy(col("rk"))
    assert(top.select(col("n_id"), col("rk")).as[(Long, Long)].collect().toSeq ==
      Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    assert(bits(TopK.topK(q, n, 10, TopK.L2)) == bits(TestOracles.topKWindow(q, n, 10, TopK.L2)))
  }

  test("an empty corpus gives no rows and the operator's columns") {
    val (q, n) = sides(dense, "label", "tag")
    for (score <- Seq(TopK.Cosine, TopK.L2); replicate <- Seq(TopK.Corpus, TopK.Queries)) {
      val got = TopK.topK(q, n.filter(lit(false)), 5, score, replicate = replicate)
      assert(got.columns.toSeq == Seq("q_id", "q_label", "q_tag", "n_id", "n_label", "n_tag",
        score.name, "rk"))
      assert(got.isEmpty, s"$score $replicate")
    }
  }

  test("hard negatives equal the label-filtered rank window") {
    val rnd = new scala.util.Random(31)
    val emb = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(4)((rnd.nextInt(5) - 2).toFloat), rnd.nextInt(3))
    }.toDF("vec_id", "embedding", "label")
    val anchors = emb.filter(col("vec_id") % 5 === 0)
    for (k <- Seq(1, 3, 80)) {
      val want = bits(TestOracles.hardNegativeWindow(anchors, emb, k))
      assert(want._1 == Seq("q_id", "q_label", "n_id", "sim", "rk"))
      assert(bits(Similarity.hardNegativeTopK(anchors, emb, k)) == want, s"k=$k")
    }
    assert(Similarity.hardNegativeTopK(anchors, emb.filter(lit(false)), 3).isEmpty)
  }

  test("the brute-force forms equal their rank windows on tied embeddings") {
    val emb = (0L until 48L).map { i =>
      val angle = (i % 6).toDouble / 6.0 * math.Pi / 2
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 7L)
    for (k <- Seq(1, 5, 60); replicate <- Seq(TopK.Corpus, TopK.Queries)) {
      assert(bits(Similarity.bruteTopK(queries, emb, k, replicate)) ==
        bits(TestOracles.bruteTopKWindow(queries, emb, k)), s"k=$k $replicate")
    }
    // the squared-L2 form over (vec_id, vec)
    val l2 = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val side = (df: DataFrame, p: String) =>
      df.select(col("vec_id").as(s"${p}_id"), col("vec").as(s"${p}_vec"))
    assert(bits(graft.ml.Pq.bruteL2TopK(l2.filter($"vec_id" < 7L), l2, 5)) ==
      bits(TestOracles.topKWindow(side(l2.filter($"vec_id" < 7L), "q"), side(l2, "n"), 5, TopK.L2,
        col("q_id") =!= col("n_id"))))
  }
}
