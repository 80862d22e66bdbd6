package graft

import graft.graph.Graphs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shared graph steps of [[Graphs]] against the operators they replaced
  * ([[TestOracles.pageRankGeneralLoop]], [[TestOracles.personalizedPageRankLoop]],
  * [[TestOracles.kTrussFinalPass]]), bit for bit, on graphs with dangling
  * vertices, duplicate and reversed edges, self-loops and degree ties, and
  * with a seed absent from the graph. */
class GraphParitySpec extends SparkSpec {
  import spark.implicits._

  /** A directed multigraph: 1 ⇄ 2 and 2 ⇄ 3 reversed pairs, (1, 2) and
    * (4, 5) twice, self-loops on 3 and 6, dangling sinks 7 and 8 (no
    * out-edges), and a K4 on 10–13 whose vertices all tie on degree. */
  private val raw: DataFrame = Seq(
    (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (3L, 3L), (3L, 4L),
    (4L, 5L), (4L, 5L), (5L, 1L), (5L, 7L), (6L, 6L), (6L, 8L), (2L, 8L),
    (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L), (13L, 4L))
    .toDF("src", "dst")

  /** 30 vertices, 90 random directed edges (duplicates, reversals and
    * self-loops included), vertices 25–29 sinks only. */
  private val random: DataFrame = {
    val rnd = new scala.util.Random(31)
    Seq.fill(90)((rnd.nextInt(25).toLong, rnd.nextInt(30).toLong)).toDF("src", "dst")
  }

  /** Out-normalized weights: each row's share of its source's rows. */
  private def weighted(edges: DataFrame): DataFrame =
    Graphs.normalizeEdges(edges.withColumn("cnt", lit(1L)))

  /** Rows as sorted strings with every double spelled by its bits, plus the
    * column names: equal means equal bit for bit. */
  private def bits(df: DataFrame): (Seq[String], Seq[String]) = {
    def cell(v: Any): String = v match {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case other => String.valueOf(other)
    }
    (df.columns.toSeq, df.collect().map((r: Row) => r.toSeq.map(cell).mkString("|")).toSeq.sorted)
  }

  test("pageRankGeneral equals the replaced loop, bit for bit") {
    for ((name, g) <- Seq("fixture" -> raw, "random" -> random); iters <- Seq(1, 10);
         damping <- Seq(0.85, 0.5)) {
      val clue = s"$name iterations=$iters damping=$damping"
      val want = bits(TestOracles.pageRankGeneralLoop(weighted(g), iters, damping))
      assert(want._2.nonEmpty, clue)
      assert(bits(Graphs.pageRankGeneral(weighted(g), iters, damping)) == want, clue)
    }
  }

  test("personalizedPageRank equals the replaced loop, bit for bit, an absent seed ignored") {
    // 99 is in no edge; 7 is a dangling sink; 12 sits in the tied K4
    for ((name, g, seeds) <- Seq(("fixture", raw, Seq(1L, 7L, 99L)), ("fixture", raw, Seq(12L, 99L)),
         ("random", random, Seq(0L, 3L, 99L)))) {
      val clue = s"$name seeds=$seeds"
      val sd = seeds.toDF("v")
      val want = bits(TestOracles.personalizedPageRankLoop(weighted(g), sd, 10))
      assert(want._2.nonEmpty, clue)
      assert(bits(Graphs.personalizedPageRank(weighted(g), sd, 10)) == want, clue)
    }
    val absent = Seq(99L).toDF("v")
    intercept[IllegalArgumentException](Graphs.personalizedPageRank(weighted(raw), absent))
  }

  test("kTruss equals the replaced peel, supports and round counts included") {
    for ((name, g) <- Seq("fixture" -> raw, "random" -> random, "empty" -> raw.filter(lit(false)));
         k <- Seq(2, 3, 4)) {
      val clue = s"$name k=$k"
      val (wantDf, wantRounds) = TestOracles.kTrussFinalPass(g, k)
      val (gotDf, gotRounds) = Graphs.kTrussWithRounds(g, k)
      assert(bits(gotDf) == bits(wantDf), clue)
      assert(gotRounds == wantRounds, clue)
    }
  }
}
