package graft

import graft.ml.TopK
import graft.operators.Bucketing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class TopKBucketingSpec extends SparkSpec {
  import spark.implicits._

  test("top-k Aggregator equals the rank-window form") {
    // TopK.ranked against the rank window (and the typed pipeline it
    // replaced) over 0, 1 and 2 grouping keys, tied scores (one decimal
    // digit), k past a group's size, empty input, and a negated-distance
    // score ranked smallest-first the way Pq does
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map { i =>
      (s"g${i % 5}", (i % 3).toLong, i.toLong, math.floor(rnd.nextDouble() * 10) / 10)
    }.toDF("g", "h", "id", "score")
    def window(in: DataFrame, keys: Seq[String], score: Column, k: Int): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(score, $"id".asc)
      in.withColumn("rk", row_number().over(w).cast("long")).filter($"rk" <= k)
        .select(keys.map(col) ++ Seq($"id", $"score", $"rk"): _*)
    }
    // keys compared as strings: the typed oracle's key type
    def rows(out: DataFrame, keys: Seq[String]): Set[Seq[Any]] =
      out.select(keys.map(c => col(c).cast("string")) ++ Seq($"id", $"score", $"rk"): _*)
        .collect().map(_.toSeq).toSet
    for {
      (in, what) <- Seq(df -> "rows", df.filter(lit(false)) -> "empty")
      keys <- Seq(Nil, Seq("g"), Seq("g", "h"))
      k <- Seq(7, 200)
    } {
      val clue = s"$what keys=$keys k=$k"
      val want = rows(window(in, keys, $"score".desc, k), keys)
      assert(rows(TopK.ranked(in, keys, "id", "score", k), keys) == want, clue)
      assert(rows(TestOracles.topKTyped(in, keys, "id", "score", k), keys) == want, clue)
      assert(want.nonEmpty == (what == "rows"), clue)
      // negated in, negated back out: (score asc, id asc)
      val nearest = TopK.ranked(in.withColumn("score", -$"score"), keys, "id", "score", k)
        .withColumn("score", round(-$"score", 6))
      assert(rows(nearest, keys) == rows(window(in, keys, $"score".asc, k), keys), clue)
    }
    // k = 200 exceeds every group (≤ 100 rows at one key): all rows come back
    assert(TopK.ranked(df, Seq("g"), "id", "score", 200).count() == 500L)
  }

  test("TopK.ranked rejects k < 1 when the plan is built") {
    val df = Seq((1L, 0.5d), (2L, 0.25d)).toDF("id", "score")
    Seq(0, -1).foreach { k =>
      intercept[IllegalArgumentException](TopK.ranked(df, Nil, "id", "score", k))
    }
    // the heap kernel's callers inherit the check instead of failing in a task
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](graft.operators.Similarity.bruteTopK(emb, emb, 0))
    // and a non-LONG id or non-DOUBLE score
    intercept[IllegalArgumentException](
      TopK.ranked(df.withColumn("id", $"id".cast("int")), Nil, "id", "score", 1))
    intercept[IllegalArgumentException](
      TopK.ranked(df.withColumn("score", $"score".cast("float")), Nil, "id", "score", 1))
  }

  test("TopK.ranked carries string and array columns through the heap") {
    // every non-key column rides with its entry: a string and an array
    // column come out on the row they went in with, as the rank window
    // over the same rows keeps them; tied scores, a null string, an empty
    // array and k past a group's size included
    val rnd = new scala.util.Random(11)
    val df = (1 to 300).map { i =>
      (s"g${i % 4}", i.toLong, math.floor(rnd.nextDouble() * 5) / 5,
        if (i % 17 == 0) null else s"label-$i", Seq.tabulate(i % 4)(j => (i * j).toDouble))
    }.toDF("g", "id", "score", "tag", "xs")
    for (k <- Seq(1, 6, 100)) {
      val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
      val want = df.withColumn("rk", row_number().over(w).cast("long")).filter($"rk" <= k)
      val got = TopK.ranked(df, Seq("g"), "id", "score", k)
      assert(got.columns.toSeq == want.columns.toSeq, s"k=$k")
      assert(got.collect().map(_.toString).toSet == want.collect().map(_.toString).toSet, s"k=$k")
    }
  }

  test("bucketed join on the bucket key plans with zero shuffle exchanges") {
    val tmp = java.nio.file.Files.createTempDirectory("buckets").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Bucketing.writeBucketed(orders, "orders_b", s"$tmp/orders", "o_orderkey", 4)
    Bucketing.writeBucketed(lineitem, "lineitem_b", s"$tmp/lineitem", "l_orderkey", 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.read(spark, "orders_b")
        .join(Bucketing.read(spark, "lineitem_b"), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // join is co-located; only the final small aggregation may exchange
      assert(exchanges.size <= 1)
      assert(joined.agg(sum($"n")).as[Long].head() == 6000L)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}
