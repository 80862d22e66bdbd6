package graft

import graft.functions.{DotProductLong, Exprs}
import org.apache.spark.sql.functions._

/** Bit-parity of the round-14 codegen kernels against the interpreted HOF
  * forms they replaced (the DotProduct discipline: same sequential fold,
  * same doubles). */
class SqDistSpec extends SparkSpec {
  import spark.implicits._

  test("codegen SqDist is bit-identical to the HOF fold on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = emb.as("a").crossJoin(emb.as("b")).limit(2000)
    val diffs = pairs.select(
      Exprs.sqdist(col("a.v"), col("b.v")).as("fast"),
      TestOracles.sqdistHof(col("a.v"), col("b.v")).as("hof"))
      .filter($"fast" =!= $"hof")
    assert(diffs.count() == 0L)
  }

  test("sqdist on hand vectors, null propagation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 6.0, 3.0))).toDF("a", "b")
    assert(df.select(Exprs.sqdist($"a", $"b")).as[Double].head() == 25.0)
    val withNull = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    assert(withNull.select(Exprs.sqdist($"a", $"b")).collect().head.isNullAt(0))
  }

  test("codegen DotProductLong matches the integer HOF fold on the quantize domain") {
    val rnd = new scala.util.Random(7)
    // quantize-scale magnitudes (the lshBucket domain) — the HOF reference
    // throws under ANSI on a contrived Long.MaxValue overflow, so parity is
    // asserted on the domain the kernel actually sees
    val rows = Seq.tabulate(200) { _ =>
      (Array.fill(16)(rnd.nextLong() % 1000000L),
        Array.fill(16)(if (rnd.nextBoolean()) 1L else -1L))
    }
    val df = rows.toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, s) => x * s),
      lit(0L), (acc, x) => acc + x)
    assert(df.select(DotProductLong($"a", $"b").as("fast"), hof.as("hof"))
      .filter($"fast" =!= $"hof").count() == 0L)
  }

  test("cosinePre over precomputed vnorm is bit-identical to cosine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", Exprs.vnorm($"v"))
    val zero = Seq((-1L, Array.fill(4)(0.0))).toDF("vec_id", "v")
      .withColumn("nrm", Exprs.vnorm($"v"))
    val all = emb.unionByName(zero)
    val pairs = all.as("a").crossJoin(all.as("b")).limit(4000)
    val diffs = pairs.select(
      Exprs.cosine(col("a.v"), col("b.v")).as("direct"),
      Exprs.cosinePre(Exprs.dot(col("a.v"), col("b.v")),
        col("a.nrm"), col("b.nrm")).as("pre"))
      .filter($"direct" =!= $"pre" ||
        ($"direct".isNull =!= $"pre".isNull))
    assert(diffs.count() == 0L)
  }
}
