package graft

import graft.functions.Exprs
import org.apache.spark.sql.functions._

class ExprsSpec extends SparkSpec {
  import spark.implicits._

  test("codegen DotProduct is bit-identical to the HOF fold on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = emb.as("a").crossJoin(emb.as("b")).limit(2000)
    val diffs = pairs.select(
      Exprs.dot(col("a.v"), col("b.v")).as("fast"),
      TestOracles.dotHof(col("a.v"), col("b.v")).as("hof"))
      .filter($"fast" =!= $"hof")
    assert(diffs.count() == 0L)
  }

  test("dot on hand vectors") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(Exprs.dot($"a", $"b")).as[Double].head() == 32.0)
    assert(df.select(Exprs.cosine($"a", $"a")).as[Double].head() == 1.0)
  }

  test("cosine guards zero vectors") {
    val df = Seq((Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    assert(df.select(Exprs.cosine($"a", $"b")).as[Double].head() == 0.0)
  }

  test("h60 matches the cross-engine md5 prefix value") {
    // Golden values independently computed by DuckDB 1.0
    // (CAST('0x'||substr(md5(x),1,15) AS BIGINT)) and Python hashlib —
    // pins Spark's conv(substr(md5,1,15),16,10) to the portable contract.
    val df = Seq("abc", "hello world", "42:some shingle text").toDF("s")
    val got = df.select($"s", Exprs.h60($"s")).as[(String, Long)].collect().toMap
    assert(got("abc") == 648541476951500027L)
    assert(got("hello world") == 426544247714475757L)
    assert(got("42:some shingle text") == 685363433132350180L)
    assert(got.values.forall(_ >= 0L)) // 60-bit: always non-negative
  }

  test("shingles builds space-joined n-grams, empty under n tokens") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Exprs.shingles(Exprs.tokens($"text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq.empty)
  }

  test("zorder: hand-computed interleave and the quadtree tile bound") {
    // x=3 (011), y=5 (101): bit0 x→1, bit0 y→2, bit1 x→4, bit2 y→32 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Exprs.zorder(col("x"), col("y"), 10).as("z"))
      .collect().head.getLong(0)
    assert(z == 39L, s"zorder(3,5) = $z")
    // every z-prefix cell (zkey >> 8, 10-bit interleave) is a 16×16 tile
    val grid = (for { x <- 0L until 1024L by 37; y <- 0L until 1024L by 41 }
      yield (x, y)).toDF("x", "y")
    val spans = grid
      .select(col("x"), col("y"), Exprs.zorder(col("x"), col("y"), 10).as("z"))
      .groupBy(shiftright(col("z"), 8).as("cell"))
      .agg((max(col("x")) - min(col("x"))).as("xs"), (max(col("y")) - min(col("y"))).as("ys"))
    assert(spans.filter(col("xs") >= 16 || col("ys") >= 16).count() == 0)
    // the layout claim: under a ONE-dimensional (x-major) order, a page of
    // 256 key-units spans ~256 in y while bounding x — the other
    // dimension pays; z-cells of the SAME size bound BOTH at 15
    val byX = grid.select(col("x"), col("y"),
        (col("x") * 1024 + col("y")).as("k")) // x-major order ≈ sort by x
      .groupBy(shiftright(col("k"), 8).as("page"))
      .agg((max(col("y")) - min(col("y"))).as("yspan"))
    val worstY = byX.agg(max(col("yspan"))).collect().head.getLong(0)
    assert(worstY > 15 * 8, s"x-major pages should span far more of y than a z-tile, got $worstY")
  }
}
