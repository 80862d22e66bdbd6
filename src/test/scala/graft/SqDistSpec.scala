package graft

import graft.functions.{ArrayFold, Exprs}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Bit-parity of the codegen [[ArrayFold]] kernels against the interpreted
  * HOF forms they replaced (same sequential fold, same doubles), and of each
  * kernel's interpreted `eval` against its generated loop. */
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
    assert(df.select(Exprs.dotLong($"a", $"b").as("fast"), hof.as("hof"))
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

  test("every ArrayFold op: interpreted eval equals codegen on random, null, ragged and empty rows") {
    val rnd = new scala.util.Random(23)
    def doubles(n: Int): Array[Double] = Array.fill(n)((rnd.nextDouble() - 0.5) * 1e3)
    def longs(n: Int): Array[Long] = Array.fill(n)(rnd.nextLong() % 1000000L)
    // (op, element type, random array of length n, Scala fold of equal-length arrays)
    val table: Seq[(ArrayFold.Op, org.apache.spark.sql.types.DataType, Int => Any, (Any, Any) => Any)] = Seq(
      (ArrayFold.Dot, DoubleType, doubles _, (a: Any, b: Any) =>
        a.asInstanceOf[Array[Double]].zip(b.asInstanceOf[Array[Double]])
          .foldLeft(0.0d) { case (s, (x, y)) => s + x * y }),
      (ArrayFold.DotLong, LongType, longs _, (a: Any, b: Any) =>
        a.asInstanceOf[Array[Long]].zip(b.asInstanceOf[Array[Long]])
          .foldLeft(0L) { case (s, (x, y)) => s + x * y }),
      (ArrayFold.SqDist, DoubleType, doubles _, (a: Any, b: Any) =>
        a.asInstanceOf[Array[Double]].zip(b.asInstanceOf[Array[Double]])
          .foldLeft(0.0d) { case (s, (x, y)) => s + (x - y) * (x - y) }))
    for ((op, elem, gen, reference) <- table) {
      val t = ArrayType(elem, containsNull = false)
      val expr = ArrayFold(BoundReference(0, t, nullable = true),
        BoundReference(1, t, nullable = true), op)
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      def bits(v: Any): Any = v match {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case other => other
      }
      def both(a: Any, b: Any): (Any, Any) = {
        val row = InternalRow(Option(a).map(ArrayData.toArrayData).orNull,
          Option(b).map(ArrayData.toArrayData).orNull)
        val out = proj(row)
        (bits(expr.eval(row)), if (out.isNullAt(0)) null else bits(out.get(0, op.dataType)))
      }
      // random equal-length rows: both paths equal the Scala fold
      for (_ <- 1 to 200) {
        val n = rnd.nextInt(24) + 1
        val (a, b) = (gen(n), gen(n))
        val (interp, code) = both(a, b)
        assert(interp == code && interp == bits(reference(a, b)), s"$op n=$n")
      }
      // null inputs
      val some = gen(3)
      for ((a, b) <- Seq((null, some), (some, null), (null, null)))
        assert(both(a, b) == ((null, null)), s"$op null input")
      // ragged lengths min-truncate; empty arrays fold to the zero
      def prefix(arr: Any, k: Int): Any = arr match {
        case d: Array[Double] => d.take(k)
        case l: Array[Long] => l.take(k)
      }
      val (long5, short3) = (gen(5), gen(3))
      for ((a, b, want) <- Seq(
          (long5, short3, reference(prefix(long5, 3), short3)),
          (short3, long5, reference(short3, prefix(long5, 3))))) {
        val (interp, code) = both(a, b)
        assert(interp == code && interp == bits(want), s"$op ragged")
      }
      val empty = gen(0)
      for ((a, b) <- Seq((empty, empty), (empty, gen(4)), (gen(4), empty))) {
        val (interp, code) = both(a, b)
        assert(interp == code && interp == bits(reference(empty, empty)), s"$op empty")
      }
    }
  }

  test("ArrayFold casts int arrays up and rejects string arrays at analysis") {
    val ints = Seq((Array(1, 2), Array(3, 5))).toDF("a", "b")
    assert(ints.select(Exprs.dot($"a", $"b")).as[Double].head() == 13.0)
    assert(ints.select(Exprs.dotLong($"a", $"b")).as[Long].head() == 13L)
    assert(ints.select(Exprs.sqdist($"a", $"b")).as[Double].head() == 13.0)
    val strs = Seq((Array("x"), Array("y"))).toDF("a", "b")
    for (fold <- Seq(Exprs.dot _, Exprs.dotLong _, Exprs.sqdist _))
      intercept[org.apache.spark.sql.AnalysisException](strs.select(fold($"a", $"b")))
  }
}
