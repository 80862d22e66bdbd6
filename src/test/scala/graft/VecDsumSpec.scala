package graft

import graft.functions.{DecimalSlots, Exprs, SparkRound, VecDsum}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** Bit-parity of the element-wise gradient aggregate against the
  * posexplode + dsum formulation [[graft.ml.Logistic.train]] used before
  * round 14, of [[graft.functions.SparkRound]] against Spark's Round, and
  * of the shared exact-decimal slot buffer's serde and merge. */
class VecDsumSpec extends SparkSpec {
  import spark.implicits._

  private def randomFrame(n: Int, d: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n) { i =>
      (i.toLong,
        Array.fill(d)(math.floor(rnd.nextDouble() * 512 * 1e10) / 1e10),
        if (rnd.nextBoolean()) 1.0 else 0.0,
        math.floor(rnd.nextDouble() * 1e10) / 1e10)
    }.toDF("id", "x", "y", "p")
  }

  test("VecDsum equals posexplode + per-position dsum, slot by slot") {
    val df = randomFrame(500, 17, seed = 3)
    val coef = col("p") - col("y")
    // the pre-round-14 gradient: explode, group by position, exact dsum
    val exploded = df
      .select(col("p"), col("y"), posexplode(col("x")).as(Seq("pos", "xj")))
      .groupBy(col("pos"))
      .agg(Exprs.dsum(round((col("p") - col("y")) * col("xj"), 12), 12).as("s"))
      .orderBy(col("pos"))
      .as[(Int, Double)].collect()
    val vec = df.agg(VecDsum(col("x"), coef).as("s"))
      .select(posexplode(col("s")).as(Seq("pos", "v")))
      .orderBy(col("pos"))
      .as[(Int, Double)].collect()
    assert(exploded.length == 17 && vec.length == 17)
    exploded.zip(vec).foreach { case ((pe, se), (pv, sv)) =>
      assert(pe == pv && se == sv, s"slot $pe: explode=$se vec=$sv")
    }
  }

  test("VecDsum over zero rows is null; null coef rows contribute nothing") {
    val empty = Seq.empty[(Long, Array[Double], Double, Double)]
      .toDF("id", "x", "y", "p")
    assert(empty.agg(VecDsum(col("x"), col("p") - col("y")).as("s"))
      .collect().head.isNullAt(0))
    // one real row + one null-coef row == just the real row
    val one = Seq((1L, Array(1.5, 2.5), 0.0, 0.75)).toDF("id", "x", "y", "p")
    val withNull = Seq((1L, Array(1.5, 2.5), Some(0.0), Some(0.75)),
      (2L, Array(9.0, 9.0), None, None)).toDF("id", "x", "y", "p")
    val a = one.agg(VecDsum(col("x"), col("p") - col("y"))).as[Seq[Double]].head()
    val b = withNull.agg(VecDsum(col("x"), col("p") - col("y"))).as[Seq[Double]].head()
    assert(a == b)
  }

  /** `body` with `spark.sql.ansi.enabled` set to `ansi`, restored after. */
  private def withAnsi[T](ansi: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, ansi)
    try body finally spark.conf.set(key, prev)
  }

  /** Slot values of VecDsum and of the posexplode + dsum form over one row
    * `xs` with coef 1 (null slots as None), or the error class each threw. */
  private def bothForms(xs: Seq[Double]): (Either[String, Seq[Option[Double]]], Either[String, Seq[Option[Double]]]) = {
    def run(f: => Seq[Option[Double]]): Either[String, Seq[Option[Double]]] =
      try Right(f) catch {
        case e: Exception =>
          val errs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          Left(errs.collectFirst { case t: org.apache.spark.SparkThrowable => t.getCondition }
            .getOrElse(e.toString))
      }
    val df = Seq(Tuple1(xs.toArray)).toDF("x")
    val dsumForm = run(df.select(posexplode(col("x")).as(Seq("pos", "xj")))
      .groupBy(col("pos")).agg(Exprs.dsum(round(col("xj") * lit(1.0d), 12), 12).as("s"))
      .orderBy(col("pos")).select(col("s")).as[Option[Double]].collect().toSeq)
    val vec = run(df.agg(VecDsum(col("x"), lit(1.0d)).as("s"))
      .select(posexplode(col("s"))).select(col("col")).as[Option[Double]].collect().toSeq)
    (dsumForm, vec)
  }

  test("VecDsum and the dsum form agree on x = [1.0, 1e19] with ANSI off and on") {
    val off = withAnsi(false)(bothForms(Seq(1.0, 1e19)))
    assert(off == ((Right(Seq(Some(1.0), None)), Right(Seq(Some(1.0), None)))))
    val on = withAnsi(true)(bothForms(Seq(1.0, 1e19)))
    assert(on._1 == on._2 && on._1.left.exists(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")), on)
  }

  test("VecDsum and the dsum form skip NaN and Infinity addends with ANSI off and on") {
    for (ansi <- Seq(false, true)) {
      val (dsumForm, vec) =
        withAnsi(ansi)(bothForms(Seq(1.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)))
      assert(dsumForm == Right(Seq(Some(1.0), None, None, None)), s"ansi=$ansi")
      assert(vec == dsumForm, s"ansi=$ansi")
    }
  }

  test("the slot buffer throws the ANSI error on a sum past decimal(38, 12)") {
    val big = new DecimalSlots(square = false, ansi = true)
    big.grow(1)
    big.add(0, 0, 9e17)
    (1 to 20).foreach(_ => big.mergeWith(big))
    assert(big.result() != null)
    (1 to 15).foreach(_ => big.mergeWith(big))
    val e = intercept[ArithmeticException](big.result())
    assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition
      .startsWith("NUMERIC_VALUE_OUT_OF_RANGE"))
    // the aggregate captures the mode when the plan is built
    val x = Seq(Tuple1(Array(1.0, 1e19))).toDF("x")
    val built = withAnsi(false)(x.agg(VecDsum(col("x"), lit(1.0d))))
    assert(withAnsi(true)(built.as[Seq[Option[Double]]].head()) == Seq(Some(1.0), None))
  }

  test("OuterDsum equals the exploded (i, j, p) covariance form, slot by slot") {
    import org.apache.spark.sql.types.LongType
    val rnd = new scala.util.Random(5)
    val d = 7
    val df = Seq.tabulate(300)(_ =>
      Tuple1(Array.fill(d)(math.floor((rnd.nextDouble() - 0.5) * 1e10) / 1e10)))
      .toDF("cv")
    // the pre-round-14 Pca.cov expansion
    val exploded = df
      .select(explode(flatten(transform(col("cv"), (xi, i) =>
        transform(col("cv"), (xj, j) =>
          struct((i + 1).cast(LongType).as("i"), (j + 1).cast(LongType).as("j"),
            round(xi * xj, 12).as("p")))))).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(round(Exprs.dsum(col("p"), 12), 12).as("s"))
      .orderBy(col("i"), col("j"))
      .as[(Long, Long, Double)].collect()
    val outer = df.agg(graft.functions.OuterDsum(col("cv")).as("sv"))
      .select(posexplode(col("sv")).as(Seq("k", "sraw")))
      .filter(col("sraw").isNotNull)
      .select((floor(col("k") / lit(d)) + 1).cast(LongType).as("i"),
        (col("k") % lit(d) + 1).cast(LongType).as("j"),
        round(col("sraw"), 12).as("s"))
      .orderBy(col("i"), col("j"))
      .as[(Long, Long, Double)].collect()
    assert(exploded.length == d * d && outer.length == d * d)
    exploded.zip(outer).foreach { case ((ie, je, se), (io, jo, so)) =>
      assert(ie == io && je == jo && se == so, s"($ie,$je): explode=$se outer=$so")
    }
  }

  test("SparkRound matches Spark's round(col, s) at scales 6-12 and on NaN, Inf, -0.0") {
    val rnd = new scala.util.Random(11)
    val vals = Array.fill(4000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8) - 3)) ++
      Array(0.0, -0.0, 1.0000000000005, -1.0000000000005, 2.5e-13, -2.5e-13,
        1.0000005, -2.5e-7, 1.000000005, 2.5e-9, 1.00000000005, 2.5e-11,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    for (scale <- Seq(6, 8, 10, 12)) {
      val sparkSide = vals.toSeq.toDF("v").select(round(col("v"), scale)).as[Double].collect()
      vals.zip(sparkSide).foreach { case (v, s) =>
        val d = SparkRound(v, scale)
        assert(java.lang.Double.doubleToLongBits(d) == java.lang.Double.doubleToLongBits(s),
          s"SparkRound($v, $scale): driver=$d spark=$s")
      }
    }
  }

  test("DecimalSlots serde round-trips every slot state; merge spans widths") {
    def cells(b: DecimalSlots): Option[Seq[Any]] =
      Option(b.result()).map(_.asInstanceOf[GenericArrayData].array.toSeq)
    def roundTrip(b: DecimalSlots, square: Boolean): DecimalSlots = {
      val back = DecimalSlots.fromBytes(b.toBytes, square)
      assert(back.toBytes.sameElements(b.toBytes) && cells(back) == cells(b))
      back
    }
    for (square <- Seq(false, true)) assert(cells(roundTrip(new DecimalSlots(square), square)).isEmpty)
    // null slots, and an addend past decimal(30, 12) (1e19: 32 digits) skipped
    val row = new DecimalSlots(square = false)
    row.grow(4)
    row.add(0, 0, 1.5)
    row.add(0, 2, 1e19)
    row.add(0, 3, Double.NaN)
    assert(cells(roundTrip(row, square = false)) == Some(Seq(1.5, null, null, null)))
    // a sum past decimal(38, 12) is null: 9e17 doubled by self-merges
    val big = new DecimalSlots(square = false)
    big.grow(1)
    big.add(0, 0, 9e17)
    (1 to 20).foreach(_ => big.mergeWith(big))
    assert(cells(roundTrip(big, square = false)) == Some(Seq(9e17 * (1 << 20))))
    (1 to 15).foreach(_ => big.mergeWith(big))
    assert(cells(roundTrip(big, square = false)) == Some(Seq(null)))
    // merging a narrower buffer into a wider one and the reverse agree: each
    // old row keeps its cells when the narrow side grows
    for (square <- Seq(false, true)) {
      def filled(w: Int, f: (Int, Int) => Double): DecimalSlots = {
        val b = new DecimalSlots(square)
        b.grow(w)
        for (i <- 0 until (if (square) w else 1); j <- 0 until w) b.add(i, j, f(i, j))
        b
      }
      val narrow = (i: Int, j: Int) => i * 10.0 + j + 1
      val wide = (i: Int, j: Int) => 100.0 * (i + 1) + j
      val expected = for (i <- 0 until (if (square) 3 else 1); j <- 0 until 3)
        yield wide(i, j) + (if (i < 2 && j < 2) narrow(i, j) else 0.0)
      val a = filled(2, narrow).mergeWith(roundTrip(filled(3, wide), square))
      val b = filled(3, wide).mergeWith(roundTrip(filled(2, narrow), square))
      assert(cells(a) == Some(expected) && cells(b) == Some(expected), s"square=$square")
    }
  }

  test("trained weights are bit-equal to the pre-round-14 frame-loop trainer") {
    // the exact weight-frame GD loop Logistic.train ran before round 14,
    // inlined as the reference implementation
    def trainOld(data: org.apache.spark.sql.DataFrame, lr: Double,
                 iterations: Int): Array[(Long, Double)] = {
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val e = data.select(col("id"), col("x"), col("y"))
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
      val n = e.count().toDouble
      var weights = e.limit(1)
        .select(posexplode(col("x")))
        .select(col("pos"), lit(0.0d).as("w"))
        .coalesce(1)
        .localCheckpoint(true)
      for (_ <- 1 to iterations) {
        val wArr = weights
          .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("es"))
          .select(transform(col("es"), x => x.getField("w")).as("wv"))
        val scored = e.crossJoin(broadcast(wArr))
          .withColumn("p",
            round(lit(1.0d) / (lit(1.0d) + exp(-round(Exprs.dot(col("x"), col("wv")), 12))), 10))
        weights = weights.join(
          scored.select(col("p"), col("y"), posexplode(col("x")).as(Seq("pos", "xj")))
            .groupBy(col("pos"))
            .agg((Exprs.dsum(round((col("p") - col("y")) * col("xj"), 12), 12) / lit(n)).as("g")),
          "pos")
          .select(col("pos"), round(col("w") - lit(lr) * col("g"), 12).as("w"))
          .coalesce(1)
          .localCheckpoint(true)
      }
      e.unpersist(blocking = false)
      weights.select(col("pos").cast(LongType).as("pos"), col("w").cast(DoubleType).as("w"))
        .orderBy(col("pos")).as[(Long, Double)].collect()
    }
    // features on the real [0, 512)-ish scale q176 uses, plus a bias slot
    val data = randomFrame(200, 5, seed = 42).select(col("id"), col("x"), col("y"))
    for (iters <- Seq(0, 1, 6)) {
      val expected = trainOld(data, lr = 0.5, iterations = iters)
      val got = graft.ml.Logistic.train(data, lr = 0.5, iterations = iters)
        .orderBy(col("pos")).as[(Long, Double)].collect()
      assert(got.length == 5)
      expected.zip(got).foreach { case ((pe, we), (pg, wg)) =>
        assert(pe == pg &&
          java.lang.Double.doubleToLongBits(we) == java.lang.Double.doubleToLongBits(wg),
          s"iters=$iters pos=$pe: old=$we new=$wg")
      }
    }
  }
}
