package graft

import graft.graph.Graphs
import graft.ml.{Evaluate, Knn}
import graft.operators.TextPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5): TF normalization, edge-weight
  * normalization, accuracy bounds, top-k permutation invariance.
  * ScalaCheck generators drive fixed-seed cases (5 per property — each case
  * materializes a Spark job, so counts stay small and runs deterministic). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val docGen = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  test("TF sums to 1 per document for any corpus") {
    for (seed <- 1L to 5L) {
      val texts = sample(Gen.nonEmptyListOf(docGen), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val sums = TextPipeline.tf(TextPipeline.termCounts(TextPipeline.tokenize(docs)))
        .groupBy($"doc_id").agg(sum($"tf").as("s")).select($"s").as[Double].collect()
      assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9), s"seed=$seed")
    }
  }

  test("normalized out-edge weights sum to 1 per source for any graph") {
    val edgeGen = Gen.nonEmptyListOf(for {
      s <- Gen.choose(0, 5); d <- Gen.choose(0, 5); c <- Gen.choose(1L, 9L)
    } yield (s.toString, d.toString, c)).map(_.filter(e => e._1 != e._2))
    for (seed <- 1L to 5L) {
      val edges = sample(edgeGen, seed)
      if (edges.nonEmpty) {
        val df = edges.toDF("src", "dst", "cnt")
          .groupBy($"src", $"dst").agg(sum($"cnt").as("cnt"))
        val sums = Graphs.normalizeEdges(df)
          .groupBy($"src").agg(sum($"w").as("s")).select($"s").as[Double].collect()
        assert(sums.forall(s => math.abs(s - 1.0) < 1e-9), s"seed=$seed")
      }
    }
  }

  test("accuracy is always within [0, 1]") {
    val rowGen = Gen.nonEmptyListOf(
      for { t <- Gen.oneOf("x", "y"); p <- Gen.oneOf("x", "y") } yield (t, p))
    for (seed <- 1L to 5L) {
      val rows = sample(rowGen, seed)
      val acc = Evaluate.accuracy(rows.toDF("truth", "pred"))
        .select($"accuracy").as[Double].head()
      assert(acc >= 0.0 && acc <= 1.0, s"seed=$seed")
    }
  }

  test("bounded-heap TopK is partitioning- and order-invariant for any inputs") {
    // the Aggregator under every ANN/top-k row: Spark may split a group's
    // rows across ANY partition boundary and merge partials in ANY order,
    // so reduce-then-merge over an arbitrary chunking must equal the global
    // sort's take(k). Scores draw from a small discrete set to force ties
    // (the (score desc, id asc) rule is the part a heap bug would break).
    // Driver-side property — no Spark job per case, so 50 cases are cheap.
    // Entries are whole rows (id, score, tag): the tag must ride with them.
    val entry = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("score", "double").add("tag", "string")
    val caseGen = for {
      n <- Gen.choose(1, 60)
      scores <- Gen.listOfN(n, Gen.choose(0, 4).map(_ * 0.25))
      k <- Gen.choose(1, 8)
      cuts <- Gen.listOfN(6, Gen.choose(0, n))
    } yield (scores.zipWithIndex.map { case (s, i) => Row(i.toLong, s, s"t$i") }, k, cuts)
    for (seed <- 1L to 50L) {
      val (rows, k, cuts) = sample(caseGen, seed)
      val agg = new graft.ml.TopK.Heap(k, entry, id = 0, score = 1)
      def top(buf: Row): Seq[Row] = agg.finish(buf).getSeq[Row](0).toList
      val expected = rows.sortWith((a, b) => a.getDouble(1) > b.getDouble(1) ||
        (a.getDouble(1) == b.getDouble(1) && a.getLong(0) < b.getLong(0))).take(k)
      // arbitrary chunking: fold each chunk with reduce, then merge the
      // partial buffers left-to-right (one merge order; order invariance of
      // the INPUT is covered by also folding the reversed stream)
      val bounds = (cuts :+ 0 :+ rows.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => rows.slice(a, b) }
      val merged = chunks.map(_.foldLeft(agg.zero)(agg.reduce)).reduce(agg.merge)
      val single = rows.foldLeft(agg.zero)(agg.reduce)
      val reversed = rows.reverse.foldLeft(agg.zero)(agg.reduce)
      assert(top(merged) == expected, s"seed=$seed (chunked)")
      assert(top(single) == expected, s"seed=$seed (sequential)")
      assert(top(reversed) == expected, s"seed=$seed (reversed)")
    }
  }

  test("per-row minhash band signatures equal the grouped pipeline for any corpus") {
    // random texts including repeats, sub-n-token docs, punctuation and case
    // noise — the parity must hold wherever the grouped form emits anything
    val noisyDoc = Gen.nonEmptyListOf(
      Gen.oneOf("alpha", "BETA!", "gamma,", "d", "ε", "x9")).map(_.mkString(" "))
    for (seed <- 1L to 5L) {
      val texts = sample(Gen.nonEmptyListOf(noisyDoc), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val grouped = graft.operators.Dedup.minhashSignatures(
          graft.operators.Dedup.shingleSet(docs.withColumn("lang", lit("x")), 3),
          32, portable = true)
        .withColumn("band", ($"seed" / 4).cast("long"))
        .groupBy($"doc_id", $"band")
        .agg(array_join(array_sort(collect_list(
          concat($"seed".cast("string"), lit(":"), $"mh".cast("string")))), ",").as("band_sig"))
        .as[(Long, Long, String)].collect().toSet
      val perRow = graft.streaming.StreamingDedup.bandedDocs(docs, 3, 32, 8)
        .map(b => (b.docId, b.band, b.bandSig)).collect().toSet
      assert(perRow == grouped, s"seed=$seed")
    }
  }

  test("int8 quantization: codes in range, reconstruction error <= scale/254") {
    // symmetric max-abs quantization contract: every code fits int8, the
    // max-|x| element maps to ±127 exactly, and dequantizing (q·s/127)
    // reconstructs each element within half a quantization step (s/254)
    val vecGen = Gen.nonEmptyListOf(Gen.choose(-1e3, 1e3)).map(_.take(16))
    for (seed <- 1L to 5L) {
      val vecs = sample(Gen.nonEmptyListOf(vecGen), seed).take(8)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val rows = df.select($"vec_id", $"v",
        graft.operators.Similarity.quantizeInt8($"v").as("q"))
        .as[(Long, Seq[Double], Seq[Long])].collect()
      for ((_, v, q) <- rows) {
        val s = v.map(math.abs).max
        assert(q.forall(c => c >= -127L && c <= 127L), s"seed=$seed")
        if (s > 0) {
          assert(q.map(math.abs).max == 127L, s"seed=$seed") // range fully used
          v.zip(q).foreach { case (x, c) =>
            assert(math.abs(x - c * s / 127.0) <= s / 254.0 + 1e-9, s"seed=$seed")
          }
        } else assert(q.forall(_ == 0L), s"seed=$seed")
      }
    }
  }

  test("k-core equals the in-memory reference peel on random graphs") {
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(1L, 15L), Gen.chooseNum(1L, 15L)))
    for (seed <- 1L to 5L) {
      val raw = sample(edgeGen, seed).filter { case (a, b) => a != b }
      val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val k = 2 + (seed % 3).toInt
      // reference: sequential peel to fixpoint on the in-memory edge set
      var cur = und
      var done = false
      while (!done) {
        val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
        val keep = deg.filter(_._2 >= k).keys.toSet
        val nxt = cur.filter(e => keep(e._1) && keep(e._2))
        done = nxt == cur
        cur = nxt
      }
      val expect = cur.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = Graphs.kCore(raw.toDF("src", "dst"), k)
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"seed=$seed k=$k: got $got expect $expect")
    }
  }

  test("adamic-adar equals the in-memory reference on random graphs") {
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(1L, 12L)))
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (seed <- 1L to 5L) {
      val raw = sample(edgeGen, seed).filter { case (a, b) => a != b }
      val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val nbr = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val verts = nbr.keys.toSeq.sorted
      val expect = (for {
        x <- verts; y <- verts if x < y && !und((x, y))
        common = nbr(x) & nbr(y) if common.nonEmpty
      } yield {
        val terms = common.toSeq.sorted.map(z => r(1.0 / r(math.log(nbr(z).size.toDouble), 10), 12))
        // mirror the DECIMAL accumulator: exact sum of 12-dp terms, then 8 dp
        val s = terms.map(BigDecimal(_)).sum.toDouble
        (x, y) -> ((common.size.toLong, r(s, 8)))
      }).toMap
      val got = Graphs.adamicAdar(raw.toDF("src", "dst"))
        .as[(Long, Long, Long, Double)].collect()
        .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
      assert(got == expect, s"seed=$seed: got $got expect $expect")
    }
  }

  test("kNN prediction is invariant under train-set row order") {
    val train = Seq(
      (1L, "A", Array(1.0, 0.1)), (2L, "A", Array(0.9, 0.2)),
      (3L, "B", Array(0.1, 1.0)), (4L, "B", Array(0.2, 0.8)))
    val test = Seq((9L, "?", Array(0.95, 0.15))).toDF("id", "label", "vec")
    val p1 = Knn.classify(test, train.toDF("id", "label", "vec"), 3)
      .as[(Long, String)].collect().toMap
    val p2 = Knn.classify(test, train.reverse.toDF("id", "label", "vec"), 3)
      .as[(Long, String)].collect().toMap
    assert(p1 == p2 && p1(9L) == "A")
  }

  test("duplicatedSpans invariants hold for any corpus (coverage bounds, row order)") {
    // span coverage can never exceed the doc; the longest span can never
    // exceed the total coverage; one row per input doc; and the card is
    // invariant under corpus row order (the islands are per-doc windows)
    val corpusGen = Gen.nonEmptyListOf(docGen)
    for (seed <- 1L to 5L) {
      val texts = sample(corpusGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = operators.Dedup.duplicatedSpans(docs.toDF("doc_id", "text"), 2)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      assert(out.length == docs.length, s"seed=$seed")
      out.foreach { case (d, nTok, nSpans, dupTok, maxSpan, ppm) =>
        assert(dupTok <= nTok && maxSpan <= dupTok && ppm <= 1000000L &&
          (nSpans == 0) == (dupTok == 0L), s"seed=$seed doc=$d")
      }
      val rev = operators.Dedup.duplicatedSpans(
          docs.reverse.toDF("doc_id", "text"), 2)
        .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(rev.sameElements(out.sortBy(_._1)), s"seed=$seed order variance")
    }
  }

  test("winnowing density and detection bounds hold for any corpus") {
    // ≤ one fingerprint per full window (density), every first_pos inside
    // the full-window range, and two docs with identical token streams
    // always share their ENTIRE fingerprint set (the w+k-1 guarantee's
    // degenerate strongest case)
    val k = 2; val w = 3
    for (seed <- 11L to 15L) {
      val text = sample(docGen, seed)
      val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val fps = operators.Dedup.winnowFingerprints(docs, k, w)
        .as[(Long, Long, Long)].collect()
      val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nGrams = math.max(0, text.split(" ").length - k + 1)
      if (nGrams >= w) {
        assert(byDoc(1L) == byDoc(2L), s"seed=$seed identical docs diverged")
        assert(byDoc(1L).size <= nGrams - w + 1, s"seed=$seed density")
        fps.foreach { case (_, _, p) =>
          assert(p >= 1 && p <= nGrams - w + 1, s"seed=$seed pos") }
      } else assert(fps.isEmpty, s"seed=$seed sub-window doc fingerprinted")
    }
  }
}
