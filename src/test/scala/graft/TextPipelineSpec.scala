package graft

import graft.operators.TextPipeline
import org.apache.spark.sql.functions._

class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def miniDocs = Seq(
    (1L, "the cat sat"),
    (2L, "the cat ran"),
    (3L, "a dog ran")
  ).toDF("doc_id", "text")

  test("tokenize lowercases, strips punctuation, drops empties") {
    val toks = TextPipeline.tokenize(Seq((1L, "Hello, World!  x2")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toSeq
    assert(toks == Seq((1L, "hello"), (1L, "world"), (1L, "x2")))
  }

  test("term counts match hand count") {
    val counts = TextPipeline.termCounts(TextPipeline.tokenize(miniDocs))
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(counts((1L, "the")) == 1L && counts((2L, "cat")) == 1L && counts((3L, "ran")) == 1L)
    assert(counts.size == 9)
  }

  test("tf is count over doc length; sums to 1 per doc") {
    val tf = TextPipeline.tf(TextPipeline.termCounts(TextPipeline.tokenize(miniDocs)))
    val byDoc = tf.groupBy($"doc_id").agg(sum($"tf").as("s")).as[(Long, Double)].collect().toMap
    assert(byDoc.values.forall(s => math.abs(s - 1.0) < 1e-12))
    val row = tf.filter($"doc_id" === 1L && $"term" === "the").select($"tf").as[Double].head()
    assert(row == 1.0 / 3.0)
  }

  test("idf: reference N/df semantics and log variant") {
    val idf = TextPipeline.idf(TextPipeline.tokenize(miniDocs))
      .select($"term", $"df", $"idf_ref").as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(idf("the") == ((2L, 1.5)))  // N=3, df=2 → 3/2, no logarithm
    assert(idf("dog") == ((1L, 3.0)))
  }

  test("tfidf = tf * idf via broadcast join") {
    val toks = TextPipeline.tokenize(miniDocs)
    val out = TextPipeline.tfidf(TextPipeline.tf(TextPipeline.termCounts(toks)), TextPipeline.idf(toks))
    val v = out.filter($"doc_id" === 3L && $"term" === "dog").select($"tfidf").as[Double].head()
    assert(v == (1.0 / 3.0) * 3.0)
  }

  test("vocab indices are stable lexicographic positions") {
    val v = TextPipeline.vocab(TextPipeline.tokenize(miniDocs))
      .as[(String, Long)].collect().toMap
    assert(v == Map("a" -> 1L, "cat" -> 2L, "dog" -> 3L, "ran" -> 4L, "sat" -> 5L, "the" -> 6L))
  }

  test("docVectors renders sorted idx:scaled entries") {
    val toks = TextPipeline.tokenize(Seq((1L, "b a")).toDF("doc_id", "text"))
    val tfidf = TextPipeline.tfidf(TextPipeline.tf(TextPipeline.termCounts(toks)), TextPipeline.idf(toks))
    val vec = TextPipeline.docVectors(tfidf, TextPipeline.vocab(toks))
      .select($"vec").as[String].head()
    // tf = 0.5 each, idf = 1.0 each → 0.5*1e6 = 500000
    assert(vec == "1:500000 2:500000")
  }

  test("LSA power iteration recovers a rank-1 matrix's singular vector exactly") {
    // A = a·bᵀ with a=(1,2), b=(3,4): the top right-singular vector is
    // b/|b| = (0.6, 0.8) in closed form, reached EXACTLY after one round
    // (v0=(1,1): u=(7,14); Aᵀu=(105,140); norm=175) and stable thereafter
    val cells = Seq(
      (1L, "x", 3.0), (1L, "y", 4.0),
      (2L, "x", 6.0), (2L, "y", 8.0)
    ).toDF("doc_id", "term", "w")
    for (iters <- Seq(1, 4)) {
      val v = graft.ml.Lsa.topSingular(cells, iters)
        .as[(String, Double)].collect().toMap
      assert(v == Map("x" -> 0.6, "y" -> 0.8), s"iters=$iters")
    }
  }

  test("LSA deflation recovers the second singular direction of a diagonal matrix") {
    // A = diag(3, 2, 1) over terms x,y,z: v1 = e_x exactly, and after
    // deflating λ₁ = 9 the second component must converge to e_y — unit
    // norm, orthogonal to v1, nothing on x or z beyond rounding dust.
    val cells = Seq(
      (1L, "x", 3.0), (2L, "y", 2.0), (3L, "z", 1.0)
    ).toDF("doc_id", "term", "w")
    val v1 = graft.ml.Lsa.topSingular(cells, 8).as[(String, Double)].collect().toMap
    assert(math.abs(v1("x")) > 0.999 && math.abs(v1("y")) < 0.03 && math.abs(v1("z")) < 0.03)
    val v2 = graft.ml.Lsa.secondSingular(cells, 8).as[(String, Double)].collect().toMap
    assert(math.abs(v2("y")) > 0.999, s"expected e_y, got $v2")
    assert(math.abs(v2("x")) < 0.03 && math.abs(v2("z")) < 0.03, s"got $v2")
    val dot = Seq("x", "y", "z").map(t => v1(t) * v2(t)).sum
    assert(math.abs(dot) < 0.05, s"components not orthogonal: dot=$dot")
  }

  test("LSA topK recovers all three axes of a diagonal matrix, pairwise orthogonal") {
    // A = diag(3, 2, 1): components must come out in eigenvalue order
    // e_x, e_y, e_z, each unit-norm and orthogonal to the others.
    val cells = Seq(
      (1L, "x", 3.0), (2L, "y", 2.0), (3L, "z", 1.0)
    ).toDF("doc_id", "term", "w")
    val comps = graft.ml.Lsa.topK(cells, k = 3, iterations = 8)
      .as[(Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(comps.keySet == Set(1L, 2L, 3L))
    for ((c, axis) <- Seq(1L -> "x", 2L -> "y", 3L -> "z")) {
      assert(math.abs(comps(c)(axis)) > 0.999, s"component $c should be e_$axis: ${comps(c)}")
      for (other <- Seq("x", "y", "z") if other != axis)
        assert(math.abs(comps(c)(other)) < 0.05, s"component $c leaked onto $other: ${comps(c)}")
    }
    for (a <- 1L to 3L; b <- (a + 1) to 3L) {
      val dot = Seq("x", "y", "z").map(t => comps(a)(t) * comps(b)(t)).sum
      assert(math.abs(dot) < 0.05, s"components $a,$b not orthogonal: dot=$dot")
    }
  }

  test("PCA recovers a rank-1 direction exactly and scores centered projections") {
    // points t·(3,4) for t ∈ {1,2,3}: centered data is {−1,0,1}·(3,4), the
    // covariance is rank-1 along (3,4), and one power round from (1,1)
    // lands exactly on (0.6, 0.8). Scores are the centered projections:
    // ∓5 at the ends, 0 at the mean.
    val emb = Seq(
      (1L, Array(3.0, 4.0)), (2L, Array(6.0, 8.0)), (3L, Array(9.0, 12.0))
    ).toDF("vec_id", "embedding")
    val comp = graft.ml.Pca.topComponent(emb, iterations = 4)
      .as[(Long, Double)].collect().toMap
    assert(comp == Map(1L -> 0.6, 2L -> 0.8), s"got $comp")
    val scores = graft.ml.Pca.projectTop(emb, iterations = 4)
      .as[(Long, Double)].collect().toMap
    assert(scores == Map(1L -> -5.0, 2L -> 0.0, 3L -> 5.0), s"got $scores")
  }

  test("PCA topK deflates to orthogonal unit components and memo-shares with topComponent") {
    SessionMemo.clear()
    // two independent axes with distinct variances: points sit ON the axes
    // (±2·e_y, ±1·e_x), so the covariance is exactly diag(0.5, 2) —
    // component 1 along y, component 2 along x after deflation
    def emb = Seq(
      (1L, Array(0.0, 2.0)), (2L, Array(0.0, -2.0)),
      (3L, Array(1.0, 0.0)), (4L, Array(-1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val comps = graft.ml.Pca.topK(emb, k = 2, iterations = 6)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (c, rs) => c -> rs.map(r => r._2 -> r._3).toMap }
    assert(comps.keySet == Set(1L, 2L))
    for (c <- 1L to 2L) {
      val n = comps(c).values.map(w => w * w).sum
      assert(math.abs(n - 1.0) < 1e-6, s"component $c not unit norm: $n")
    }
    // finite power iteration converges at rate (λ₂/λ₁)^r = (2/8)^6 ≈ 2e-4;
    // the residual leakage bounds orthogonality, not machine epsilon
    val dot = (1L to 2L).map(p => comps(1L)(p) * comps(2L)(p)).sum
    assert(math.abs(dot) < 1e-3, s"components not orthogonal: dot=$dot")
    // diagonal covariance: component 1 is ±y, component 2 is ±x (up to the
    // same convergence residual)
    assert(math.abs(math.abs(comps(1L)(2L)) - 1.0) < 1e-3, s"c1=${comps(1L)}")
    assert(math.abs(math.abs(comps(2L)(1L)) - 1.0) < 1e-3, s"c2=${comps(2L)}")
    // memo sharing: topComponent over the same plan returns component 1 bit-equal
    val top = graft.ml.Pca.topComponent(emb, iterations = 6)
      .as[(Long, Double)].collect().toMap
    assert(top == comps(1L), "topComponent must reuse the memoized component 1")
    SessionMemo.clear()
  }

  test("LSA memoizes extracted components per (session, plan, iterations)") {
    // same cells plan → topSingular, secondSingular and topK(3) share the
    // underlying factorization: component 1 from topK must be bit-equal to
    // topSingular's result (the memo returned the SAME checkpointed frame)
    SessionMemo.clear()
    def cells = Seq(
      (1L, "x", 3.0), (1L, "y", 1.0), (2L, "y", 2.0), (3L, "z", 1.0)
    ).toDF("doc_id", "term", "w")
    val v1 = graft.ml.Lsa.topSingular(cells, 4).as[(String, Double)].collect().toMap
    val topk = graft.ml.Lsa.topK(cells, k = 2, iterations = 4)
      .as[(Long, String, Double)].collect()
    val k1 = topk.filter(_._1 == 1L).map(r => r._2 -> r._3).toMap
    assert(k1 == v1, "topK component 1 must reuse the memoized topSingular iterate")
    val v2 = graft.ml.Lsa.secondSingular(cells, 4).as[(String, Double)].collect().toMap
    val k2 = topk.filter(_._1 == 2L).map(r => r._2 -> r._3).toMap
    assert(k2 == v2, "secondSingular must reuse the memoized component 2")
    SessionMemo.clear()
  }
}
