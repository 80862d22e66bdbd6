package graft

import graft.operators.TextStats

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("quality stats: hand-computed ratios") {
    val docs = Seq((1L, "The cat cat!")).toDF("doc_id", "text")
    val q = TextStats.quality(docs).collect().head
    assert(q.getAs[Long]("n_tokens") == 3L)
    assert(q.getAs[Long]("n_distinct") == 2L)
    assert(q.getAs[Double]("ttr") == 2.0 / 3.0)
    assert(q.getAs[Double]("avg_token_len") == 3.0)          // (3+3+3)/3
    assert(q.getAs[Double]("stopword_ratio") == 1.0 / 3.0)   // "the"
    // raw len 12, clean strips 'T'→t? lower() first: "the cat cat!" → strips '!' → 11
    assert(q.getAs[Double]("nonalnum_ratio") == 1.0 / 12.0)
    assert(q.getAs[Double]("quality") ==
      (2.0 / 3.0) * 0.4 + (3.0 / 100.0) * 0.4 + (1.0 - 1.0 / 3.0) * 0.2)
  }

  test("language id picks the marker-richest language, deterministic ties") {
    val docs = Seq(
      (1L, "the cat and the dog is here"),   // en markers
      (2L, "der hund und die katze ist da"), // de markers
      (3L, "xyzzy qwerty")                   // no markers → und
    ).toDF("doc_id", "text")
    val pred = TextStats.languageId(docs)
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    assert(pred == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val docs = Seq((1L, "hello world-42 ok")).toDF("doc_id", "text")
    val r = TextStats.tokenCounts(docs).as[(Long, Long, Long)].collect().head
    assert(r._2 == 3L) // whitespace tokens
    assert(r._3 == 5L) // hello | world | - | 42 | ok
  }

  test("fingerprint: hand-computed rolling hash") {
    val docs = Seq((1L, "ab cd"), (2L, ""), (3L, "ab")).toDF("doc_id", "text")
    val fp = TextStats.fingerprint(docs).as[(Long, Long)].collect().toMap
    // vals: ab → 2*31+97 = 159, cd → 2*31+99 = 161; fold: 159*131+161 = 20990
    assert(fp(1L) == 20990L)
    assert(fp(2L) == 0L)
    assert(fp(3L) == 159L)
  }

  test("char-LM perplexity equals an in-memory reference and ranks gibberish above prose") {
    val texts = Map(
      1L -> "the cat sat on the mat and the dog sat on the rug",
      2L -> "the rat sat on the mat and the cat ran to the dog",
      3L -> "zq xv jw qk zx vq wj kq xz qv",  // gibberish: unseen-elsewhere trigrams
      4L -> "no")                              // < 3 chars after normalize → dropped
    val docs = texts.toSeq.map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text")
    val out = TextStats.charLmPerplexity(docs)
      .as[(Long, String, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._3, r._4, r._5)).toMap

    // independent in-memory reference of the full train+score chain
    val clean = texts.view.mapValues(
      _.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim)
      .toMap.filter(_._2.length >= 3)
    val docTris = clean.view.mapValues(c => (0 to c.length - 3).map(i => c.substring(i, i + 3))).toMap
    val cnt = docTris.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = cnt.values.sum
    val d = cnt.size
    def logp(tg: String) =
      BigDecimal(math.log((cnt(tg) + 1).toDouble / (total + d).toDouble))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    for ((id, tris) <- docTris) {
      val s = tris.map(logp).sum.toDouble
      val nll = -s / tris.size
      val (nTri, avgNll, ppl) = out(id)
      assert(nTri == tris.size.toLong, s"doc $id")
      assert(math.abs(avgNll - nll) < 1e-8, s"doc $id: $avgNll vs $nll")
      assert(math.abs(ppl - math.exp(nll)) < 1e-6, s"doc $id")
    }
    assert(!out.contains(4L))
    // the filter signal: out-of-distribution text scores far above prose
    assert(out(3L)._3 > 2 * out(1L)._3 && out(3L)._3 > 2 * out(2L)._3)
  }

  test("stupid backoff: every branch hand-computed on a holdout split") {
    // train: "a b a", "a b c" → uni a:3 b:2 c:1, N=6;
    // bigrams (a,b):2 (b,a):1 (b,c):1
    val train = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b a"), // all seen: ln(3/6), ln(2/3), ln(1/2)
      (11L, "c a"),   // unseen bigram (c,a), a seen: ln(1/6), ln(0.4*3/6)
      (12L, "z b"),   // OOV start z: ln(0.4/6); (z,b) unseen, b seen: ln(0.4*2/6)
      (13L, "b z")    // seen start: ln(2/6); (b,z) unseen, z OOV: ln(0.4*0.4/6)
    ).toDF("doc_id", "text")
    val got = TextStats.stupidBackoff(score, train).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def mean(terms: Seq[Double]) =
      (terms.map(r12).sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) == ((3L,
      mean(Seq(math.log(3.0 / 6), math.log(2.0 / 3), math.log(1.0 / 2))))), s"${got(10L)}")
    assert(got(11L) == ((2L,
      mean(Seq(math.log(1.0 / 6), math.log(0.4 * 3.0 / 6))))), s"${got(11L)}")
    assert(got(12L) == ((2L,
      mean(Seq(math.log(0.4 / 6), math.log(0.4 * 2.0 / 6))))), s"${got(12L)}")
    assert(got(13L) == ((2L,
      mean(Seq(math.log(2.0 / 6), math.log(0.4 * 0.4 / 6))))), s"${got(13L)}")
  }

  test("Kneser-Ney: every branch hand-computed on a holdout split") {
    // train: "a b a", "a b c" → bigram types (a,b):2 (b,a):1 (b,c):1, B=3;
    // ctx: a→(cctx 2, n1f 1), b→(cctx 2, n1f 2); n1b: a,b,c all 1.
    val train = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b a"), // doc-start Pcont; seen bigram; interpolated unseen-mass path
      (11L, "c a"),   // c is never a context → falls through to Pcont(a)
      (12L, "z b"),   // z OOV continuation → floor D/B; z OOV context → Pcont(b)
      (13L, "b z")    // seen context b, unseen bigram, z's Pcont is the floor
    ).toDF("doc_id", "text")
    val got = TextStats.kneserNey(score, train).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def mean(terms: Seq[Double]) =
      (terms.map(r12).sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pc13 = r12(1.0 / 3).toDouble   // Pcont pre-rounded at 12 dp, as in the plan
    val pcF = r12(0.75 / 3).toDouble   // continuation floor D/B
    assert(got(10L) == ((3L, mean(Seq(
      math.log(pc13),
      math.log((math.max(2 - 0.75, 0) + 0.75 * 1 * pc13) / 2),
      math.log((math.max(1 - 0.75, 0) + 0.75 * 2 * pc13) / 2))))), s"${got(10L)}")
    assert(got(11L) == ((2L, mean(Seq(math.log(pc13), math.log(pc13))))), s"${got(11L)}")
    assert(got(12L) == ((2L, mean(Seq(math.log(pcF), math.log(pc13))))), s"${got(12L)}")
    assert(got(13L) == ((2L, mean(Seq(
      math.log(pc13),
      math.log((0.0 + 0.75 * 2 * pcF) / 2))))), s"${got(13L)}")
  }

  test("char entropy: hand-computed distributions") {
    val docs = Seq(
      (1L, "aaaa"),          // single symbol → 0 nats
      (2L, "ab"),            // uniform over 2 → ln 2
      (3L, "aab"),           // 2/3, 1/3
      (4L, "!!!")            // cleans to empty → dropped
    ).toDF("doc_id", "text")
    val got = TextStats.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def h(counts: Seq[Int]): Double = {
      val l = counts.sum.toDouble
      val s = counts.map(c => r(c * math.log(c), 12)).sum
      r(r(math.log(l), 12) - s / l, 6)
    }
    assert(got(1L) == ((4L, 1L, h(Seq(4)))) && got(1L)._3 == 0.0d)
    assert(got(2L) == ((2L, 2L, h(Seq(1, 1)))))
    assert(math.abs(got(2L)._3 - math.log(2)) < 1e-6)
    assert(got(3L) == ((3L, 2L, h(Seq(2, 1)))))
    assert(!got.contains(4L))
  }

  test("char entropy: native kernel is bit-equal to the HOF twin on the corpus shape") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefg 0123"
    val docs = (1L to 60L).map(id =>
      (id, (1 to (3 + rnd.nextInt(120))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString))
      .toDF("doc_id", "text")
    val native = TextStats.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val hof = TestOracles.charEntropyHof(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(native == hof)
  }

  test("self-BLEU: identical docs score 1, disjoint vocab scores 0, partial overlap matches an in-memory reference") {
    // 6 docs: four copies of the same text, one partial overlap, one
    // disjoint. panelSize=3 → the hash picks 3 refs; every candidate's
    // score is recomputed by an independent in-memory BLEU-2.
    val texts = Map(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the mat",
      3L -> "the cat sat on the mat",
      4L -> "the cat sat on the mat",
      5L -> "the dog sat on a rug today ok",
      6L -> "zq xv jw qk")
    val docs = texts.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val got = graft.operators.TextStats.selfBleu(docs, panelSize = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == 3, s"3 candidates expected, got ${got.keySet}")
    // independent reference: recompute the panel (bottom-3 by h60) and BLEU
    def tok(t: String) = t.split(" ").toSeq
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16)
    }
    val panel = texts.keys.toSeq.sortBy(id => (h60(s"sb:$id"), id)).take(3)
    def grams(tk: Seq[String], n: Int) = tk.sliding(n).map(_.mkString(" ")).toSeq
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def refBleu(cand: Seq[String]): Double = {
      val refs = panel.map(id => tok(texts(id)))
      def prec(n: Int): (Long, Long) = {
        val cg = grams(cand, n).groupBy(identity).view.mapValues(_.size).toMap
        val mc = refs.map(rt => grams(rt, n).groupBy(identity).view.mapValues(_.size).toMap)
        val num = cg.map { case (g, c) => math.min(c, mc.map(_.getOrElse(g, 0)).max) }.sum
        (num.toLong, cg.values.sum.toLong)
      }
      val (n1, d1) = prec(1); val (n2, d2) = prec(2)
      if (n1 == 0 || n2 == 0) 0d
      else {
        val cl = cand.length.toLong
        val rl = refs.map(_.length.toLong).minBy(l => (math.abs(l - cl), l))
        val bp = if (cl >= rl) 1d else r(math.exp(1d - rl.toDouble / cl), 12)
        r(bp * math.exp((r(math.log(n1.toDouble / d1), 12) + r(math.log(n2.toDouble / d2), 12)) / 2d), 6)
      }
    }
    for ((id, bleu) <- got)
      assert(bleu == refBleu(tok(texts(id))), s"doc $id: got $bleu, want ${refBleu(tok(texts(id)))}")
    // the semantic anchors: a candidate identical to a panel doc scores 1
    // (all four copies can't fit in a 3-doc panel, so at least one is a
    // candidate); the disjoint-vocab doc scores 0 if it was a candidate
    val copyCand = Seq(1L, 2L, 3L, 4L).filterNot(panel.contains)
    assert(copyCand.nonEmpty && got(copyCand.head) == 1.0d)
    if (!panel.contains(6L)) assert(got(6L) == 0.0d)
  }

  test("Jelinek-Mercer EM: likelihood non-decreasing, lambda follows bigram predictiveness") {
    // holdout bigrams all seen in train → EM should push λ UP from 0.5
    val train = Seq((2L, "a b c d a b c d a b c d")).toDF("doc_id", "text")
    val holdIn = Seq((1L, "a b c d a b")).toDF("doc_id", "text")
    val up = TextStats.jelinekMercer(holdIn, train, rounds = 3)
      .orderBy("em_round").collect()
    assert(up.map(_.getDouble(1)).toSeq == up.map(_.getDouble(1)).toSeq.sorted
      && up.last.getDouble(1) > 0.5, "lambda should grow on predictive bigrams")
    assert(up.map(_.getDouble(2)).toSeq == up.map(_.getDouble(2)).toSeq.sorted,
      "EM likelihood must be non-decreasing")
    // holdout with NO train bigrams → p_bi = 0 everywhere → λ collapses to 0
    val holdOut = Seq((3L, "d c b a")).toDF("doc_id", "text")
    val down = TextStats.jelinekMercer(holdOut, train, rounds = 2)
      .orderBy("em_round").collect()
    assert(down.forall(_.getDouble(1) == 0.0d), "no seen bigram -> gamma 0 -> lambda 0")
  }

  test("Kneser-Ney ranks by continuation count, not raw frequency (the francisco property)") {
    // "francisco" appears 4× but only ever after "san" (1 context);
    // "common" appears 3× across 3 distinct contexts. Under an OOV context
    // both words score Pcont, so KN must rank common ABOVE francisco —
    // the exact inversion a raw-unigram backoff (q132) cannot produce.
    val train = Seq(
      (1L, "san francisco san francisco san francisco san francisco"),
      (2L, "a common b common c common")).toDF("doc_id", "text")
    val score = Seq((10L, "zz francisco"), (11L, "zz common")).toDF("doc_id", "text")
    val kn = TextStats.kneserNey(score, train).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(11L) > kn(10L), s"common ${kn(11L)} should outrank francisco ${kn(10L)}")
    val sb = TextStats.stupidBackoff(score, train).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sb(10L) > sb(11L), "stupid backoff ranks by raw count — the contrast KN fixes")
  }
}
