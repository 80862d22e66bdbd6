package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Contracts of [[Dedup.winnowFingerprints]] / [[Dedup.winnowedOverlapPairs]]
  * (the q211 MOSS pipeline): the paper's detection guarantee (a shared run of
  * ≥ w+k-1 tokens always yields a shared fingerprint), the density bound,
  * set semantics of the fingerprint frame, identical-doc containment, and the
  * hot-fingerprint df guard.
  */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4
  private val W = 4

  // docs 1,2 share EXACTLY w+k-1 = 7 tokens ("s1..s7") inside unrelated
  // contexts — the minimal run the guarantee covers; doc 3 is unrelated.
  private def guaranteeDocs = Seq(
    (1L, "a1 a2 a3 s1 s2 s3 s4 s5 s6 s7 a4 a5 a6"),
    (2L, "b1 b2 b3 b4 s1 s2 s3 s4 s5 s6 s7 b5 b6 b7 b8"),
    (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")
  ).toDF("doc_id", "text")

  test("native WinnowSelect is bit-equal to the HOF twin, including sub-window docs") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 9).map(i => s"w$i")
    val docs = ((1L to 50L).map { id =>
      (id, (1 to (1 + rnd.nextInt(40))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    } :+ (99L, "one two")) // fewer than k tokens → empty fingerprint set
      .toDF("doc_id", "text")
    val native = Dedup.winnowFingerprints(docs, K, W)
      .as[(Long, Long, Long)].collect().toSet
    val hof = TestOracles.winnowFingerprintsHof(docs, K, W)
      .as[(Long, Long, Long)].collect().toSet
    assert(native == hof)
    assert(!native.exists(_._1 == 99L))
  }

  test("winnowing guarantee: a shared w+k-1 run always yields a shared fingerprint") {
    val fps = Dedup.winnowFingerprints(guaranteeDocs, K, W)
      .as[(Long, Long, Long)].collect()
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert((byDoc(2L) intersect byDoc(3L)).isEmpty)
    // set semantics + valid positions: one row per (doc, fp), 1-based first_pos
    // inside the full-window range (n_grams - w + 1 for a doc of n tokens)
    assert(fps.map(r => (r._1, r._2)).distinct.length == fps.length)
    val nGrams = Map(1L -> 10L, 2L -> 12L, 3L -> 7L) // tokens - k + 1
    fps.foreach { case (d, _, p) => assert(p >= 1L && p <= nGrams(d) - (W - 1)) }
    // density: at most one selection per full window
    byDoc.foreach { case (d, s) => assert(s.size <= nGrams(d) - (W - 1)) }
  }

  test("identical docs fingerprint identically: containment is exactly 1e6 ppm") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedOverlapPairs(docs, K, W, minShared = 1L)
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.length == 1)
    val (a, b, _, cont) = pairs.head
    assert((a, b) == ((1L, 2L)) && cont == 1000000L)
  }

  test("maxFpDf drops corpus-wide boilerplate fingerprints before the pair join") {
    val boiler = "copyright footer all rights reserved by the site"
    val docs = Seq(
      (1L, s"u1 u2 u3 shared passage tokens here s4 s5 s6 $boiler"),
      (2L, s"v1 v2 v3 shared passage tokens here s4 s5 s6 $boiler"),
      (3L, s"w1 w2 w3 w4 w5 w6 w7 $boiler"),
      (4L, s"x1 x2 x3 x4 x5 x6 x7 $boiler")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.winnowedOverlapPairs(docs, K, W, minShared = 1L)
      .as[(Long, Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    // boilerplate links everything without the guard
    assert(uncapped.size == 6)
    val capped = Dedup.winnowedOverlapPairs(docs, K, W, minShared = 1L,
        maxFpDf = Some(2L))
      .as[(Long, Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    // with df ≤ 2, the 4-doc boilerplate fps drop; only the real shared
    // passage (docs 1,2) survives
    assert(capped == Set((1L, 2L)))
  }
}
