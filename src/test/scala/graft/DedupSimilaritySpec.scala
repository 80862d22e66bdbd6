package graft

import graft.ml.TopK
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // doc 1 ≡ doc 2 (exact after normalization), doc 3 near-dup of 1, doc 4 unrelated
  private def docs = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog today"),
    (2L, "en", "The quick brown fox jumps over the lazy dog today!"),
    (3L, "en", "the quick brown fox jumps over the lazy cat today"),
    (4L, "en", "completely different content with no overlap at all whatsoever")
  ).toDF("doc_id", "lang", "text")

  test("exact dedup groups normalized-identical docs") {
    val groups = Dedup.exact(docs).as[(String, Long, Long)].collect()
    val dup = groups.filter(_._3 > 1)
    assert(dup.length == 1 && dup.head._2 == 1L && dup.head._3 == 2L)
  }

  test("n-gram jaccard: hand-computed similarity for the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.1)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // docs 1,2 identical: 8 trigrams, jaccard 1.0
    assert(pairs((1L, 2L)) == ((8L, 1.0)))
    // docs 1,3 differ in token 9 ("dog"→"cat"): shared trigrams = 6 of 10 distinct
    assert(pairs((1L, 3L))._2 == 6.0 / 10.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("minhash LSH finds the exact and near duplicates, with true jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1.0)  // identical docs always collide in every band
    pairs.get((1L, 3L)).foreach(j => assert(j == 0.6)) // found iff a band collides
    assert(!pairs.contains((1L, 4L)))
  }

  test("simhash: identical docs get identical fingerprints, near-dups are close") {
    val fp = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    val dist13 = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    val dist14 = java.lang.Long.bitCount(fp(1L) ^ fp(4L))
    assert(dist13 < dist14)
    val pairs = Dedup.simhashPairs(docs, maxDist = dist13)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
  }

  test("native per-row simhash equals the grouped aggregation pipeline") {
    val real = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    for (portable <- Seq(true, false)) {
      val native = Dedup.simhash(real, portable).as[(Long, Long)].collect().toMap
      val grouped = Dedup.simhashGrouped(real, portable).as[(Long, Long)].collect().toMap
      assert(native == grouped && native.nonEmpty, s"portable=$portable")
    }
    // token-less docs: both forms emit no row
    val blank = Seq((1L, "..."), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.simhash(blank).as[(Long, Long)].collect().toMap.keySet == Set(2L))
  }

  test("simhash banded candidate generation is lossless vs all-pairs") {
    // 60 docs drawn from a small pool with point mutations → correlated
    // fingerprints and real near-dup clusters, the adversarial case for
    // banding. Brute-force all-pairs hamming is recomputed locally.
    val pool = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val many = (0 until 60).map { i =>
      val base = (0 until 12).map(j => pool((i / 6 + j) % pool.length))
      val txt = if (i % 3 == 0) base.updated(5, pool((i + 3) % pool.length)) else base
      (i.toLong, if (i % 2 == 0) "en" else "de", txt.mkString(" "))
    }.toDF("doc_id", "lang", "text")
    for (portable <- Seq(false, true); maxDist <- Seq(2, 4, 8)) {
      val fps = Dedup.simhash(many, portable).as[(Long, Long)].collect().toMap
      val langOf = many.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
      val expected = (for {
        a <- fps.keys; b <- fps.keys
        if a < b && langOf(a) == langOf(b) &&
          java.lang.Long.bitCount(fps(a) ^ fps(b)) <= maxDist
      } yield (a, b)).toSet
      val banded = Dedup.simhashPairs(many, maxDist, portable, maxBucketSize = None)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
      assert(banded == expected, s"portable=$portable maxDist=$maxDist")
    }
  }

  test("simhash bucket cap drops boilerplate floods, keeps sparse-bucket pairs") {
    // 70 byte-identical docs flood every band bucket past the cap; one true
    // near-dup pair with unrelated text lives in sparse buckets. Capped
    // semantics: a pair survives iff SOME band bucket it agrees in is ≤ cap.
    val flood = (1L to 70L).map(i => (i, "en",
      "identical boilerplate header repeated across the whole crawl segment"))
    val neardup = Seq(
      (901L, "en", "rare astronomy treatise about stellar parallax measurement"),
      (902L, "en", "rare astronomy treatise about stellar parallax measurements"))
    val fixture = (flood ++ neardup).toDF("doc_id", "lang", "text")
    val capped = Dedup.simhashPairs(fixture, maxDist = 8, maxBucketSize = Some(64))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    // every flood pair agreed only in >cap buckets → gone (exact dedup's job);
    // the near-dup pair's sparse buckets survive
    assert(capped == Set((901L, 902L)))
    val uncapped = Dedup.simhashPairs(fixture, maxDist = 8, maxBucketSize = None)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(uncapped.size == 70 * 69 / 2 + 1)
  }

  test("minhash LSH bucket cap drops boilerplate floods, keeps sparse-bucket pairs") {
    val flood = (1L to 70L).map(i => (i, "en",
      "identical boilerplate header repeated across the whole crawl segment"))
    val base = "rare astronomy treatise about stellar parallax measurement " +
      "with detailed tables of nearby star distances and proper motions compiled"
    val neardup = Seq((901L, "en", s"$base today"), (902L, "en", s"$base now"))
    val fixture = (flood ++ neardup).toDF("doc_id", "lang", "text")
    val capped = Dedup.minhashLshPairs(fixture, threshold = 0.5, maxBucketSize = Some(64))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(capped == Set((901L, 902L)))
    val uncapped = Dedup.minhashLshPairs(fixture, threshold = 0.5, maxBucketSize = None)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(uncapped.size == 70 * 69 / 2 + 1)
  }

  test("absolute shingle-df cap composes with (and defaults like) the frac cap") {
    val boiler = "this document is provided as is without warranty"
    val fixture = (Seq(
      (1L, "en", s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, "en", s"$boiler alpha beta gamma delta epsilon eta")) ++
      (3L to 8L).map(i => (i, "en", s"$boiler unique$i content$i words$i here$i now$i end$i"))
    ).toDF("doc_id", "lang", "text")
    // absolute cap at df ≤ 2: the 8-doc boilerplate shingles drop, the df=2
    // shared content of the true near-dup pair survives
    val capped = Dedup.ngramJaccardPairs(fixture, n = 3, threshold = 0.1,
      maxShingleDf = Some(2))
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(capped == Set((1L, 2L)))
    // both knobs set: hot = union of either condition (frac catches the
    // boilerplate here; the loose absolute cap adds nothing)
    val both = Dedup.ngramJaccardPairs(fixture, n = 3, threshold = 0.1,
      maxShingleDocFrac = Some(0.5), maxShingleDf = Some(1000))
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(both == Set((1L, 2L)))
  }


  test("prefix filtering is lossless vs the exhaustive jaccard join") {
    // a corpus with near-dups, an unrelated doc, and a pair whose ONLY
    // shared shingles are corpus-common (rare-first prefixes prune their
    // candidate) — the pruned pair is exactly one the threshold rejects
    val corpus = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog today"),
      (2L, "en", "the quick brown fox jumps over the lazy dog today"),
      (3L, "en", "the quick brown fox jumps over the lazy cat today"),
      (4L, "en", "completely different content with no overlap at all whatsoever"),
      (5L, "en", "the quick brown mouse sat under a red tree quietly"),
      (6L, "en", "the quick brown stone lay beside a blue river calmly")
    ).toDF("doc_id", "lang", "text")
    for (t <- Seq(0.2, 0.4, 0.6)) {
      val exhaustive = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = t)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      val prefixed = Dedup.prefixJaccardPairs(corpus, n = 3, threshold = t)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(prefixed == exhaustive, s"t=$t: $prefixed vs $exhaustive")
    }
  }

  test("degenerate prefix threshold refused") {
    intercept[IllegalArgumentException](
      Dedup.prefixJaccardPairs(docs, threshold = 0.0))
  }

  test("minhash portable mode finds the same pairs with md5-60 hashes") {
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.5, portable = true)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("hot-shingle cap prunes boilerplate-only matches, keeps true near-dups") {
    // every doc shares a boilerplate opening (a hot shingle in 100% of docs);
    // docs 1/2 are genuine near-dups beyond it, docs 3..8 are unrelated
    val boiler = "this document is provided as is without warranty"
    val fixture = (Seq(
      (1L, "en", s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, "en", s"$boiler alpha beta gamma delta epsilon eta")) ++
      (3L to 8L).map(i => (i, "en", s"$boiler unique$i content$i words$i here$i now$i end$i"))
    ).toDF("doc_id", "lang", "text")
    val uncapped = Dedup.ngramJaccardPairs(fixture, n = 3, threshold = 0.1)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    // without the cap, boilerplate alone pushes unrelated docs over threshold
    assert(uncapped.exists { case (a, b) => a >= 3L || b >= 3L })
    val capped = Dedup.ngramJaccardPairs(fixture, n = 3, threshold = 0.1,
      maxShingleDocFrac = Some(0.5))
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    // with shingles in >50% of docs dropped, only the true near-dup survives
    assert(capped == Set((1L, 2L)))
  }

  test("segment-blocked edit distance equals all-pairs, including indel shifts") {
    // mutations exercise every pigeonhole case: substitution, deletion and
    // insertion (which displace segment copies), plus unrelated strings
    val base = "abcdefghijklmnopqrstuvwxyz0123456789abcd" // 40 chars
    val fixture = Seq(
      (1L, "en", base),
      (2L, "en", base.updated(5, 'X').toString),              // 1 substitution
      (3L, "en", base.take(3) + base.drop(4)),                // 1 deletion
      (4L, "en", base.take(30) + "ZZ" + base.drop(30)),       // 2 insertions
      (5L, "en", "a completely different forty char string"),
      (6L, "de", base)                                        // other block
    ).toDF("doc_id", "lang", "text")
    for (maxDist <- Seq(2, 4)) {
      val got = Dedup.editDistancePairs(fixture, prefixLen = 40, maxDist = maxDist)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val rows = fixture.as[(Long, String, String)].collect()
      val expected = (for {
        (ia, la, ta) <- rows; (ib, lb, tb) <- rows
        if ia < ib && la == lb
        dist = {
          val (a, b) = (ta.take(40), tb.take(40))
          val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j => 0))
          for (i <- 0 to a.length) dp(i)(0) = i
          for (j <- 0 to b.length) dp(0)(j) = j
          for (i <- 1 to a.length; j <- 1 to b.length)
            dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
              dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          dp(a.length)(b.length).toLong
        }
        if dist <= maxDist
      } yield (ia, ib) -> dist).toMap
      assert(got == expected, s"maxDist=$maxDist")
    }
  }

  test("segment-blocked edit distance handles short and ragged-length strings") {
    // strings shorter than the later segment offsets (and shorter than
    // maxDist+1) — the degenerate regime for fixed-offset segmentation
    val fixture = Seq(
      (1L, "en", "abcdefghij"),              // 10 chars
      (2L, "en", "abcdeXghij"),              // 1 sub of doc 1
      (3L, "en", "abcdefghijklmnop"),        // 16 chars (len gap 6 > d from doc 1)
      (4L, "en", "abcdefghijklmnoX"),        // 1 sub of doc 3
      (5L, "en", "ab"),                      // tiny
      (6L, "en", "abc"),                     // tiny, dist 1 from doc 5
      (7L, "en", ""),                        // empty
      (8L, "en", "zzzzzzzzzz")               // unrelated 10 chars
    ).toDF("doc_id", "lang", "text")
    for (maxDist <- Seq(1, 2, 4)) {
      val got = Dedup.editDistancePairs(fixture, prefixLen = 40, maxDist = maxDist)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val rows = fixture.as[(Long, String, String)].collect()
      val expected = (for {
        (ia, _, ta) <- rows; (ib, _, tb) <- rows
        if ia < ib
        dist = {
          val (a, b) = (ta.take(40), tb.take(40))
          val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
            if (i == 0) j else if (j == 0) i else 0 }
          for (i <- 1 to a.length; j <- 1 to b.length)
            dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
              dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          dp(a.length)(b.length).toLong
        }
        if dist <= maxDist
      } yield (ia, ib) -> dist).toMap
      assert(got == expected, s"maxDist=$maxDist")
    }
  }

  test("fuzz: segment-blocked edit distance equals DP all-pairs on random corpora") {
    // deterministic seeds; alphabet of 2 symbols + lengths 0..25 force dense
    // near-dup structure, hitting every geometry case (tiny bucket, ragged
    // lengths, shifts) far beyond the hand fixtures
    def lev(a: String, b: String): Long = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length).toLong
    }
    for (seed <- 1 to 2; maxDist <- Seq(1, 3)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (1 to 40).map { i =>
        val len = rnd.nextInt(26)
        (i.toLong, if (i % 2 == 0) "en" else "de",
          (1 to len).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString)
      }
      val df = corpus.toDF("doc_id", "lang", "text")
      val got = Dedup.editDistancePairs(df, prefixLen = 20, maxDist = maxDist)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val expected = (for {
        (ia, la, ta) <- corpus; (ib, lb, tb) <- corpus
        if ia < ib && la == lb
        d = lev(ta.take(20), tb.take(20))
        if d <= maxDist
      } yield (ia, ib) -> d).toMap
      assert(got == expected, s"seed=$seed maxDist=$maxDist")
    }
  }

  test("degenerate configs are refused, single-band simhash mask is correct") {
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(docs, prefixLen = 3, maxDist = 4)
    }
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(docs, k = 0)
    }
    intercept[IllegalArgumentException] {
      graft.ml.Logistic.train(docs, lr = Double.NaN, iterations = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, numHashes = 8, bands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxDist = 64, portable = false)
    }
    // maxDist=0 non-portable: one 64-bit band — 1L<<64 wraps in Scala, so the
    // mask must be all-ones, making this exact-fingerprint dedup (docs 1≡2)
    val exact = Dedup.simhashPairs(docs, maxDist = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(exact == Set((1L, 2L)))
  }

  test("minhash signatures: numHashes rows per doc, stable across runs") {
    val sh = Dedup.shingleSet(docs, 3)
    val sig1 = Dedup.minhashSignatures(sh, 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(sig1.groupBy(_._1).forall(_._2.size == 16))
    val sig2 = Dedup.minhashSignatures(Dedup.shingleSet(docs, 3), 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(sig1 == sig2)
    // identical docs → identical signatures
    val byDoc = sig1.groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3))).toMap
    assert(byDoc(1L) == byDoc(2L))
  }

  test("LSH buckets are deterministic and repetitions use independent planes") {
    val emb = Seq((1L, Array(0.5f, -0.2f, 0.9f)), (2L, Array(-0.1f, 0.8f, 0.3f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", Similarity.quantize($"embedding".cast("array<double>")).as("qv"))
    def buckets(rep: Int) =
      emb.select($"vec_id", Similarity.lshBucket($"qv", 8, rep, 3).as("b"))
        .as[(Long, Long)].collect().toMap
    val b1 = buckets(0)
    assert(b1 == buckets(0))
    assert(b1.values.forall(b => b >= 0 && b < 256))
    // ADVICE fix pinned: some rep in 1..4 must partition differently from rep 0
    // (previously all reps shared one plane set, making the union a no-op)
    assert((1 to 4).exists(r => buckets(r) != b1))
  }

  test("plane signs vary by rep, plane and dim, and match the md5-60 parity") {
    val signs = for (r <- 0 to 2; p <- 0 to 2; d <- 0 to 2)
      yield Similarity.planeSign(r, p, d)
    assert(signs.toSet == Set(1L, -1L))
    // parity must equal Exprs.h60(concat) & 1 — the contract the SQL mirror uses
    val fromExpr = spark.range(1)
      .select(graft.functions.Exprs.h60(lit("1:2:3")).bitwiseAND(lit(1L)))
      .as[Long].head()
    assert(Similarity.planeSign(1, 2, 3) == (if (fromExpr == 1L) 1L else -1L))
  }

  test("brute-force top-k: hand-checked neighbor order") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.6f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.99f, 0.01f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteTopK(emb.filter($"vec_id" === 1L), emb, k = 2)
      .orderBy($"rk").as[(Long, Long, Double, Long)].collect()
    assert(top.map(_._2).toSeq == Seq(4L, 2L)) // cos(1,4)≈0.99995 > cos(1,2)=0.8
  }

  test("query-broadcast bruteTopK equals corpus-broadcast and window forms") {
    // the q208 truth-side swap (ADVICE r11) rests on drop-in
    // interchangeability: the two heap geometries replicate OPPOSITE sides
    // (replicate = Corpus broadcasts the corpus, Queries the queries)
    // but must emit the exact same (q_id, n_id, sim, rk) rows —
    // including 6-dp rounding and (sim desc, id asc) tie resolution. The
    // fixture forces ties: vectors at repeated angles give several
    // candidates the identical rounded cosine per query.
    val emb = (0L until 48L).map { i =>
      val angle = (i % 6).toDouble / 6.0 * math.Pi / 2
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 7L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSet
    val agg = rows(Similarity.bruteTopK(queries, emb, k = 5, replicate = TopK.Corpus))
    val cos = rows(Similarity.bruteTopK(queries, emb, k = 5, replicate = TopK.Queries))
    val win = rows(TestOracles.bruteTopKWindow(queries, emb, k = 5))
    assert(agg.nonEmpty && agg == cos && agg == win)
  }

  test("LSH top-k returns true cosine values for the pairs it finds") {
    val emb = (0L until 40L).map { i =>
      val angle = (i % 8).toDouble / 8.0 * math.Pi / 2
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteTopK(emb, emb, k = 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.lshTopK(emb, k = 5)
      .as[(Long, Long, Double, Long)].collect()
    assert(lsh.nonEmpty)
    // every LSH-reported sim equals the exact cosine for that pair
    lsh.foreach { case (q, n, sim, _) =>
      brute.get((q, n)).foreach(exact => assert(exact == sim))
    }
  }

  test("int8 quantization: exact codes, full range, zero-vector safe") {
    val emb = Seq(
      (1L, Seq(1.0, -0.5, 0.25, 0.0)), // scale 1.0 → codes 127,-64,32,0 (63.5 rounds up)
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),   // zero vector → all-zero codes
      (3L, Seq(-2.0, 2.0, 1.0, -1.0))  // scale 2 → -127,127,64,-64
    ).toDF("vec_id", "v")
    val got = emb.select($"vec_id", Similarity.quantizeInt8($"v").as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(127L, -64L, 32L, 0L))
    assert(got(2L) == Seq(0L, 0L, 0L, 0L))
    assert(got(3L) == Seq(-127L, 127L, 64L, -64L))
  }

  test("semantic dedup: hand-computed k-means clusters and keep-first purge") {
    // k=2, lowest-id init → c1=(10,0), c2=(0,10); both rounds converge to
    // cluster1={1,3}, cluster2={2,4,5} (v5 joins c2: d²=200 < 400). Pairs at
    // threshold 0.9: (1,3) cos≈0.995 drops 3; (2,4) cos≈0.995 drops 4;
    // (2,5) cos=0 and (4,5) cos≈-0.09 keep 5. Keep-first survivors: 1, 2, 5.
    val emb = Seq(
      (1L, Seq(10.0, 0.0)),
      (2L, Seq(0.0, 10.0)),
      (3L, Seq(9.9, 1.0)),
      (4L, Seq(1.0, 9.9)),
      (5L, Seq(-10.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Caching.scoped {
      Similarity.semanticDedup(emb, k = 2, iterations = 2, threshold = 0.9)
        .as[(Long, Long)].collect().toMap
    }
    assert(out == Map(1L -> 1L, 2L -> 2L, 5L -> 2L))
    // raising the threshold past every pairwise cosine keeps everything
    val all = Caching.scoped {
      Similarity.semanticDedup(emb, k = 2, iterations = 2, threshold = 0.999)
        .as[(Long, Long)].collect().toMap
    }
    assert(all.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("rrfFuse: hand-computed fusion, agreement outranks single-list wins") {
    // list A ranks (10, 11), list B ranks (11, 12): 11 appears in both at
    // 1/62 + 1/61, beating 10's lone 1/61 and 12's lone 1/62
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("q_id", "n_id", "rk")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q_id", "n_id", "rk")
    val got = Similarity.rrfFuse(Seq(a, b), k = 3)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    def t(rk: Int) = BigDecimal(1.0 / (60.0 + rk))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val s11 = (t(2) + t(1)).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s10 = t(1).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s12 = t(2).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((11L, s11, 1L), (10L, s10, 2L), (12L, s12, 3L)), got.mkString(","))
  }

  test("hardNegativeTopK: same-label near-misses excluded, ranks by cosine desc") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), // anchor
      (2L, Array(0.99f, 0.1f), 0), // nearest overall but SAME label — excluded
      (3L, Array(0.9f, 0.3f), 1), // hard negative: rank 1
      (4L, Array(0.0f, 1.0f), 1), // orthogonal: rank 2
      (5L, Array(-1.0f, 0.0f), 2) // opposite: rank 3, but k=2 cuts it
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegativeTopK(emb.filter(col("vec_id") === 1L), emb, k = 2)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 0, 3L, 1L), (1L, 0, 4L, 2L)), got.mkString(","))
    // every anchor mines only cross-label rows — no self, no same-label
    val all = Similarity.hardNegativeTopK(emb, emb, k = 4).collect()
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    all.foreach { r =>
      assert(labels(r.getLong(0)) != labels(r.getLong(2)),
        s"same-label pair leaked: $r")
    }
    // anchor 1 (label 0) has exactly 3 cross-label candidates
    assert(all.count(_.getLong(0) == 1L) == 3)
  }
}
