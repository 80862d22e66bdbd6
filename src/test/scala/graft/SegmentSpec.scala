package graft

import graft.graph.Graphs
import graft.operators.Segment

/** P11: dictionary segmentation of whitespace-free text (the PDF2 workload
  * shape — name extraction from unsegmented novels, then the character
  * co-occurrence network). Goldens are hand-computed. */
class SegmentSpec extends SparkSpec {
  import spark.implicits._

  private val dict = Seq("guojing", "huangrong", "hong", "rong", "qigong")

  // no whitespace anywhere: a whitespace tokenizer produces zero tokens here
  private def docs = Seq(
    (1L, "guojingandhuangrongmeethongqigong"),
    (2L, "ronghong"),
    (3L, "nothinginthedictionaryhere")
  ).toDF("doc_id", "text")

  test("greedy longest-match golden: covered and nested words") {
    val got = Segment.segment(docs, dict)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // "huangrong" consumes chars 11-19, so the "rong" inside it is NOT emitted
    assert(got(1L) == Seq("guojing", "huangrong", "hong", "qigong"))
    // at pos 1 "rong" wins (no longer word matches), then "hong"
    assert(got(2L) == Seq("rong", "hong"))
    assert(!got.contains(3L))
  }

  test("CJK golden: unsegmented Chinese text against a name dictionary (PDF2 shape)") {
    // the reference workload's actual input class: no delimiters, CJK names,
    // nested entry 郭靖 ⊃ 靖 exercising longest-match across scripts
    val cjkDict = Seq("郭靖", "黄蓉", "洪七公", "桃花岛", "降龙十八掌", "靖")
    val d = Seq(
      (1L, "郭靖和黄蓉在桃花岛遇到洪七公，郭靖学降龙十八掌。"),
      (2L, "洪七公传掌法，黄蓉识破真相，靖字辈排行。"),
      (3L, "no cjk here at all")
    ).toDF("doc_id", "text")
    val got = Segment.segment(d, cjkDict)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // punctuation （，。）is stripped by the Unicode normalizer, names survive
    assert(got(1L) == Seq("郭靖", "黄蓉", "桃花岛", "洪七公", "郭靖", "降龙十八掌"))
    // standalone 靖 matches only where 郭靖 does not (longest-match precedence)
    assert(got(2L) == Seq("洪七公", "黄蓉", "靖"))
    assert(!got.contains(3L))
    // HOF twin agrees on CJK input (same MaxMatch semantics, shared despace)
    val hof = TestOracles.segmentHof(d, cjkDict)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(hof == got)
  }

  test("longest match beats shorter prefix word at the same position") {
    val d = Seq((1L, "huangrongx")).toDF("doc_id", "text")
    // "huang" AND "huangrong" both match at pos 1 — longest must win
    val got = Segment.segment(d, Seq("huang", "huangrong")).as[(Long, String)].collect()
    assert(got.toSeq == Seq((1L, "huangrong")))
  }

  test("whitespace tokenizer yields nothing on unsegmented text, segment() does not") {
    val t = graft.operators.TextPipeline.tokenize(docs.filter($"doc_id" === 1L))
    // one giant token (no separators) that matches no dictionary entry —
    // the failure mode dictionary segmentation exists to fix
    assert(t.as[(Long, String)].collect().map(_._2).toSeq == Seq("guojingandhuangrongmeethongqigong"))
    assert(Segment.segment(docs.filter($"doc_id" === 1L), dict).count() == 4L)
  }

  test("native GreedySegment expression equals the HOF fold on real corpus data") {
    val d = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(100)
    val dict = Seq("spark", "stream", "query", "table", "order", "sort", "scan",
      "part", "data", "row", "key", "a")
    val native = Segment.segment(d, dict)
      .groupBy($"doc_id", $"name").count()
      .as[(Long, String, Long)].collect().toSet
    val hof = TestOracles.segmentHof(d, dict)
      .groupBy($"doc_id", $"name").count()
      .as[(Long, String, Long)].collect().toSet
    assert(native == hof && native.nonEmpty)
  }

  test("trie big-dict path matches the native expression on a 10k-entry dictionary") {
    // deterministic 10k-word dictionary (base-26 strings, lengths 3-8, no
    // accidental duplicates thanks to the distinct pass in both builders)
    def word(i: Int): String = {
      val len = 3 + (i % 6)
      val sb = new StringBuilder
      var v = i
      (0 until len).foreach { _ => sb.append(('a' + v % 26).toChar); v = v / 26 + 7 }
      sb.toString
    }
    val bigDict = (0 until 10000).map(word).distinct
    assert(bigDict.size > 9000)
    // docs: dictionary words glued back-to-back with noise runs between —
    // unsegmented text where matches and non-matches interleave
    val fixture = (1L to 40L).map { d =>
      val parts = (0 until 30).map(j => word(((d * 31 + j * 17) % 10000).toInt))
      (d, parts.mkString("", "zq", "zq"))
    }.toDF("doc_id", "text")
    // order-sensitive parity: compare the per-doc token ARRAYS, not multisets
    val native = fixture.select($"doc_id",
      graft.functions.GreedySegment(Segment.despace($"text"), bigDict).as("names"))
      .as[(Long, Seq[String])].collect().toMap
    val trie = Segment.bigDictTokens(fixture, bigDict, "text", Seq("doc_id"))
      .as[(Long, Seq[String])].collect().toMap
    assert(trie == native)
    assert(native.values.map(_.size).sum > 40 * 20) // the fixture really matches
    // and the public contract auto-routes >4096-entry dictionaries here
    val viaSegment = Segment.segment(fixture.limit(2), bigDict)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(viaSegment == native.view.filterKeys(k => k == 1L || k == 2L)
      .filter(_._2.nonEmpty).toMap)
  }

  test("segmented names feed the A11 co-occurrence chain (PDF2 pipeline)") {
    val edges = Graphs.coOccurrence(Segment.segment(docs, dict), item = "name")
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // doc1 contributes ordered pairs over 4 names (12), doc2 over 2 (2)
    assert(edges.size == 14)
    assert(edges(("guojing", "huangrong")) == 1L)
    assert(edges(("rong", "hong")) == 1L)
    // hong appears in both docs but with different partners — no double count
    assert(edges(("hong", "qigong")) == 1L)
  }
}
