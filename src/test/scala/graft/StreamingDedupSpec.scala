package graft

import graft.operators.Dedup
import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("per-row minhash band signatures equal the grouped batch pipeline") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    // grouped form: the exact pipeline inside minhashLshPairs(portable = true)
    val sig = Dedup.minhashSignatures(
      Dedup.shingleSet(docs.withColumn("lang", lit("x")), 3), 32, portable = true)
    val grouped = sig.withColumn("band", ($"seed" / 4).cast("long"))
      .groupBy($"doc_id", $"band")
      .agg(array_join(array_sort(collect_list(
        concat($"seed".cast("string"), lit(":"), $"mh".cast("string")))), ",").as("band_sig"))
      .as[(Long, Long, String)].collect().toSet
    val perRow = StreamingDedup.bandedDocs(docs, 3, 32, 8)
      .map(b => (b.docId, b.band, b.bandSig)).collect().toSet
    assert(perRow == grouped && perRow.nonEmpty)
    // three-way: the native single-pass expression must also equal its
    // pure-Catalyst HOF twin, in BOTH hash modes (portable md5-h60 and
    // xxhash64 — the non-portable band_sig is itself xxhash64-compressed)
    for (portable <- Seq(true, false)) {
      def sigs(form: (org.apache.spark.sql.Column, Int, Int, Boolean) => org.apache.spark.sql.Column) =
        docs.select($"doc_id", graft.functions.Exprs.tokens($"text").as("toks"))
          .select($"doc_id", graft.functions.Exprs.shingles($"toks", 3).as("shs"))
          .select($"doc_id", explode(form($"shs", 32, 8, portable)).as("bk"))
          .select($"doc_id", $"bk.band", $"bk.band_sig")
          .as[(Long, Long, String)].collect().toSet
      val native = sigs(Dedup.minhashBandSigsFromShingles)
      val hof = sigs(TestOracles.minhashBandSigsHof)
      assert(native == hof && native.nonEmpty, s"portable=$portable")
    }
  }

  test("streaming candidates across micro-batches equal the batch bucket join") {
    implicit val ctx = spark.sqlContext
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val q = StreamingDedup.minhashCandidates(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("mhcand").outputMode("append").start()
    try {
      // duplicates must meet across micro-batch boundaries, so split the
      // corpus into three arrival waves
      docs.grouped((docs.length + 2) / 3).foreach { wave =>
        ms.addData(wave: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("mhcand")
        .select($"docA", $"docB").distinct()
        .as[(Long, Long)].collect().toSet
      val banded = StreamingDedup.bandedDocs(docs.toSeq.toDF("doc_id", "text"))
      val batch = banded.as("a").join(banded.as("b"),
          $"a.band" === $"b.band" && $"a.bandSig" === $"b.bandSig" &&
            $"a.docId" < $"b.docId")
        .select($"a.docId", $"b.docId").distinct()
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming VERIFIED pairs across micro-batches equal batch minhashLshPairs") {
    implicit val ctx = spark.sqlContext
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val static = docs.toSeq.toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val q = StreamingDedup.minhashVerifiedPairs(
        ms.toDF().toDF("doc_id", "text"), static, threshold = 0.05)
      .writeStream.format("memory").queryName("mhver").outputMode("append").start()
    try {
      docs.grouped((docs.length + 2) / 3).foreach { wave =>
        ms.addData(wave: _*)
        q.processAllAvailable()
      }
      // distinct: the stream emits at-least-once per agreeing band; parity
      // is on the verified pair SET, jaccard value included bit-exactly
      val streamed = spark.table("mhver").distinct()
        .as[(Long, Long, Double)].collect().toSet
      val batch = Dedup.minhashLshPairs(static.withColumn("lang", lit("x")),
          n = 3, numHashes = 32, bands = 8, threshold = 0.05, portable = true)
        .select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("signing keeps the shingle array in its own projection (33x-retokenize guard)") {
    // HOFs get no codegen/CSE: if the shingle expression is ever re-inlined
    // into the signature tree, tokenization runs once PER HASH — the x10
    // probe went from minutes to >1 h on exactly this. The optimized plan
    // must tokenize once for bandedDocs (one tokens kernel) and keep the
    // materialized shs column alive.
    def tokenizeCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.flatMap(_.expressions)
        .map(PlanProbes.tokenizations).sum
    // parquet-backed input: a Seq-backed LocalRelation would be folded away
    // by ConvertToLocalRelation and hide the projections under test
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    assert(tokenizeCount(StreamingDedup.bandedDocs(docs).toDF()) == 1)
    // the full pairs operator adds the shingle-set branch (pinned, feeds
    // sizes + verify): tokenize appears once there and once in the signing
    // projection — never numHashes+1 times
    assert(tokenizeCount(Dedup.minhashLshPairs(
      docs.withColumn("lang", lit("x")), portable = true)) <= 4)
  }

  test("bucket cap bounds state: an over-full bucket stops admitting members") {
    implicit val ctx = spark.sqlContext
    // five byte-identical texts land in the same bucket for every band;
    // cap=2 admits only the first two arrivals -> exactly 1 distinct pair
    // (uncapped: C(5,2) = 10). Arrival order inside one micro-batch is not
    // defined, so assert the count, not the ids.
    val ms = MemoryStream[(Long, String)]
    val q = StreamingDedup.minhashCandidates(
        ms.toDF().toDF("doc_id", "text"), maxBucketSize = 2)
      .writeStream.format("memory").queryName("mhcap").outputMode("append").start()
    try {
      ms.addData((1L to 5L).map(i => (i, "alpha beta gamma delta epsilon")): _*)
      q.processAllAvailable()
      val pairs = spark.table("mhcap").select($"docA", $"docB").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs.size == 1)
    } finally q.stop()
  }
}
