package graft.operators

import graft.functions.Exprs.{dsum, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): select raw-corpus documents whose hashed-n-gram distribution looks
  * like a TARGET corpus, by importance weights under two bag-of-hashed-
  * n-grams models.
  *
  *   - Features: word unigrams + bigrams, hashed into `buckets` buckets
  *     (md5 → first 48 bits → mod B — the q122 cross-engine hash ladder).
  *     Feature extraction is ROW-LOCAL (the token array transforms into its
  *     n-gram list in one projection, no positional self-join).
  *   - Models: bucket-multinomials with add-one smoothing, p(b) =
  *     (c(b)+1)/(N+B), fit on the target slice and on the full raw corpus.
  *     Each model is exactly B rows — corpus-size-INDEPENDENT — so scoring
  *     broadcasts the per-bucket log-ratio λ(b) = ln p_t(b) − ln p_r(b).
  *   - Per-doc log-weight: Σ_b n_b(doc)·λ(b) through the exact DECIMAL
  *     accumulator (order-independent), after λ's 6-dp re-sync (6 dp, not
  *     the usual 10: the round-10 ln-ulp finding — see the note at the
  *     rounding site below).
  *   - Resampling: Gumbel-top-k (the paper's sampling-without-replacement
  *     step): key = log w(doc) + g(doc) with g = −ln(−ln(u)) and u a
  *     deterministic 48-bit md5 coin — the Efraimidis–Spirakis shape of
  *     q122 with Gumbel noise, drawn through the bounded heap
  *     ([[graft.ml.TopK.ranked]]) so shuffle volume is k, never corpus-sized.
  *
  * Scale: one feature-explode scan + one (doc,b)-keyed count; both model
  * fits are map-side-combined counts onto ≤ B cells; scoring is one
  * broadcast join; the heap bounds the final stage at k rows/partition.
  */
object Dsir {

  /** Hashed n-gram feature buckets per doc, one row per occurrence:
    * (doc_id, is_t, b). Unigrams prefix "u:", bigrams "b:" — distinct
    * feature spaces before hashing, as the reference implementation hashes
    * (n, gram) pairs. Row-local; one scan covers both models. */
  private def features(docs: DataFrame, isTarget: Column, buckets: Int): DataFrame =
    docs.select(col("doc_id"), isTarget.as("is_t"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("is_t"), explode(concat(
        expr("transform(tk, w -> concat('u:', w))"),
        expr("CASE WHEN size(tk) > 1 THEN transform(sequence(1, size(tk) - 1)," +
          " i -> concat('b:', tk[i - 1], ' ', tk[i])) ELSE array() END"))).as("f"))
      .select(col("doc_id"), col("is_t"),
        (conv(substring(md5(col("f")), 1, 12), 16, 10).cast(LongType) % buckets).as("b"))

  /** The hashed-feature occurrence rows alone — (doc_id, b), one row per
    * unigram/bigram occurrence — for consumers beyond DSIR (the q176
    * hashed-feature classifier shares this exact feature space). */
  def hashedFeatures(docs: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    features(docs, lit(false), buckets).select(col("doc_id"), col("b"))
  }

  /** Per-document DSIR log importance weight over the hashed-n-gram models:
    * (doc_id, n_feats, logw). `isTarget` marks the target slice WITHIN
    * `docs` (the usual deployment fits the target model on a separate
    * high-quality corpus; a predicate keeps the whole frame one scan). */
  def importanceWeights(docs: DataFrame, isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val f = graft.Caching.pin(features(docs, isTarget, buckets))
    // bucket counts for both models; buckets absent from the raw corpus are
    // unreachable by any scored doc, so the B-row frame never needs padding
    val raw = f.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgtCnt = f.filter(col("is_t")).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("nr")).crossJoin(tgtCnt.agg(sum(col("ct")).as("nt")))
    // ln rounded at 6 dp, not 10: JVM and libm ln differ in the last ulp,
    // and a log value landing within that ulp of a rounding boundary tips
    // the rounded λ across engines. The hazard scales with boundary
    // density — at 10 dp the sf0.1 corpus hit it on 9 of 5000 docs (the
    // round-10 finding); at 6 dp the per-value odds drop ~10^4×. λ at 6 dp
    // keeps the 8-dp logw contract: the products below are bit-identical
    // IEEE multiplies once λ agrees.
    val lam = raw.join(tgtCnt, Seq("b"), "left").crossJoin(totals)
      .select(col("b"),
        (round(log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast(DoubleType) /
          (col("nt") + lit(buckets.toLong)).cast(DoubleType)), 6) -
          round(log((col("cr") + lit(1L)).cast(DoubleType) /
            (col("nr") + lit(buckets.toLong)).cast(DoubleType)), 6)).as("lam"))
    val out = f.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("nb"))
      .join(broadcast(lam), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("nb")).as("n_feats"),
        round(dsum(round(col("nb").cast(DoubleType) * col("lam"), 10), 10), 8).as("logw"))
    out
  }

  /** Gumbel-top-k importance resample (sampling without replacement
    * proportional to w): the k docs maximizing logw + Gumbel(md5 coin).
    * Output (doc_id, dsir_key), key 8-dp. */
  def resampleTopK(docs: DataFrame, isTarget: Column, k: Int,
                   buckets: Int = 1024): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val keyed = importanceWeights(docs, isTarget, buckets)
      .select(col("doc_id"), col("logw"),
        conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 12), 16, 10)
          .cast(LongType).as("h"))
      .select(col("doc_id"),
        round(col("logw") +
          // u = (h + 0.5) / 2^48 keeps u strictly inside (0,1): with +1 the
          // 48-bit hash 2^48-1 maps to u = 1.0 exactly and -ln(-ln u) = +Inf,
          // a degenerate always-wins draw (oracle literal matches).
          round(-log(-log((col("h").cast(DoubleType) + lit(0.5d)) / lit(281474976710656.0d))), 10),
          8).as("key"))
    graft.ml.TopK.ranked(keyed, Nil, "doc_id", "key", k)
      .select(col("doc_id"), round(col("key"), 8).as("dsir_key"))
  }
}
