package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** KMV (k-minimum-values) distinct-value sketches with theta-style set
  * operations (Beyer et al., "On synopses for distinct value estimation
  * under multiset operations", SIGMOD 2007; the theta-sketch framework of
  * the Apache DataSketches line): keep the k smallest normalized hash
  * values of a set; DV ≈ (k−1)/u_(k). Sketches of two sets merge by
  * re-minning (union), and the union's k-min sample doubles as a uniform
  * sample of A∪B, so |A∩B| ≈ (|{h ∈ K : h∈A ∧ h∈B}|/k)·DV(A∪B).
  *
  * Sets with fewer than k distinct hashes ARE their own sketch — the
  * estimate is exact by definition (the standard KMV exact mode).
  *
  * Scale: the k-min sample rides the bounded heap ([[graft.ml.TopK.ranked]]:
  * ≤ k rows per partition reach the single-group shuffle — the q122
  * shape); membership flags come back via one broadcast join of the k-row
  * sample against the distinct-hash frame. Exact counts ride the
  * same single grouped pass. Everything downstream of the distinct is
  * k-bounded, so the whole estimator frame is constant-size at any corpus.
  */
object Kmv {

  /** The k smallest hashes of a DISTINCT-hash frame (column `h`) via the
    * bounded heap (score = −h: the heap keeps the k largest scores; 48-bit
    * longs are exact as doubles). This IS the KMV sketch — a mergeable
    * min-sample, so the same aggregation runs unchanged as a streaming
    * complete-mode query (a micro-batch boundary is a merge boundary for
    * re-minning; StreamingKmvSpec pins batch ≡ stream). Callers must
    * dedupe h first — the sketch is a synopsis of a SET. */
  def kminSample(set: DataFrame, k: Int): DataFrame =
    graft.ml.TopK.ranked(set.select(col("h"), negate(col("h").cast(DoubleType)).as("s")),
      Nil, "h", "s", k).select(col("h"))

  /** Input: one row per DISTINCT hash h (48-bit, from the md5 ladder) with
    * membership flags (h, ina, inb). Output: ONE row —
    * exact_{a,b,union,inter} (BIGINT) and est_{a,b,union,inter} (4-dp),
    * with estimates switching to exact mode below k. */
  def setOps(items: DataFrame, k: Int): DataFrame = {
    require(k > 1, s"KMV k must be > 1, got $k")
    val spark = items.sparkSession
    import spark.implicits._
    val hh = graft.Caching.pin(
      items.select(col("h"), col("ina"), col("inb")))
    val exact = hh.agg(
      sum(when(col("ina"), 1L).otherwise(0L)).as("exact_a"),
      sum(when(col("inb"), 1L).otherwise(0L)).as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(when(col("ina") && col("inb"), 1L).otherwise(0L)).as("exact_inter"))
    val kthA = kminSample(hh.filter(col("ina")), k).agg(max(col("h")).as("kth_a"))
    val kthB = kminSample(hh.filter(col("inb")), k).agg(max(col("h")).as("kth_b"))
    val ku = kminSample(hh, k) // the union's k-min sample, ≤ k rows
    val kthU = ku.agg(max(col("h")).as("kth_u"))
    // membership of the union sample in A∩B: broadcast the k rows
    val c = hh.join(broadcast(ku), "h")
      .agg(sum(when(col("ina") && col("inb"), 1L).otherwise(0L)).as("c_inter"))
    // DV = (k−1)/u_(k) with u = (h+1)/2^48 — the (0,1] normalization of
    // the 48-bit md5 ladder; below k the sketch is the set: exact mode
    def est(cnt: String, kth: String) =
      when(col(cnt) < k, col(cnt).cast(DoubleType))
        .otherwise(round(lit((k - 1).toDouble) /
          ((col(kth).cast(DoubleType) + lit(1.0d)) / lit(281474976710656.0d)), 4))
    exact.crossJoin(kthA).crossJoin(kthB).crossJoin(kthU).crossJoin(c)
      .select(col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
        est("exact_a", "kth_a").as("est_a"),
        est("exact_b", "kth_b").as("est_b"),
        est("exact_union", "kth_u").as("est_union"), col("c_inter"))
      .select(col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
        col("est_a"), col("est_b"), col("est_union"),
        when(col("exact_union") < k, col("exact_inter").cast(DoubleType))
          .otherwise(round(col("c_inter").cast(DoubleType) / lit(k.toDouble) *
            col("est_union"), 4)).as("est_inter"))
  }
}
