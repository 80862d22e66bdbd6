package graft.operators

import graft.functions.Exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** The reference's text-corpus pipeline (SURVEY.md §2.2 P1-P4, §2.4 A1-A5)
  * re-expressed as composable DataFrame transforms:
  *
  *   tokenize → term counts → TF (window ratio) → DF (window count) → TF-IDF
  *   → per-doc sparse-vector assembly.
  *
  * Differences from the reference, by design (SURVEY.md §7 risk register):
  * the TF denominator is an order-independent window sum (not a combiner
  * sentinel trick, TF_IDF_Compute.java:102-138); vocabulary indices are fixed
  * by `row_number over (order by term)` for reproducibility (the reference
  * uses nondeterministic reducer-output position, TF_IDF_Compute.java:288).
  *
  * Scale notes: tokenization is the codegen [[graft.functions.Tokens]]
  * kernel (one byte loop per ASCII row; no lambda, which would keep the
  * projection out of whole-stage codegen), so tokenize, filter and explode
  * fuse into one WholeStageCodegen stage over the scan; term counting
  * partial-aggregates map-side. [[tfidfOf]] derives TF, DF and the document
  * count from that one count frame: TF and DF are windows over it
  * (hash-partitioned on `doc_id`, then on `term`), and only the one-row
  * document count is broadcast. No vocabulary-sized side table is built, and
  * every shuffle hash-partitions on a high-cardinality key (doc_id, term).
  */
object TextPipeline {

  /** (doc_id, term) token stream — one row per token occurrence.
    * Reference semantics: lowercase, strip non-alphanumerics, whitespace split
    * (TF_IDF_Compute.java:79-99, the [[graft.functions.Tokens]] kernel),
    * minus the stop-word side file (P4) which the caller applies as a
    * filter/anti-join when wanted. */
  def tokenize(docs: DataFrame, textCol: String = "text", keep: Seq[String] = Seq("doc_id")): DataFrame =
    docs.select(keep.map(col) :+ explode(tokens(col(textCol))).as("term"): _*)

  /** A1: per-(doc, term) occurrence counts. */
  def termCounts(toks: DataFrame): DataFrame =
    toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))

  /** A2: term frequency = cnt / doc length, as an order-independent window. */
  def tf(counts: DataFrame): DataFrame =
    counts.withColumn("tf",
      col("cnt").cast(DoubleType) /
        sum(col("cnt")).over(Window.partitionBy(col("doc_id"))).cast(DoubleType))

  /** A3: document frequency and IDF per term. `noLog = true` preserves the
    * reference's `idf = N/df` semantics (TF_IDF_Compute.java:232, no
    * logarithm); false gives the standard ln(N/df). Emits both columns. */
  def idf(toks: DataFrame): DataFrame =
    toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(toks.agg(countDistinct(col("doc_id")).as("n_docs"))))
      .withColumn("idf_ref", idfOf(ref = true))
      .withColumn("idf_log", idfOf(ref = false))

  /** J1: TF ⋈ broadcast IDF → tfidf = tf * idf (vocabulary-sized right side).
    * The catalog's rows use [[tfidfOf]], which builds no such side table. */
  def tfidf(tfDF: DataFrame, idfDF: DataFrame, ref: Boolean = true): DataFrame =
    tfDF.join(broadcast(idfDF.select(col("term"), col(if (ref) "idf_ref" else "idf_log").as("idf"))), "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idf")).as("tfidf"))

  /** A2 + A3 + J1 in one plan: (doc_id, term, tfidf) equal, double for
    * double, to `tfidf(tf(termCounts(toks)), idf(toks), ref)`. Everything
    * comes from the one (doc_id, term, cnt) count frame: `tf` is its
    * `doc_id` window; `df` is a `term` window counting its rows (one row per
    * (doc, term) pair, so no distinct count); `n_docs` counts its distinct
    * `doc_id`s and is the only broadcast (one row). A duplicated `doc_id`
    * is one document and a token-less document is none, as in the oracle's
    * `COUNT(DISTINCT doc_id) FROM toks`. */
  def tfidfOf(toks: DataFrame, ref: Boolean = true): DataFrame = {
    val counts = termCounts(toks)
    tf(counts)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(counts.agg(countDistinct(col("doc_id")).as("n_docs"))))
      .select(col("doc_id"), col("term"), (col("tf") * idfOf(ref)).as("tfidf"))
  }

  /** N/df, or its natural log rounded to 10 dp (ln() differs by 1 ulp
    * between JVM and libm implementations), over `n_docs` and `df`. */
  private def idfOf(ref: Boolean): Column = {
    val ratio = col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)
    if (ref) ratio else round(log(ratio), 10)
  }

  /** A4: stable vocabulary — (term, idx), idx fixed by lexicographic order.
    *
    * Two-phase rank, no single-partition stage: (1) rank terms within
    * 2-character-prefix buckets (the window hash-partitions on `bkt`, so a
    * web-scale vocabulary spreads across executors); (2) add an exclusive
    * prefix-sum offset per bucket. The offset window runs over the
    * bucket-count frame only (≤ a few thousand rows — the k-row-window
    * pattern, not a vocabulary-sized one). Prefix bucketing is
    * order-consistent with Spark's UTF8-binary string comparator (UTF-8
    * code-point order equals byte order and no code point encodes as a
    * prefix of another), so `off + rn` reproduces exactly
    * `row_number() over (order by term)`. The reference's A4
    * (NB1/ListWords/ListWordsReducer.java:10-18) is single-reducer; this
    * keeps its stable indices without its bottleneck. */
  def vocab(toks: DataFrame): DataFrame = {
    val terms = toks.select(col("term")).distinct()
      .withColumn("bkt", substring(col("term"), 1, 2))
    val ranked = terms.withColumn("rn",
      row_number().over(Window.partitionBy(col("bkt")).orderBy(col("term"))).cast(LongType))
    val offsets = terms.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", (sum(col("cnt")).over(Window.orderBy(col("bkt"))) - col("cnt")).cast(LongType))
      .select(col("bkt"), col("off"))
    ranked.join(broadcast(offsets), "bkt")
      .select(col("term"), (col("off") + col("rn")).as("idx"))
  }

  /** A5: per-doc sparse-vector assembly, rendered as the reference's
    * `idx:weight idx:weight …` line (weights scaled to integral micro-units so
    * the rendering is engine-portable; TF_IDF_Compute.java:355-393). */
  def docVectors(tfidfDF: DataFrame, vocabDF: DataFrame): DataFrame =
    tfidfDF.join(broadcast(vocabDF), "term")
      .withColumn("entry", concat(col("idx").cast(StringType), lit(":"),
        round(col("tfidf") * lit(1000000.0d), 0).cast(LongType).cast(StringType)))
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("idx"), col("entry")))),
        x => x.getField("entry")), " ").as("vec"))

  /** BM25 relevance scoring of every document against a fixed query term
    * set (Robertson/Sparck-Jones, public formula): the search-shaped
    * capability on top of the same token stream. All inputs are exact
    * integer ratios; ln() is rounded for engine portability. */
  def bm25(toks: DataFrame, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val counts = termCounts(toks)
    val docLen = counts.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
    val stats = docLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val dfT = counts.filter(col("term").isInCollection(queryTerms))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    counts.filter(col("term").isInCollection(queryTerms))
      .join(broadcast(dfT), "term")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_len").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("idf", round(log(
        (col("n_docs").cast(DoubleType) - col("df") + 0.5d) / (col("df").cast(DoubleType) + 0.5d) + 1.0d), 10))
      .withColumn("tf_part",
        (col("cnt").cast(DoubleType) * (k1 + 1.0d)) /
          (col("cnt").cast(DoubleType) + lit(k1) *
            (lit(1.0d - b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl"))))
      .groupBy(col("doc_id"))
      // exact DECIMAL accumulator: score is order-independent before rounding
      .agg(round(dsum(col("idf") * col("tf_part"), 12), 6).as("score"),
        count(lit(1)).as("n_matched"))
  }

  /** Per-doc sparse feature map (idx -> weight) — the typed surface classifiers
    * consume (MapType mirrors KNNMapper.java:20's HashMap<Integer,Double>). */
  def docVectorMap(tfidfDF: DataFrame, vocabDF: DataFrame): DataFrame =
    tfidfDF.join(broadcast(vocabDF), "term")
      .groupBy(col("doc_id"))
      .agg(map_from_entries(array_sort(collect_list(struct(col("idx"), col("tfidf"))))).as("features"))
}
