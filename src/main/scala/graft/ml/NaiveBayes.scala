package graft.ml

import scala.jdk.CollectionConverters._

import graft.functions.TermClassCounts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Multinomial Naive Bayes as aggregations (SURVEY.md §2.4 A6/A9).
  *
  * Training is one aggregation query over the token stream whose small result
  * (per-(label, term) counts, per-label token totals and document counts) is
  * collected to the driver. Scoring takes the model from that driver copy,
  * as literals in the plan: the vocabulary an `InSet` filter, the classes a
  * literal array, the term counts a hash lookup
  * ([[graft.functions.TermClassCounts]]). So scoring runs no broadcast job
  * and builds no hashed relation. This is the reference's shape:
  * TrainModelReducer writes the same sums once (TrainModelReducer.java:22-41)
  * and PredictMapper loads them as a side input (PredictMapper.java:66-86).
  *
  * Scoring (standard, log-space): score(d, c) = ln P(c) + Σ_t n_t(d)·ln p(t|c)
  * with Laplace smoothing p(t|c) = (cnt(c,t)+1)/(total(c)+V) — the smoothing
  * the reference applies at PredictMapper.java:66-77. Test terms outside the
  * training vocabulary are dropped (the reference's inner-join J2 semantics).
  * `referenceCompat = true` reproduces the reference's aberrant scoring
  * (product of logs, ×log prior, abs, argmin — PredictMapper.java:78-86).
  */
object NaiveBayes {

  /** A fitted model. Every frame is a `LocalRelation` over driver-held
    * rows, so nothing re-reads training data:
    *  - `termCounts` (label, term, tcnt): one row per training (label, term);
    *  - `classes` (label, total, prior, v): one row per non-null label, with
    *    its token total, its document share and the vocabulary size;
    *  - `vocab` (term): the distinct non-null training terms, `vocabSize` of
    *    them (a term seen only under a null label still counts).
    * [[scores]] reads the same rows from the driver-side fields: `classRows`
    * (the `classes` rows, in order), `terms` (the vocabulary as catalyst
    * strings) and `counts` (each term's count under each of `classRows`). */
  case class Model(termCounts: DataFrame, classes: DataFrame, vocab: DataFrame, vocabSize: Long)(
      private[ml] val classRows: Seq[Row],
      private[ml] val terms: Set[Any],
      private[ml] val counts: TermClassCounts.Table)

  /** A6: fit from a labeled token stream (doc_id, label, term) with a string
    * `term`. One Spark query: a grouping-sets scan counts (label, term) and
    * (label, doc_id) groups, and a second aggregate folds the latter into
    * per-label token totals and document counts. The driver computes each
    * prior as `n_d.toDouble / n_docs.toDouble`; every log stays in the
    * scoring plan, so no score depends on where the model was fitted. */
  def train(toks: DataFrame): Model = {
    val spark = toks.sparkSession
    require(toks.schema("term").dataType == StringType, "NaiveBayes.train needs a string term column")
    // grouping_id over (label, term, doc_id): 1 for a (label, term) group,
    // 2 for a (label, doc_id) group, whose term is then null
    val (termSet, docSet) = (1L, 2L)
    val fit = toks
      .groupingSets(Seq(Seq(col("label"), col("term")), Seq(col("label"), col("doc_id"))),
        col("label"), col("term"), col("doc_id"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
      .groupBy(col("gid"), col("label"), col("term"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("docs"))
      .collect()
    val terms = fit.filter(_.getLong(0) == termSet)
    val labels = fit.filter(_.getLong(0) == docSet)
    val nDocs = labels.map(_.getLong(4)).sum
    val vocab = terms.filterNot(_.isNullAt(2)).map(_.getString(2)).distinct
    val v = vocab.length.toLong
    val classRows = labels.filterNot(_.isNullAt(1))
      .map(r => Row(r.get(1), r.getLong(3), r.getLong(4).toDouble / nDocs.toDouble, v)).toSeq
    val classIdx = classRows.map(_.get(0)).zipWithIndex.toMap

    val labelF = toks.schema("label")
    val termF = toks.schema("term")
    def local(fields: Seq[StructField], rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, StructType(fields))
    Model(
      termCounts = local(Seq(labelF, termF, StructField("tcnt", LongType, nullable = false)),
        terms.map(r => Row(r.get(1), r.get(2), r.getLong(3))).toSeq),
      classes = local(Seq(labelF, StructField("total", LongType), StructField("prior", DoubleType),
          StructField("v", LongType, nullable = false)), classRows),
      vocab = local(Seq(termF), vocab.map(Row(_)).toSeq),
      vocabSize = v)(
      classRows,
      vocab.map(UTF8String.fromString).toSet,
      TermClassCounts.Table(classRows.size, terms.toSeq.flatMap { r =>
        classIdx.get(r.get(1)).map(c => (c, r.getString(2), r.getLong(3)))
      }))
  }

  /** A9: score + argmax. Input: test tokens (doc_id, term). Output (doc_id, pred). */
  def predict(testToks: DataFrame, model: Model, referenceCompat: Boolean = false): DataFrame = {
    val ord = if (referenceCompat) col("score").asc else col("score").desc
    val w = Window.partitionBy(col("doc_id")).orderBy(ord, col("label").asc)
    scores(testToks, model, referenceCompat)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred"))
  }

  /** Every test document's score under every class: (doc_id, label, score).
    * A document with no in-vocabulary term has no row. */
  def scores(testToks: DataFrame, model: Model, referenceCompat: Boolean = false): DataFrame = {
    val classLit = Literal.create(model.classRows, ArrayType(model.classes.schema, containsNull = false))
    // vocabulary restriction: J2 inner-join semantics (out-of-vocab dropped)
    val inVocab = InSet(ColumnBridge.expression(col("term")), model.terms)
    val testCounts = testToks.filter(ColumnBridge.column(inVocab))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    val scored = testCounts
      .select(col("doc_id"), col("term"), col("cnt"),
        posexplode(ColumnBridge.column(classLit)).as(Seq("ci", "c")))
      .select(col("doc_id"), col("c.label").as("label"), col("cnt"), col("c.prior").as("prior"),
        log((TermClassCounts(col("term"), col("ci"), model.counts).cast(DoubleType) + lit(1.0d)) /
          (col("c.total").cast(DoubleType) + col("c.v").cast(DoubleType))).as("logp"))
    val score =
      if (referenceCompat)
        // Π of logs over terms (count-weighted by pow), × log prior, abs,
        // argmin. The per-term log is rounded to 10 dp BEFORE the product
        // (the q69 idf pattern): JVM and libm ln differ by ulps, and a
        // product over many terms amplifies that into cross-engine argmin
        // flips on near-ties — rounding REDUCES cross-engine drift (Spark
        // and DuckDB round doubles slightly differently near half-
        // boundaries, and the double product itself stays aggregation-
        // order-dependent; validated empirically by the q68 hash-match).
        abs(product(pow(round(col("logp"), 10), col("cnt"))) * log(max(col("prior"))))
      else
        sum(col("cnt").cast(DoubleType) * col("logp")) + log(max(col("prior")))
    scored.groupBy(col("doc_id"), col("label")).agg(score.as("score"))
  }
}
