package graft.ml

import graft.functions.Exprs.{cosinePre, dot, mapCosine, sqdist, vnorm}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, functions}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{broadcast, col, lit, posexplode, round}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import scala.collection.mutable.ArrayBuffer

/** The engine's one exact top-k (SURVEY.md §2.8 / §4 optimization 3): a
  * bounded heap per group. It holds ≤ k entries, so partial aggregation
  * bounds memory and shuffle volume at k·|groups| whatever the candidate
  * count — the reference's hand-kept k-best array (KNNMapper.java:147-159),
  * but spillable and mergeable: the map-side combine that *MapReduce
  * Algorithms for Big Data Analysis* (VLDB 2012) gives as its reason.
  *
  * [[ranked]] is the grouped top-k; [[topK]], the exact similarity search
  * (kNN, brute-force cosine and L2, hard negatives), ranks through it. Order:
  * score desc, then the LONG id asc, under Spark's sort rules for doubles
  * (NaN largest, -0.0 = 0.0, null score last) — a `row_number()` window's
  * order, so both keep the same rows.
  */
object TopK {

  /** The k best entries of a group, sorted best first, in a one-field
    * buffer row. An entry is a row of the scored frame's non-key columns;
    * `id` and `score` are the positions of its LONG id and DOUBLE score. */
  private[graft] final class Heap(k: Int, entry: StructType, id: Int, score: Int)
      extends Aggregator[Row, Row, Row] {
    private val schema = StructType(Seq(StructField("top", ArrayType(entry))))

    private def better(a: Row, b: Row): Boolean = {
      val c =
        if (a.isNullAt(score) || b.isNullAt(score))
          java.lang.Boolean.compare(b.isNullAt(score), a.isNullAt(score))
        else SQLOrderingUtil.compareDoubles(a.getDouble(score), b.getDouble(score))
      c > 0 || (c == 0 && a.getLong(id) < b.getLong(id))
    }

    // the list reduce/merge built, or a copy of a deserialized one
    private def top(buf: Row): ArrayBuffer[Row] = buf.get(0) match {
      case b: ArrayBuffer[Row @unchecked] => b
      case s: scala.collection.Seq[Row @unchecked] => ArrayBuffer.from(s)
    }

    override def zero: Row = Row(ArrayBuffer.empty[Row])

    override def reduce(buf: Row, a: Row): Row = {
      val t = top(buf)
      if (t.size < k || better(a, t.last)) {
        // after every entry `a` does not beat: equal entries keep arrival order
        var lo = 0
        var hi = t.size
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (better(a, t(mid))) hi = mid else lo = mid + 1
        }
        t.insert(lo, a)
        if (t.size > k) t.remove(k)
      }
      Row(t)
    }

    override def merge(b1: Row, b2: Row): Row = {
      val (x, y, out) = (top(b1), top(b2), ArrayBuffer.empty[Row])
      var (i, j) = (0, 0)
      while (out.size < k && (i < x.size || j < y.size)) {
        if (j == y.size || (i < x.size && !better(y(j), x(i)))) { out += x(i); i += 1 }
        else { out += y(j); j += 1 }
      }
      Row(out)
    }

    override def finish(buf: Row): Row = buf
    override def bufferEncoder: Encoder[Row] = Encoders.row(schema)
    override def outputEncoder: Encoder[Row] = Encoders.row(schema)
  }

  /** The k best rows of `scored` per `keys` group by (`score` desc, `id`
    * asc): `keys ++ the other columns ++ rk`, rk a 1-based LONG rank. Every
    * non-key column rides through the heap, so callers select what they rank
    * and carry. `keys = Nil` ranks the frame as one group. `id` is LONG and
    * `score` DOUBLE; for the smallest values, negate the score in and out.
    * Rejects k < 1 and other column types when the plan is built. */
  def ranked(scored: DataFrame, keys: Seq[String], id: String, score: String,
             k: Int): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val entry = StructType(scored.schema.filterNot(f => keys.contains(f.name)))
    require(entry(id).dataType == LongType && entry(score).dataType == DoubleType,
      s"top-k ranks a LONG id and a DOUBLE score, got ${entry(id)} and ${entry(score)}")
    val heap = functions.udaf(new Heap(k, entry, entry.fieldIndex(id), entry.fieldIndex(score)),
      Encoders.row(entry))
    val ks = keys.map(col)
    scored.groupBy(ks: _*).agg(heap(entry.fieldNames.toSeq.map(col): _*).as("_top"))
      // the buffer is kept sorted, so position = rank
      .select(ks :+ posexplode(col("_top.top")).as(Seq("_i", "_e")): _*)
      .select(ks ++ entry.fieldNames.map(f => col("_e").getField(f).as(f)) :+
        (col("_i") + 1).cast(LongType).as("rk"): _*)
  }

  /** A [[topK]] pair score and its column name. `ranking` is the 6-dp score
    * over a pair row's `q_` and `n_` columns as the heap ranks it. */
  sealed abstract class Score(val name: String) { private[graft] def ranking: Column }
  /** Cosine over double arrays: one dot per pair over per-row norms
    * ([[graft.functions.Exprs.cosinePre]], bit-identical to three dots). */
  case object Cosine extends Score("sim") {
    private[graft] def ranking: Column =
      round(cosinePre(dot(col("q_vec"), col("n_vec")), col("q_nrm"), col("n_nrm")), 6)
  }
  /** Cosine over sparse MapType(idx → weight) vectors (KNNMapper.java:20). */
  case object SparseCosine extends Score("sim") {
    private[graft] def ranking: Column = round(mapCosine(col("q_vec"), col("n_vec")), 6)
  }
  /** Squared L2 over double arrays, smallest first: negated in and out. */
  case object L2 extends Score("d2") {
    private[graft] def ranking: Column = -round(sqdist(col("q_vec"), col("n_vec")), 6)
  }

  /** The side of [[topK]] broadcast to every task of the other. */
  sealed trait Side
  /** The corpus, for a corpus that fits. */
  case object Corpus extends Side
  /** The query panel, for a fixed-size panel against a growing corpus. */
  case object Queries extends Side
  /** Neither: a partitioned cross join, for a corpus past a broadcast cap. */
  case object Neither extends Side

  /** Exact top-k similarity search: per query row, the k best corpus rows by
    * `score` among the pairs passing `pairFilter` (applied before scoring).
    * `queries` holds `q_id` (LONG), `q_vec` and any `q_` columns to carry;
    * `corpus` holds `n_id` (LONG), `n_vec` and any `n_` columns. Cosine norms
    * are computed once per row before the `replicate` side is broadcast. The
    * heap groups by the query columns, so a query side hash-partitioned on
    * `q_id` ([[graft.ml.Knn]]) reaches it with no exchange. Output: query
    * columns, corpus columns, score (`sim`, or `d2`), rk; no vectors. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int, score: Score,
           pairFilter: Column = lit(true), replicate: Side = Corpus): DataFrame = {
    def normed(df: DataFrame, p: String): DataFrame =
      if (score == Cosine) df.withColumn(s"${p}_nrm", vnorm(col(s"${p}_vec"))) else df
    val (q, c) = (normed(queries, "q"), normed(corpus, "n"))
    val pairs = replicate match {
      case Corpus => q.crossJoin(broadcast(c))
      case Queries => c.crossJoin(broadcast(q))
      case Neither => q.crossJoin(c)
    }
    val keys = queries.columns.toSeq.filter(_ != "q_vec")
    val carried = corpus.columns.toSeq.filter(_ != "n_vec")
    val top = ranked(pairs.filter(pairFilter)
      .select((keys ++ carried).map(col) :+ score.ranking.as(score.name): _*),
      keys, "n_id", score.name, k)
    if (score == L2) top.withColumn(score.name, round(-col(score.name), 6)) else top
  }
}
