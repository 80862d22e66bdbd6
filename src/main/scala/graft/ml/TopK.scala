package graft.ml

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, functions}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.types.LongType

/** Bounded top-k (SURVEY.md §2.8 / §4 optimization 3): the scale path for
  * grouped top-k when the rank-window form would shuffle every candidate
  * row. The heap holds ≤ k entries, so partial aggregation bounds both
  * memory and shuffle volume at k·|groups| regardless of candidate count —
  * the same algorithm as the reference's hand-maintained k-best array
  * (KNNMapper.java:147-159), but spillable and mergeable: the map-side
  * combine that *MapReduce Algorithms for Big Data Analysis* (VLDB 2012)
  * gives as the reason the heap exists.
  *
  * Every engine top-k goes through [[ranked]]; the heap's buffer type and
  * the position-is-rank rule stay behind it. Ordering: score descending,
  * then id ascending — identical to the window form's (score desc, id asc),
  * so both return the same rows.
  */
object TopK {

  case class Scored(id: Long, score: Double)

  private def better(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  /** Aggregator keeping the k best (score desc, id asc) entries per group. */
  def topK(k: Int): Aggregator[Scored, Seq[Scored], Seq[Scored]] =
    new Aggregator[Scored, Seq[Scored], Seq[Scored]] {
      override def zero: Seq[Scored] = Vector.empty

      override def reduce(buf: Seq[Scored], a: Scored): Seq[Scored] = insert(buf, a)

      override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] =
        b2.foldLeft(b1)(insert)

      private def insert(buf: Seq[Scored], a: Scored): Seq[Scored] = {
        if (buf.size < k) (buf :+ a).sortWith(better)
        else if (better(a, buf.last)) (buf.init :+ a).sortWith(better)
        else buf
      }

      override def finish(buf: Seq[Scored]): Seq[Scored] = buf

      override def bufferEncoder: Encoder[Seq[Scored]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
      override def outputEncoder: Encoder[Seq[Scored]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    }

  /** The k best rows of `scored` per `keys` group by (`score` desc, `id`
    * asc): `keys ++ (id, score, rk)`, rk a 1-based LONG rank. `keys = Nil`
    * ranks the whole frame as one group. `id` is a LONG column and `score`
    * a DOUBLE; a caller wanting the smallest values negates its score in
    * and out. Rejects k < 1 when the plan is built. */
  def ranked(scored: DataFrame, keys: Seq[String], id: String, score: String,
             k: Int): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val heap = functions.udaf(topK(k), Encoders.product[Scored])(col(id), col(score)).as("_top")
    val ks = keys.map(col)
    scored.groupBy(ks: _*).agg(heap)
      // the buffer is kept sorted (score desc, id asc), so position = rank
      .select(ks :+ posexplode(col("_top")).as(Seq("_i", "_s")): _*)
      .select(ks ++ Seq(col("_s.id").as(id), col("_s.score").as(score),
        (col("_i") + 1).cast(LongType).as("rk")): _*)
  }
}
