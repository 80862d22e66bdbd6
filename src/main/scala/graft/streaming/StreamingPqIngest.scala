package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming IVF-PQ index ingest — the continuous-ingest twin of the batch
  * ANN index family ([[graft.ml.Pq]]), extending the q88 incremental-dedup
  * posture to the vector index: new vectors arrive on a stream, are
  * assigned a coarse cell and PQ-encoded against FIXED models (centroids
  * and codebooks are fixed between refits — the production contract: a
  * live index never retrains per batch, it re-encodes nothing and appends
  * 4-byte codes), and the per-cell posting state admits each vector
  * exactly once, so a replayed log cannot double-ingest.
  *
  * Spark-first shape:
  *   - cell assignment and PQ encoding are ROW-LOCAL expressions over the
  *     plan-embedded model (coarse k + m·k sub-centroids — KB-sized by
  *     contract, the same bounded-model stance as the q84 merge map): the
  *     same codegen squared-L2 fold ([[graft.functions.Exprs.sqdist]]) and
  *     (d2 asc, id asc) tie rule as [[graft.ml.KMeans.assign]] /
  *     [[graft.ml.Pq.assignCodes]], so stream codes are bit-equal to what
  *     the batch encode produces on the same rows (the spec's parity
  *     assertion);
  *   - the ONLY stateful operator is the per-cell `flatMapGroupsWithState`
  *     append: state is the cell's ingested-id set (the index membership a
  *     searcher-side posting list needs anyway), partitioned by cell —
  *     at cluster scale the state store shards with the shuffle exactly
  *     like the batch codes table partitions by cell.
  */
object StreamingPqIngest {

  case class VecRow(vecId: Long, vec: Seq[Double])

  /** One appended posting: the vector's cell, its PQ codes over the cell
    * residual, and the cell's occupancy after this append. */
  case class CodeRow(cell: Long, vecId: Long, codes: Seq[Long], cellSize: Long)

  /** Per-cell state: the ingested vec_id membership (public + Seq-typed —
    * the state class must be encoder-codegen-constructible). */
  case class CellState(ingested: Seq[Long])

  /** Row-local coarse-cell id: argmin over the plan-embedded centroid list
    * by the standing sequential squared-L2 fold, ties on centroid id. */
  def cellExpr(vec: Column, coarse: Seq[(Long, Seq[Double])]): Column = {
    require(coarse.nonEmpty, "coarse centroid list must be non-empty")
    val entries = coarse.map { case (cid, c) =>
      struct(
        graft.functions.Exprs.sqdist(vec, typedLit(c)).as("d2"),
        lit(cid).as("cid"))
    }
    element_at(array_sort(array(entries: _*)), 1).getField("cid")
  }

  /** Row-local residual v − centroid(cell): k chained branches over the
    * plan-embedded centroids (k is broadcast-scale by contract). */
  def residualExpr(vec: Column, cell: Column, coarse: Seq[(Long, Seq[Double])]): Column =
    coarse.foldLeft(lit(null).cast("array<double>")) { case (acc, (cid, c)) =>
      when(cell === lit(cid), zip_with(vec, typedLit(c), (x, y) => x - y)).otherwise(acc)
    }

  /** Row-local PQ codes of `vec` (already the residual for the IVF path)
    * against plan-embedded codebooks ((sub_id, centroid_id, centroid) rows,
    * sub-centroid length = d/m): per sub, argmin by the standing fold with
    * ties on centroid id — bit-equal to [[graft.ml.Pq.assignCodes]]. */
  def codesExpr(vec: Column, codebooks: Seq[(Int, Long, Seq[Double])], m: Int): Column = {
    require(codebooks.nonEmpty, "codebook list must be non-empty")
    val sub = codebooks.head._3.length // d/m — every sub-centroid's width
    val bySub = codebooks.groupBy(_._1)
    val codes = (0 until m).map { s =>
      val sv = slice(vec, s * sub + 1, sub)
      val entries = bySub(s).sortBy(_._2).map { case (_, cid, c) =>
        struct(
          graft.functions.Exprs.sqdist(sv, typedLit(c)).as("d2"),
          lit(cid).as("cid"))
      }
      element_at(array_sort(array(entries: _*)), 1).getField("cid")
    }
    array(codes: _*)
  }

  /** The ingest stream: (vec_id, vec) rows → exactly-once per-cell code
    * appends. Emits each NEW vector's [[CodeRow]] once (Update mode);
    * re-delivered vec_ids are absorbed by the cell state, not re-emitted —
    * the q88 "never re-pair the corpus" stance as "never re-append the
    * index". Models are plan-embedded values from the last refit. */
  def ingest(vectors: Dataset[VecRow], coarse: Seq[(Long, Seq[Double])],
             codebooks: Seq[(Int, Long, Seq[Double])], m: Int): Dataset[CodeRow] = {
    import vectors.sparkSession.implicits._
    val cell = cellExpr(col("vec"), coarse)
    val encoded = vectors.toDF("vec_id", "vec")
      .withColumn("cell", cell)
      .withColumn("codes",
        codesExpr(residualExpr(col("vec"), col("cell"), coarse), codebooks, m))
      .select(col("cell"), col("vec_id"), col("codes"))
      .as[(Long, Long, Seq[Long])]
    encoded.groupByKey(_._1)
      .flatMapGroupsWithState[CellState, CodeRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[(Long, Long, Seq[Long])], state: GroupState[CellState]) =>
          val prev = state.getOption.getOrElse(CellState(Vector.empty))
          var seen = prev.ingested.toSet
          // deterministic intra-batch order (a batch is a set, not a log)
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, vecId, codes) =>
            if (seen(vecId)) None
            else {
              seen += vecId
              Some(CodeRow(cell, vecId, codes, seen.size.toLong))
            }
          }
          state.update(CellState(prev.ingested ++ out.map(_.vecId)))
          out.iterator
      }
  }
}
