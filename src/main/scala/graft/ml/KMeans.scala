package graft.ml

import graft.Par.ParOps
import graft.functions.Exprs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Distributed Lloyd's k-means over embedding columns, as pure DataFrame
  * dataflow: assignment is an argmin over the broadcast centroid table;
  * the update step re-averages element-wise via posexplode + groupBy.
  *
  * Deterministic by construction: initial centroids are the k lowest-id
  * vectors, argmin ties break on centroid id, and element averages are
  * exact-sum/count — so clusterings are reproducible run-to-run (a property
  * the IVF index below inherits).
  *
  * Per iteration: one broadcast (k×d doubles) + one shuffle of n×d
  * (cluster, pos, value) triples — linear in data size, no pairwise terms.
  */
object KMeans {

  /** emb: (vec_id, vec: array<double>). Returns (centroid_id, centroid). */
  def fit(emb: DataFrame, k: Int, iterations: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("vec")).compacted.persist(StorageLevel.MEMORY_AND_DISK)
    val idW = Window.orderBy(col("vec_id").asc)
    var centroids = e.orderBy(col("vec_id").asc).limit(k)
      .select(row_number().over(idW).cast(LongType).as("centroid_id"), col("vec").as("centroid"))
    for (_ <- 1 to iterations) {
      val assigned = assign(e, centroids)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        // exact DECIMAL mean: independent of partial-aggregation order /
        // partition count — without it, "deterministic by construction"
        // held only per-layout
        .agg(graft.functions.Exprs.davg(col("x"), 12).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("entries"))
        .select(col("centroid_id"),
          transform(col("entries"), x => x.getField("m")).as("centroid"))
        .compacted.localCheckpoint(eager = true)
    }
    // centroids are checkpointed (k rows) — the cached input is dead: release
    e.unpersist(blocking = false)
    centroids
  }

  /** Nearest centroid per vector (squared L2, ties on centroid id). */
  def assign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // the codegen ArrayFold SqDist kernel — bit-equal to the former HOF
    // fold (the test-scope TestOracles.sqdistHof), without the
    // interpreted-lambda tax on the n·k assignment rows
    val dist2 = graft.functions.Exprs.sqdist(col("vec"), col("centroid"))
    // argmin as min(struct(d2, centroid_id, vec)): lexicographic struct
    // ordering IS (d2 asc, ties on centroid id) — centroid ids are unique
    // within a group, so `vec` never reaches comparison. Selects exactly the
    // row the previous rank-window form kept, but partial-aggregates
    // map-side: the shuffle carries n argmin structs instead of sorting all
    // n·k scored rows through an exchange (KMeansIvfSpec pins equality).
    emb.select(col("vec_id"), col("vec"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(dist2.as("d2"), col("centroid_id"), col("vec")).as("s"))
      .groupBy(col("vec_id"))
      .agg(min(col("s")).as("s"))
      .select(col("vec_id"), col("s.vec").as("vec"), col("s.centroid_id").as("centroid_id"))
  }
}
