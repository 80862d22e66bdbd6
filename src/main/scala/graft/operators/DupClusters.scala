package graft.operators

import graft.graph.Graphs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Session-scoped memo for the duplicate-cluster assignment — the
  * [[graft.ml.Lsa]]/[[graft.ml.Pca]] component sharing applied to the dedup
  * family: SIX catalog deployments (q70 clusters, q72 purge, q191 soft
  * weights, q220 keep-best, q226 cluster-safe split, q232 size histogram)
  * all read the SAME connected-component labeling of the q33 capped-Jaccard
  * pair graph, so a session running several dedup reports pays the CC chain
  * (shingle scan + capped pair join + O(log n) large-star/small-star
  * rounds) ONCE and every further report reads a checkpointed
  * (doc_id, cluster_id) frame — corpus-row-bounded, the realistic pipeline
  * posture (clusters are computed once per corpus snapshot, then purge /
  * weights / split / histogram all deploy off them).
  *
  * The memo is a [[graft.SessionMemo]] keyed by (session, canonicalized
  * docs plan), like the LSA/PCA ones: Bench restores snapshots around every
  * timed pass so each row still measures its marginal work given what
  * earlier SESSION queries built, never a free hit on its own prime;
  * ScalingProbe clears it between measurements so probe ratios stay
  * cold-for-cold.
  */
object DupClusters {

  private val memo = graft.SessionMemo[DataFrame](Seq(_))

  /** docs: (doc_id, lang, text, …). Returns (doc_id, cluster_id): every doc
    * labeled with the min doc_id of its q33-pair connected component
    * (threshold 0.05, maxShingleDf 64 — the shipped q33/q70 settings);
    * singletons label themselves. Memoized per (session, docs plan); the
    * result is localCheckpoint'ed eagerly, so the build cost is paid inside
    * the first caller. */
  def assignment(docs: DataFrame): DataFrame = {
    val sel = docs.select(col("doc_id"), col("lang"), col("text"))
    memo.computeIfAbsent(sel) {
      import graft.Par.ParOps
      val pairs = Dedup.ngramJaccardPairs(sel, n = 3, threshold = 0.05,
          maxShingleDf = Some(64))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val comp = Graphs.connectedComponents(pairs)
        .withColumnRenamed("v", "doc_id")
      sel.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .compacted.localCheckpoint(eager = true)
    }
  }
}
