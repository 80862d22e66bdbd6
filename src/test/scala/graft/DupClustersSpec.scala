package graft

import graft.operators.DupClusters
import org.apache.spark.sql.execution.LogicalRDD

/** Memo contract of [[graft.operators.DupClusters]] through its
  * [[SessionMemo]]: identity on a hit, recomputation equivalence after a
  * clear, deterministic block release on eviction, and the
  * interleaved-snapshot safety property (a restore must never release an
  * entry another live snapshot references — the round-9
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND class of bug). */
class DupClustersSpec extends SparkSpec {

  private def docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def blockRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  test("assignment is memoized by identity and survives recomputation") {
    SessionMemo.clear()
    val a = DupClusters.assignment(docsDf)
    val rowsA = a.orderBy("doc_id").collect().toSeq
    assert(rowsA.nonEmpty)
    assert(DupClusters.assignment(docsDf) eq a, "second call must be a memo hit")
    SessionMemo.clear()
    val b = DupClusters.assignment(docsDf)
    assert(!(b eq a), "clear must evict")
    assert(b.orderBy("doc_id").collect().toSeq == rowsA,
      "recomputed assignment must be identical")
    SessionMemo.clear()
  }

  test("clear releases the entry's checkpoint blocks") {
    SessionMemo.clear()
    val df = DupClusters.assignment(docsDf)
    val id = blockRddId(df)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "memo entry must be a persisted checkpoint")
    SessionMemo.clear()
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "clear must unpersist the entry's blocks")
  }

  test("pruned restore keeps entries any live snapshot references") {
    SessionMemo.clear()
    val snapEmpty = SessionMemo.snapshot()
    val a = DupClusters.assignment(docsDf)
    val id = blockRddId(a)
    val snapA = SessionMemo.snapshot()
    // restore to empty while snapA still references the entry: blocks live
    SessionMemo.restore(snapEmpty, Seq(snapEmpty, snapA))
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "restore must not release an entry a live snapshot references")
    assert(a.count() > 0, "the surviving snapshot's frame must stay readable")
    // restore snapA: the hit must come back by identity
    SessionMemo.restore(snapA, Seq(snapA))
    assert(DupClusters.assignment(docsDf) eq a)
    // now nothing references the entry: the restore releases it
    SessionMemo.restore(snapEmpty, Seq(snapEmpty))
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "restore must release entries no snapshot can resurrect")
    SessionMemo.clear()
  }
}
