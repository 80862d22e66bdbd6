package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import scala.jdk.CollectionConverters._

/** A session-scoped memo for one expensive computation several catalog
  * queries share — the LSA and PCA factorizations, the dup-cluster
  * assignment — the multi-query sharing SAMUEL (EDBT 2018, PAPERS.md)
  * builds over MapReduce. An entry is keyed by the session, the
  * canonicalized analyzed plan of the caller's input frame and the caller's
  * parameters, so every query over the same input plan shares one build.
  *
  * A value holds eagerly checkpointed frames; `units` lists them, and an
  * entry's frames are unpersisted when a restore or [[SessionMemo.clear]]
  * drops it, so eviction never strands persisted blocks.
  *
  * Every memo registers itself: [[SessionMemo.snapshot]],
  * [[SessionMemo.restore]] and [[SessionMemo.clear]] cover all of them in
  * one call. Bench restores a row's pre-warm-up snapshot before each timed
  * pass, so the pass measures the row's marginal work given what EARLIER
  * queries built — never a free hit on its own warm-up's entry.
  */
final class SessionMemo[V] private (units: V => Iterable[DataFrame]) {
  import SessionMemo._

  private val store = new ConcurrentHashMap[Key, V]()

  /** Replace the entry for (session, input plan, params) with
    * `f(existing)`. `f` runs under the map's per-key lock, so concurrent
    * queries needing the same value block on the key and share one build
    * instead of duplicating its Spark jobs. */
  def compute(input: DataFrame, params: Any*)(f: Option[V] => V): V =
    store.compute(Key(input.sparkSession, input.queryExecution.analyzed.canonicalized, params),
      (_, existing) => f(Option(existing)))

  /** The entry for (session, input plan, params), built by `f` on a miss. */
  def computeIfAbsent(input: DataFrame, params: Any*)(f: => V): V =
    compute(input, params: _*)(_.getOrElse(f))

  private def restore(target: Snapshot, live: Iterable[Snapshot]): Unit = {
    def held(s: Snapshot): Map[Key, V] = s.held.getOrElse(this, Map.empty).asInstanceOf[Map[Key, V]]
    val keep = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    // units are listed NOW, not when the snapshot was taken: a component's
    // lazy eigenvalue frame may have been built since, and it belongs to
    // the same surviving value
    (Iterator(target) ++ live).foreach(held(_).values.foreach(units(_).foreach(keep.add)))
    store.values.forEach(units(_).foreach(df => if (keep.add(df)) ml.Checkpoints.unpersist(df)))
    store.clear()
    store.putAll(held(target).asJava)
  }
}

object SessionMemo {

  private final case class Key(session: SparkSession, plan: LogicalPlan, params: Seq[Any])

  /** Every registered memo's entries at one moment. A memo registered
    * after the snapshot was taken — a Scala object initialises on first
    * use — holds no entries in it. */
  final class Snapshot private[SessionMemo] (private[SessionMemo] val held: Map[SessionMemo[_], Map[Key, Any]])

  private val registry = new CopyOnWriteArrayList[SessionMemo[_]]()

  /** A new memo, registered for [[snapshot]], [[restore]] and [[clear]];
    * `units` lists the checkpointed frames a value holds. */
  def apply[V](units: V => Iterable[DataFrame]): SessionMemo[V] = {
    val m = new SessionMemo(units)
    registry.add(m)
    m
  }

  def snapshot(): Snapshot =
    new Snapshot(registry.asScala.map(m => (m: SessionMemo[_]) -> m.store.asScala.toMap).toMap)

  /** Set every memo to its entries in `target`, unpersisting the frames of
    * each current entry that neither `target` nor any snapshot in `live`
    * holds — frames no snapshot can bring back. Survival is by identity of
    * the frames, never by key: an extended LSA component Vector shares its
    * prefix components with older snapshots, and releasing blocks a live
    * snapshot still references fails its later restore with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
  def restore(target: Snapshot, live: Iterable[Snapshot]): Unit =
    registry.forEach(_.restore(target, live))

  /** Empty every memo, unpersisting all their frames (tests, and probe
    * harnesses that unpersist every RDD — a dropped checkpoint block would
    * otherwise poison a surviving entry). */
  def clear(): Unit = restore(new Snapshot(Map.empty), Nil)
}
