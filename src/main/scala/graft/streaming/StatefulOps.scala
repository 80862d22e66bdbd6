package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Arbitrary stateful streaming (SURVEY.md §2.7 W1 scale path): per-key
  * running aggregates via `flatMapGroupsWithState` — the primitive for
  * operators the built-in windowed aggregations can't express (running
  * distinct-ish counters, session rollups, per-entity model state).
  *
  * State is per-key and bounded by the key cardinality; at cluster scale the
  * state store partitions with the shuffle, so this scales exactly like a
  * groupBy on the same key.
  */
object StatefulOps {

  case class KeyedValue(key: Long, value: Double)
  case class RunningStats(key: Long, n: Long, sum: Double, max: Double)

  case class SeqValue(key: Long, seq: Long, value: Double)
  case class EwmaState(key: Long, lastSeq: Long, n: Long, ewma: Double)

  /** Per-key streaming EWMA — the RECURSIVE form s ← round(α·x + (1−α)·s, 10)
    * (infinite window; q140's finite-window batch twin truncates at 24
    * terms), the per-entity smoothing state a metrics pipeline keeps warm.
    * Rows fold in `seq` order WITHIN each micro-batch (the buffer sorts
    * before folding, so intra-batch arrival order cannot corrupt the
    * recursion); cross-batch order is the source's contract — a replayable
    * log delivers batches in order, and the watermark-horizon buffering of
    * StreamingFunnel is the general fix when it does not. The first
    * observation initializes s = x; every state is 10-dp-rounded, so a
    * batch fold over the same ordered rows reproduces the stream state
    * bit for bit (the spec's parity check). */
  def ewma(events: Dataset[SeqValue], alpha: Double): Dataset[EwmaState] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[SeqValue], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.seq, r.value))
          var st = state.getOption.getOrElse(EwmaState(key, Long.MinValue, 0L, 0.0d))
          sorted.foreach { r =>
            st =
              if (st.n == 0L) EwmaState(key, r.seq, 1L, r.value)
              else EwmaState(key, r.seq, st.n + 1,
                graft.functions.SparkRound(alpha * r.value + (1.0d - alpha) * st.ewma, 10))
          }
          state.update(st)
          Iterator.single(st)
      }
  }

  /** Running (count, sum, max) per key, emitted on every update batch. */
  def runningStats(events: Dataset[KeyedValue]): Dataset[RunningStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[RunningStats, RunningStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[KeyedValue], state: GroupState[RunningStats]) =>
          val prev = state.getOption.getOrElse(RunningStats(key, 0L, 0.0d, Double.MinValue))
          var n = prev.n
          var sum = prev.sum
          var mx = prev.max
          rows.foreach { r => n += 1; sum += r.value; mx = math.max(mx, r.value) }
          val next = RunningStats(key, n, sum, mx)
          state.update(next)
          Iterator.single(next)
      }
  }
}
