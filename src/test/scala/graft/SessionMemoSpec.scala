package graft

import graft.ml.Component
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The [[SessionMemo]] contract Bench, ScalingProbe and Verify rely on:
  * identity-based survival on restore, empty-by-default memos registered
  * after a snapshot, one clear for every memo, and one build per key under
  * concurrent callers. */
class SessionMemoSpec extends SparkSpec {

  private def input: DataFrame = spark.range(5).toDF("x")

  private def frame(n: Long): DataFrame = spark.range(n).toDF("v").localCheckpoint(eager = true)

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id)

  test("restore to a snapshot holding Vector(c1) releases c2 but keeps c1, lam included") {
    SessionMemo.clear()
    val memo = SessionMemo[Vector[Component]](_.flatMap(_.frames))
    val snapEmpty = SessionMemo.snapshot()
    val c1 = new Component(frame(1), () => spark.range(1).toDF("lam"))
    memo.compute(input, 4)(_ => Vector(c1))
    val snap1 = SessionMemo.snapshot()
    // the LSA shape: extending to component 2 reuses c1 as the prefix and
    // builds c1's eigenvalue frame only now, after snap1 was taken
    val c2 = new Component(frame(2), () => spark.range(2).toDF("lam"))
    memo.compute(input, 4)(existing => existing.get :+ c2)
    val lam1 = c1.lam
    val lam2 = c2.lam
    SessionMemo.restore(snap1, Seq(snapEmpty, snap1))
    assert(persisted(c1.v) && persisted(lam1), "c1 is held by snap1: its blocks must survive")
    assert(!persisted(c2.v) && !persisted(lam2), "no snapshot holds c2: its blocks must go")
    val back = memo.computeIfAbsent(input, 4)(fail("snap1's entry must be restored"))
    assert(back.size == 1 && (back.head eq c1))
    SessionMemo.clear()
  }

  test("a memo registered after a snapshot is empty in it: restore releases its entries") {
    SessionMemo.clear()
    val snap = SessionMemo.snapshot()
    val late = SessionMemo[DataFrame](Seq(_))
    val df = late.computeIfAbsent(input)(frame(3))
    assert(persisted(df))
    SessionMemo.restore(snap, Seq(snap))
    assert(!persisted(df), "the late memo's entry must be released")
    val rebuilt = frame(3)
    assert(late.computeIfAbsent(input)(rebuilt) eq rebuilt, "the late memo must be empty")
    SessionMemo.clear()
  }

  test("clear unpersists every memo's blocks") {
    val comps = SessionMemo[Vector[Component]](_.flatMap(_.frames))
    val frames = SessionMemo[DataFrame](Seq(_))
    val c = new Component(frame(4), () => spark.range(1).toDF("lam"))
    comps.compute(input, 2)(_ => Vector(c))
    val lam = c.lam
    val df = frames.computeIfAbsent(input)(frame(5))
    assert(Seq(c.v, lam, df).forall(persisted))
    SessionMemo.clear()
    assert(Seq(c.v, lam, df).forall(!persisted(_)), "clear must unpersist every frame")
    val fresh = frame(5)
    assert(frames.computeIfAbsent(input)(fresh) eq fresh, "clear must empty every memo")
    SessionMemo.clear()
  }

  test("four threads computing one key build the value once and share it") {
    SessionMemo.clear()
    val memo = SessionMemo[DataFrame](Seq(_))
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            start.await()
            memo.compute(input, 4)(_.getOrElse {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the others arrive
              frame(6)
            })
          }
        })
      }
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"built ${builds.get} times")
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
    SessionMemo.clear()
  }
}
