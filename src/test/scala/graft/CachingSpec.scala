package graft

import graft.graph.Graphs
import org.apache.spark.sql.functions._

/** Stress guard for the refcounted pin registry — the two concurrency bugs
  * it has already had (round 5: plan-identical cache entries swapped under
  * concurrently-executing queries; round-5 ADVICE: a pin/unpin TOCTOU
  * window between the count mutation and the CacheManager mutation, closed
  * by running persist/unpersist inside the refcount map's per-key remapping
  * functions). Every worker here pins a PLAN-IDENTICAL frame, so all
  * threads contend on one canonicalized-plan key — the exact interleaving
  * surface of both bugs. */
class CachingSpec extends SparkSpec {

  // Other suites run CONCURRENTLY in this JVM and pin their own frames
  // (operators pin internally), so assertions here must be on THIS spec's
  // plan keys, never on the global registry size. The range lengths below
  // are distinctive on purpose — no other suite builds these plans.
  private def stressFrame =
    spark.range(517).toDF("id").withColumn("y", col("id") % 13)

  test("concurrent scoped pin/release of plan-identical frames stays consistent") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            for (_ <- 1 to 25) Caching.scoped {
              // same plan on every thread -> same CacheManager entry and
              // the same refcount key under contention
              val p = Caching.pin(stressFrame)
              // the action must see a consistent (cached or recomputed)
              // frame even while siblings unpin the shared key
              assert(p.filter(col("y") === 0).count() == 40)
            }
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(errs.isEmpty, s"worker failures: ${errs.size} — ${Option(errs.peek())}")
    // every scope released its pins; the last release dropped THIS key
    assert(Caching.refCountOf(stressFrame) == 0)
  }

  test("nested scopes release inner pins without touching outer ones") {
    val outerPlan = spark.range(1717).toDF("id")
    val innerPlan = spark.range(2929).toDF("id")
    Caching.scoped {
      val outer = Caching.pin(outerPlan)
      Caching.scoped {
        Caching.pin(innerPlan)
        assert(Caching.refCountOf(innerPlan) == 1)
      }
      // inner scope closed: its pin is gone, the outer pin survives
      assert(Caching.refCountOf(innerPlan) == 0)
      assert(Caching.refCountOf(outerPlan) == 1)
      assert(outer.count() == 1717)
    }
    assert(Caching.refCountOf(outerPlan) == 0 && Caching.refCountOf(innerPlan) == 0)
  }

  test("pin is idempotent on its own output (no stacked coalesce, shared refcount)") {
    // Re-pinning a RETURNED frame must key to the same canonicalized plan —
    // round 10's compact() stacked a second coalesce on it, double-caching
    // the frame and splitting the refcount so the outer release leaked the
    // inner entry (ADVICE r10).
    val raw = spark.range(3131).toDF("id").withColumn("z", col("id") % 7)
    Caching.scoped {
      val once = Caching.pin(raw)
      val twice = Caching.pin(once)
      // same key: both pins are counted on ONE entry
      assert(Caching.refCountOf(raw) == 2)
      // no plan growth: the second pin added no operator on top of the first
      assert(twice.queryExecution.analyzed.canonicalized ==
        once.queryExecution.analyzed.canonicalized)
      assert(twice.count() == 3131)
    }
    assert(Caching.refCountOf(raw) == 0)
  }

  test("pageRank keeps a caller's pin of a plan-identical edge frame cached") {
    // pageRank caches its edge table as select(src, dst, w) compacted: the
    // caller below pins the same plan, so both hold one CacheManager entry.
    // A raw unpersist inside the operator would drop it from under the
    // caller; the refcounted pin only releases the operator's own count.
    import spark.implicits._
    val edges = Graphs.normalizeEdges(Seq(
      (71L, 72L, 3L), (72L, 71L, 3L), (72L, 73L, 1L), (73L, 72L, 1L), (71L, 73L, 2L), (73L, 71L, 2L))
      .toDF("src", "dst", "cnt"))
    Caching.scoped {
      val held = Caching.pin(edges.select(col("src"), col("dst"), col("w")))
      assert(held.count() == 6)
      assert(Graphs.pageRank(edges, iterations = 2).count() == 3)
      // storageLevel is the CacheManager's lookup: NONE once the entry is gone
      assert(held.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assert(Caching.refCountOf(held) == 1)
    }
  }
}
