package graft

import graft.Par.ParOps
import graft.functions.Exprs.dsum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bit-parity of the round-15 LSA loop (dual-partitioned cached cell table,
  * shuffle_hash vector builds, normalize folded into the next round via a
  * collected 1-double norm) against the pre-round-15 loop inlined here
  * verbatim (single unpartitioned cache, SMJ joins, per-round normalized-v
  * checkpoint via crossJoin(broadcast(nm))). The rewrite moves NO arithmetic:
  * every product, round and divide is the same IEEE op on the same doubles,
  * so every component — including deflated ones — must match bit for bit. */
class LsaParitySpec extends SparkSpec {
  import spark.implicits._

  /** The pre-round-15 extraction, deflation ladder included. Returns the
    * raw 12-dp component frames (term, v) in extraction order. */
  private def oldComps(cells: DataFrame, k: Int, iterations: Int): Vector[DataFrame] = {
    val c = cells.select(col("doc_id"), col("term"), col("w"))
      .compacted.persist(StorageLevel.MEMORY_AND_DISK)
    var acc = Vector.empty[(DataFrame, DataFrame)] // (v, lam)
    while (acc.size < k) {
      val defl = if (acc.isEmpty) None else Some((
        acc.zipWithIndex
          .map { case ((pv, _), j) => pv.select(lit(j).as("comp"), col("term"), col("v").as("pv")) }
          .reduce(_.union(_)).compacted.localCheckpoint(eager = true),
        acc.zipWithIndex
          .map { case ((_, pl), j) => pl.select(lit(j).as("comp"), col("lam")) }
          .reduce(_.union(_)).compacted.localCheckpoint(eager = true)))
      var v = c.select(col("term")).distinct()
        .withColumn("v", lit(1.0d)).compacted.localCheckpoint(eager = true)
      for (_ <- 1 to iterations) {
        val u = c.join(v, "term")
          .groupBy(col("doc_id"))
          .agg(round(dsum(round(col("w") * col("v"), 12), 12), 12).as("u"))
        val raw = c.join(u, "doc_id")
          .groupBy(col("term"))
          .agg(round(dsum(round(col("w") * col("u"), 12), 12), 12).as("vv"))
        val vv = (defl match {
          case None => raw
          case Some((pvs, lams)) =>
            val dots = pvs.join(v.select(col("term"), col("v").as("s")), "term")
              .groupBy(col("comp"))
              .agg(round(dsum(round(col("pv") * col("s"), 12), 12), 12).as("dot"))
            val coefs = dots.join(lams, "comp")
              .select(col("comp"), round(col("lam") * col("dot"), 12).as("coef"))
            val d = pvs.join(broadcast(coefs), "comp")
              .groupBy(col("term"))
              .agg(round(dsum(round(col("coef") * col("pv"), 12), 12), 12).as("d"))
            raw.join(d, "term")
              .select(col("term"), round(col("vv") - col("d"), 12).as("vv"))
        }).compacted.localCheckpoint(eager = true)
        val nm = vv.agg(round(sqrt(dsum(round(col("vv") * col("vv"), 12), 12)), 10).as("nm"))
        v = vv.crossJoin(broadcast(nm))
          .select(col("term"), round(col("vv") / col("nm"), 12).as("v"))
          .compacted.localCheckpoint(eager = true)
      }
      val lam = c.join(v, "term")
        .groupBy(col("doc_id"))
        .agg(round(dsum(round(col("w") * col("v"), 12), 12), 12).as("u"))
        .agg(round(dsum(round(col("u") * col("u"), 12), 12), 12).as("lam"))
        .compacted.localCheckpoint(eager = true)
      acc :+= ((v, lam))
    }
    c.unpersist(blocking = false)
    acc.map(_._1)
  }

  private def oldTopK(cells: DataFrame, k: Int, iterations: Int): Seq[(Long, String, Double)] =
    oldComps(cells, k, iterations).zipWithIndex.flatMap { case (v, i) =>
      v.select(lit((i + 1).toLong).as("component"), col("term"),
        round(col("v"), 8).as("weight"))
        .as[(Long, String, Double)].collect()
    }

  private def corpus(nDocs: Int, nTerms: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for {
      d <- 1 to nDocs
      t <- 0 until nTerms
      if rnd.nextDouble() < 0.3
    } yield (d.toLong, f"t$t%03d", math.floor(rnd.nextDouble() * 1e6) / 1e4)
    rows.toDF("doc_id", "term", "w")
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  test("round-15 LSA loop is bit-equal to the pre-round-15 loop, 3 components deep") {
    SessionMemo.clear()
    val cells = corpus(nDocs = 120, nTerms = 37, seed = 11)
      .localCheckpoint(eager = true)
    val oldRows = oldTopK(cells, k = 3, iterations = 4)
      .map(r => (r._1, r._2) -> bits(r._3)).toMap
    val newRows = graft.ml.Lsa.topK(cells, k = 3, iterations = 4)
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> bits(r._3)).toMap
    assert(oldRows.keySet == newRows.keySet)
    oldRows.foreach { case (k0, b) =>
      assert(newRows(k0) == b,
        s"$k0: old=${java.lang.Double.longBitsToDouble(b)} " +
          s"new=${java.lang.Double.longBitsToDouble(newRows(k0))}")
    }
    SessionMemo.clear()
  }

  test("round-15 loop schedules strictly fewer Spark jobs than the pre-round-15 loop") {
    // the folded normalize drops one eager checkpoint (= one job) per
    // power-iteration round plus the per-round broadcast-norm build; job
    // counts are deterministic where wall-clock medians are band-noisy
    def countJobs(body: => Unit): Int = PlanProbes.countJobs(spark)(body)
    SessionMemo.clear()
    val cells = corpus(nDocs = 120, nTerms = 37, seed = 23)
      .localCheckpoint(eager = true)
    val oldJobs = countJobs { oldComps(cells, k = 3, iterations = 4).foreach(_.collect()) }
    val newJobs = countJobs {
      graft.ml.Lsa.topK(cells, k = 3, iterations = 4).collect(); ()
    }
    SessionMemo.clear()
    info(s"scheduled jobs: old loop $oldJobs, round-15 loop $newJobs")
    assert(newJobs < oldJobs, s"expected fewer jobs, got old=$oldJobs new=$newJobs")
  }

  test("docScores over the memoized component matches the manual A·v pass bit for bit") {
    SessionMemo.clear()
    val cells = corpus(nDocs = 80, nTerms = 23, seed = 7)
      .localCheckpoint(eager = true)
    val got = graft.ml.Lsa.docScores(cells, iterations = 4)
      .as[(Long, Double)].collect().map(r => r._1 -> bits(r._2)).toMap
    // reference: the same A·v contraction over the OLD loop's RAW 12-dp
    // component 1 (docScores contracts with the unrounded memoized v)
    val vDf = oldComps(cells, k = 1, iterations = 4).head
      .localCheckpoint(eager = true)
    SessionMemo.clear()
    val want = cells.join(vDf, "term")
      .groupBy(col("doc_id"))
      .agg(round(round(dsum(round(col("w") * col("v"), 12), 12), 12), 8).as("score"))
      .as[(Long, Double)].collect().map(r => r._1 -> bits(r._2)).toMap
    assert(got == want)
  }
}
