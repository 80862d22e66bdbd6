package graft.ml

import graft.Par.ParOps
import graft.functions.Exprs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Latent semantic analysis primitive: the top-k singular directions of a
  * sparse matrix (doc_id, term, w) — classically, the leading LSA "topics"
  * of the TF-IDF matrix — by power iteration on AᵀA with deflation, as pure
  * DataFrame dataflow. This adds the matrix-factorization family to the
  * engine's iterative loops (PageRank: vertex fixpoint; k-means: centroid
  * fixpoint; GD: weight fixpoint; here: eigenvector fixpoint).
  *
  * Engine-portable determinism, the standing ladder: every product is
  * rounded to 12 dp before the exact DECIMAL(30,12) accumulator, every
  * summed result re-rounded to 12 dp, the norm's `sqrt` to 10 dp (the
  * libm precedent), and the normalized vector to 12 dp — each iteration is
  * bit-identical across engines and partitionings, so q103/q105/q109
  * unroll the whole optimization as CTEs. The first component's sign is
  * pinned by Perron-Frobenius (non-negative weights, all-ones start);
  * deflated components are NOT canonicalized — the signed iterate is
  * already bit-identical in any engine, which is what the oracles replay.
  *
  * Component i is extracted by power iteration on AᵀA − Σ_{j<i} λⱼvⱼvⱼᵀ:
  * per round the deflation subtracts round(Σⱼ round(coefⱼ·vⱼ, 12), 12)
  * where coefⱼ = round(λⱼ·(vⱼ·s), 12) — ALL previous components flow
  * through ONE long-format frame (comp, term, v), so a round costs one
  * vocab-keyed dots join + one vocab-keyed apply join regardless of how
  * many components have been deflated, on top of the two cell-table passes.
  *
  * Scale: per round two equi-shuffle join+sum passes over the cell table
  * (A v by term, Aᵀ u by doc) — the vector frames are vocab-/corpus-keyed
  * and are NEVER explicitly broadcast or collected (the only collected
  * value is the 1-double norm — bounded driver state), so nothing bounds
  * the matrix size but the shuffle; AQE upgrades the vector side to a
  * runtime broadcast where it is in fact small. The cell table is cached
  * across rounds; each round eagerly checkpoints ONE frame (the deflated
  * product vv) and the normalize rides into the next round as a lazy
  * projection.
  *
  * Extracted components are memoized per (session, cells-plan, iterations):
  * q103 (component 1), q105 (component 2) and q109 (components 1–3) share
  * one underlying factorization, so running all three in a session costs
  * three phase loops, not six. Entries are vocab-sized checkpointed frames
  * (bounded: one vector per extracted component) in a [[graft.SessionMemo]].
  */
object Lsa {

  private val memo = graft.SessionMemo[Vector[Component]](_.flatMap(_.frames))

  /** cells: (doc_id, term, w), w ≥ 0. Returns (term, weight): the
    * unit-norm top right-singular vector, rounded to 8 dp. */
  def topSingular(cells: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"Lsa.topSingular iterations must be >= 1, got $iterations")
    comps(cells, 1, iterations).last.v
      .select(col("term"), round(col("v"), 8).as("weight"))
  }

  /** Second right-singular direction by deflation (see object doc). */
  def secondSingular(cells: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"Lsa.secondSingular iterations must be >= 1, got $iterations")
    comps(cells, 2, iterations).last.v
      .select(col("term"), round(col("v"), 8).as("weight"))
  }

  /** Per-document loading along the top component: u = A v₁ — each doc's
    * score on the first LSA topic. One term-keyed join + doc-grouped sum
    * over the cell table, reusing the memoized component; the assignment
    * a topic-model pipeline ships after fitting (the q117 shape, sparse). */
  def docScores(cells: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"Lsa.docScores iterations must be >= 1, got $iterations")
    val v = comps(cells, 1, iterations).last.v
    cells.select(col("doc_id"), col("term"), col("w"))
      .join(v, "term")
      .groupBy(col("doc_id"))
      .agg(round(round(dsum(round(col("w") * col("v"), 12), 12), 12), 8).as("score"))
  }

  /** Top-k right-singular directions. Returns (component, term, weight)
    * with component ∈ 1..k in extraction order. */
  def topK(cells: DataFrame, k: Int, iterations: Int): DataFrame = {
    require(k >= 1, s"Lsa.topK k must be >= 1, got $k")
    require(iterations >= 1, s"Lsa.topK iterations must be >= 1, got $iterations")
    comps(cells, k, iterations).zipWithIndex
      .map { case (c, i) =>
        c.v.select(lit((i + 1).toLong).as("component"), col("term"),
          round(col("v"), 8).as("weight"))
      }
      .reduce(_.union(_))
  }

  /** Extract components 1..k, reusing any already memoized for this
    * (session, cells-plan, iterations). Runs inside the memo's per-key
    * lock, so concurrent queries needing the same factorization block and
    * share instead of duplicating the Spark jobs. */
  private def comps(cells: DataFrame, k: Int, iterations: Int): Vector[Component] = {
    val sel = cells.select(col("doc_id"), col("term"), col("w"))
    memo.compute(sel, iterations) { existing =>
      var acc = existing.getOrElse(Vector.empty[Component])
      if (acc.size >= k) acc
      else {
        // ONE compacted cache of the cell table, joined per round by term
        // and by doc_id. Round 15 measured the two alternatives the guide
        // suggests and rejected both (OPTIMIZATION_r15.md): (a) caching the
        // table twice pre-partitioned by each join key — under AQE the
        // InMemoryTableScan of an adaptively-planned cache does not expose
        // its hash partitioning at planning time, so EnsureRequirements
        // re-exchanges the cached side anyway (plan dump committed) and the
        // second cache is pure cost; (b) shuffle_hash hints on the vector
        // side — they forbid the runtime SMJ→broadcast upgrade AQE applies
        // when the post-shuffle vector side is small, which is exactly the
        // scale-adaptive behavior wanted (broadcast locally, equi-shuffle
        // at 100 TB where the vocab outgrows the threshold).
        val c = sel.compacted.persist(StorageLevel.MEMORY_AND_DISK)
        while (acc.size < k) {
          val v = iterate(c, iterations, acc)
          acc :+= new Component(v, () =>
            c.join(v, "term")
              .groupBy(col("doc_id"))
              .agg(round(dsum(round(col("w") * col("v"), 12), 12), 12).as("u"))
              .agg(round(dsum(round(col("u") * col("u"), 12), 12), 12).as("lam")))
        }
        c.unpersist(blocking = false)
        acc
      }
    }.take(k)
  }

  /** The shared power-iteration loop at full 12-dp precision: starts from
    * all-ones, applies `iterations` rounds of v ← normalize((AᵀA)v − defl),
    * where defl subtracts Σⱼ λⱼ(vⱼ·v)vⱼ over all previously extracted
    * components with the rounding ladder the oracles unroll. Returns
    * (term, v). */
  private def iterate(c: DataFrame, iterations: Int, prev: Vector[Component]): DataFrame = {
    val defl = Component.deflation(prev, "term")
    var v = c.select(col("term")).distinct()
      .withColumn("v", lit(1.0d)).compacted.localCheckpoint(eager = true)
    for (_ <- 1 to iterations) {
      val u = c.join(v, "term")
        .groupBy(col("doc_id"))
        .agg(round(dsum(round(col("w") * col("v"), 12), 12), 12).as("u"))
      val raw = c.join(u, "doc_id")
        .groupBy(col("term"))
        .agg(round(dsum(round(col("w") * col("u"), 12), 12), 12).as("vv"))
      // materialize the round's product ONCE: without this checkpoint the
      // norm aggregate and the next round both re-derive the two cell-table
      // joins from scratch — every round paid its heavy work twice
      val vv = graft.OpsExplain.dump(s"Lsa.iterate round body (comp ${prev.size + 1})", defl match {
        case None => raw
        case Some(deflate) =>
          raw.join(deflate(v), "term")
            .select(col("term"), round(col("vv") - col("d"), 12).as("vv"))
      }).compacted.localCheckpoint(eager = true)
      // the norm is ONE double — bounded driver state (the adjudicated
      // Logistic-trainer posture, never corpus-sized): collect it and fold
      // the normalize into the next round as a lazy projection over the
      // checkpointed vv, dropping the per-round normalized-v checkpoint +
      // broadcast-norm job the loop used to pay (guide §1.2: one
      // materialization per round, not two). round(vv / lit(nm), 12) is the
      // identical IEEE divide on the identical doubles the old
      // crossJoin(broadcast(nm)) form produced — bit-equal (LsaParitySpec).
      val nmRow = vv
        .agg(round(sqrt(dsum(round(col("vv") * col("vv"), 12), 12)), 10)).head()
      // nm is null only when vv is empty; the projection over an empty vv
      // is empty either way, so the placeholder value never reaches a row
      val nm = if (nmRow.isNullAt(0)) Double.NaN else nmRow.getDouble(0)
      v = vv.select(col("term"), round(col("vv") / lit(nm), 12).as("v"))
    }
    // the loop leaves v as a lazy projection over the last round's vv; the
    // memo holds materialized frames, so pin the final iterate once
    v.compacted.localCheckpoint(eager = true)
  }
}
