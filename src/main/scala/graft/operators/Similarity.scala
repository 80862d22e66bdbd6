package graft.operators

import graft.Par.ParOps
import graft.functions.Exprs._
import graft.ml.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Similarity search over embedding columns (Array[Float] → double math).
  *
  * `bruteTopK` is the exact baseline and `hardNegativeTopK` its label-
  * filtered twin: both are one call of the exact top-k operator
  * [[graft.ml.TopK.topK]], which broadcasts one side and ranks through the
  * bounded heap, so at most k rows per query reach the shuffle. Every other
  * ranking here (`ivfTopK`, `lshTopK`, `rrfFuse`, `mmrRerank`, the
  * `nearDupPairs` block cap) goes through the same heap,
  * [[graft.ml.TopK.ranked]]; none is a rank window.
  * `lshTopK` is a scale path: random-hyperplane sign-LSH buckets bound the
  * candidate set, then exact cosine re-ranks within buckets — the candidate
  * join is on the bucket key, so cost is Σ bucket² instead of n².
  * `ivfTopK` is the other scale path (k-means coarse quantizer).
  *
  * The LSH hyperplanes are ±1 sign vectors derived from md5 of
  * (rep, plane, dim) — deterministic, a fresh independent plane set per
  * repetition, and valid for any dimensionality. Bucketing runs on integer-
  * quantized vectors (floor(x·1e6 + 0.5)), so the sign decisions are exact
  * integer comparisons: no float summation-order sensitivity, and an external
  * SQL engine replays the identical buckets (see q38's DuckDB mirror).
  */
object Similarity {

  /** Cosine near-duplicate pairs within a block column (e.g. label):
    * (id_a, id_b, sim ≥ threshold). Exact within blocks.
    *
    * Scale contract: on continuous-similarity data the OUTPUT of this
    * operator is itself Θ(Σ block²·p) — no candidate-generation trick fixes
    * a quadratic answer (measured here: the sim distribution is continuous
    * through the threshold, so provably-lossless LSH blocking cannot beat
    * all-pairs). The operator therefore bounds its work explicitly: each
    * block is capped to its `maxBlock` lowest-id members (deterministic,
    * documented truncation), which bounds compute and output at
    * blocks·maxBlock². For top-k semantics at scale use [[lshTopK]] /
    * [[ivfTopK]] instead. */
  def nearDupPairs(emb: DataFrame, threshold: Double, blockCol: String = "label",
                   maxBlock: Int = 10000): DataFrame = {
    val e = emb.select(col("vec_id"), col(blockCol).as("block"),
      col("embedding").cast("array<double>").as("vec"))
    // each block's maxBlock lowest ids through the heap: score −vec_id is
    // exact in a double below 2^53
    val members = TopK.ranked(e.select(col("block"), col("vec_id"),
        negate(col("vec_id").cast(DoubleType)).as("s")), Seq("block"), "vec_id", "s", maxBlock)
      .select(col("block"), col("vec_id"))
    // norm per ROW before the self-join: the pair kernel then computes one
    // dot instead of three — bit-identical sims (Exprs.cosinePre contract)
    val capped = e.join(members, Seq("block", "vec_id"), "left_semi")
      .withColumn("nrm", vnorm(col("vec")))
    capped.as("a").join(capped.as("b"),
      col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(cosinePre(dot(col("a.vec"), col("b.vec")),
        col("a.nrm"), col("b.nrm")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("sim"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv:2303.09540):
    * a deterministic k-means quantizer clusters the embedding space, cosine
    * near-duplicate pairs are searched WITHIN clusters only (the cross-cluster
    * pairs k-means prunes are the candidate-generation saving — all-pairs is
    * n², intra-cluster is Σ cluster²), and a keep-first purge drops every
    * vector that duplicates a lower-id one. Returns survivors
    * (vec_id, cluster).
    *
    * Determinism: [[graft.ml.KMeans.fit]] is deterministic by construction
    * (lowest-id init, argmin ties on centroid id, exact DECIMAL means), the
    * pair stage is [[nearDupPairs]]' exact arithmetic, and keep-first needs
    * no connected components — `id_b` of any qualifying pair is dropped, so
    * an external engine replays the ENTIRE chain bit-for-bit (q95).
    *
    * Scale: clustering is linear (one broadcast + one n×d shuffle per
    * round); the pair stage inherits nearDupPairs' explicit `maxBlock` cap —
    * on continuous-similarity data the intra-cluster pair set is itself
    * quadratic in cluster size, so the cap (documented truncation,
    * deterministic lowest-id members) is the work bound, and raising k
    * shrinks clusters instead of raising the cap. */
  def semanticDedup(emb: DataFrame, k: Int = 8, iterations: Int = 3,
                    threshold: Double = 0.3, maxBlock: Int = 10000): DataFrame = {
    require(k >= 1, s"semanticDedup k must be >= 1, got $k")
    require(iterations >= 0, s"semanticDedup iterations must be >= 0, got $iterations")
    require(maxBlock >= 1, s"semanticDedup maxBlock must be >= 1, got $maxBlock")
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val centroids = graft.ml.KMeans.fit(e, k, iterations)
    // assigned feeds two branches (pair generation + survivor anti-join):
    // pin once, caller releases after consuming the result
    val assigned = graft.Caching.pin(
      graft.ml.KMeans.assign(e, centroids)
        .select(col("vec_id"), col("vec").as("embedding"), col("centroid_id")))
    val dropped = nearDupPairs(assigned, threshold, blockCol = "centroid_id", maxBlock)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("centroid_id").as("cluster"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Per-vector symmetric int8 quantization: scale = max|x_i|, q_i =
    * round(x_i / scale · 127) — the 4×-smaller-than-float32 storage format a
    * 100 TB embedding store actually ships. Every step is deterministic
    * double arithmetic (division, multiply, half-away-from-zero round), so
    * an external engine reproduces the EXACT integer codes — unlike float
    * compression there is nothing approximate about the encoding itself,
    * only about the similarities computed from it (q101 measures that error
    * corpus-wide under an exact oracle). Zero vectors quantize to zeros. */
  def quantizeInt8(vec: Column): Column = {
    val s = array_max(transform(vec, x => abs(x)))
    when(s === lit(0.0d), transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x => round(x / s * lit(127.0d), 0).cast(LongType)))
  }

  /** One side of an exact cosine top-k over an embeddings frame:
    * (`p`_id, `p`_carry…, `p`_vec). */
  private def side(df: DataFrame, p: String, carry: String*): DataFrame =
    df.select((col("vec_id").as(s"${p}_id") +: carry.map(c => col(c).as(s"${p}_$c")) :+
        col("embedding").cast("array<double>").as(s"${p}_vec")): _*)

  /** Exact brute-force top-k: for each query row, the k most-cosine-similar
    * corpus rows (self excluded), ranked (sim desc at 6 dp, n_id asc).
    * Output: (q_id, n_id, sim, rk).
    *
    * `replicate` picks the broadcast side; the rows are the same either
    * way. `Corpus` — right when the corpus IS small (q37's full-eval
    * posture on a suite-bounded frame, q197, q153). `Queries` broadcasts the
    * query panel and streams the corpus — right when the queries are a
    * fixed-size sample and the corpus is the thing that grows (the q208
    * 64-query panel at 100 TB: a 64-row broadcast against a streaming corpus
    * keeps the plan corpus-linear with no O(n) replication anywhere —
    * ADVICE r11; the [[graft.ml.Pq.bruteL2TopK]] geometry). q37 and q62 run
    * the two sides against one oracle. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                replicate: TopK.Side = TopK.Corpus): DataFrame =
    TopK.topK(side(queries, "q"), side(corpus, "n"), k, TopK.Cosine,
      col("q_id") =!= col("n_id"), replicate)

  /** Corpus sides up to this many rows broadcast in [[hardNegativeTopK]]
    * (≈ a few hundred MB of doubles at d=64). */
  private val hardNegativeBroadcastMaxRows = 1000000

  /** Hard-negative mining for contrastive training (the batch-mining step
    * of e.g. SBERT/DPR-style encoder training): for every anchor vector,
    * the k most-cosine-similar corpus vectors whose LABEL DIFFERS — the
    * near-misses that carry the training signal, where random negatives
    * carry none. [[bruteTopK]]'s operator with the label-mismatch predicate
    * as its pair filter, applied BEFORE scoring so same-label pairs never
    * enter the heap. Output: (q_id, q_label, n_id, sim, rk). At 100 TB the
    * anchors are the current training minibatch (corpus-independent size)
    * and the corpus side routes through the IVF/PQ index family
    * (q50/q164) instead of the broadcast — this operator is the exact
    * baseline those approximations are measured against. That posture is
    * not a promise: q209_triplet_mining_sampled is the MEASURED catalog
    * row for the fixed-minibatch shape (64 md5-bottom-k anchors, ×10
    * id-shift probe ≈ 1.4× — SCALING.md), the same discipline q208 gives
    * the retrieval-eval card.
    *
    * CONTRACT: the corpus side is broadcast only while it fits — 1M rows
    * ([[hardNegativeBroadcastMaxRows]]) caps it via one cheap pruned count;
    * above the cap the join degrades to a partitioned crossJoin (still
    * bounded-heap below the shuffle) instead of OOMing the driver. Callers
    * at index scale should route the corpus through IVF/PQ. */
  def hardNegativeTopK(anchors: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val fits = corpus.select(col("vec_id")).limit(hardNegativeBroadcastMaxRows + 1).count() <=
      hardNegativeBroadcastMaxRows
    TopK.topK(side(anchors, "q", "label"), side(corpus, "n", "label"), k, TopK.Cosine,
      col("q_label") =!= col("n_label"), if (fits) TopK.Corpus else TopK.Neither).drop("n_label")
  }

  /** Integer quantization of a double vector: floor(x·1e6 + 0.5) per element.
    * floor (not round/cast) because its tie behavior is identical in every
    * IEEE engine — the quantized vectors are bit-portable. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x * lit(1000000.0d) + lit(0.5d)).cast(LongType))

  /** Deterministic ±1 hyperplane component for (rep, plane, dim): the low
    * md5 bit of "rep:plane:dim" — the JVM-side constant equals what a SQL
    * engine computes from md5, and folding `rep` into the derivation gives
    * every repetition an independent plane set. */
  private[graft] def planeSign(rep: Int, plane: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$rep:$plane:$d".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    if ((h & 1L) == 1L) 1L else -1L
  }

  /** Bucket id for one repetition: `planes`-bit signature of integer dot-sign
    * tests against the rep's hyperplanes. `qvec` must be a [[quantize]]d
    * long-array column of length `dim`; the plane signs are plan-time literal
    * arrays, so the whole bucket computation is codegen'd integer arithmetic. */
  def lshBucket(qvec: Column, planes: Int, rep: Int, dim: Int): Column = {
    require(planes >= 1 && planes <= 62, s"planes=$planes must fit a long bucket id")
    require(dim >= 1, s"dim=$dim")
    (0 until planes).map { p =>
      val signs = array((0 until dim).map(d => lit(planeSign(rep, p, d))): _*)
      // codegen integer dot — bit-equal to the HOF fold (exact 64-bit
      // arithmetic), evaluated planes·reps times per row in the bucket scan
      val dot = graft.functions.Exprs.dotLong(qvec, signs)
      when(dot >= 0L, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The sign-LSH bucket rows (`id`, bucket) of a frame's [[quantize]]d
    * `qv` column, one per repetition. `probe` adds each row's `planes`
    * Hamming-1 buckets — the query side of a multi-probe join (Lv et al.,
    * "Multi-Probe LSH", VLDB'07) — flipping bits BEFORE the rep offset folds
    * in. */
  private[graft] def lshBuckets(df: DataFrame, id: String, planes: Int, reps: Int, dim: Int,
                                probe: Boolean): DataFrame = {
    val probeMasks = array((lit(0L) +: (0 until planes).map(p => lit(1L << p))): _*)
    (0 until reps).map { r =>
      val base = df.select(col(id), lshBucket(col("qv"), planes, r, dim).as("b0"))
      val b =
        if (!probe) base.select(col(id), col("b0").as("b"))
        else base.select(col(id), col("b0"), explode(probeMasks).as("m"))
          .select(col(id), col("b0").bitwiseXOR(col("m")).as("b"))
      b.select(col(id), (col("b") + lit(r.toLong << planes)).as("bucket"))
    }.reduce(_ unionByName _)
  }

  /** IVF (inverted-file) approximate top-k: a deterministic k-means coarse
    * quantizer buckets the corpus; each query probes its `nprobe` nearest
    * centroids and exact-ranks only those buckets' vectors. The other scale
    * path next to [[lshTopK]] — cost is Σ(query × probed-bucket sizes)
    * instead of n², with recall controlled by nprobe. */
  def ivfTopK(emb: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 3): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val centroids = graft.Caching.pin(graft.ml.KMeans.fit(e, nlist, kmeansIters))
    val buckets = graft.ml.KMeans.assign(e, centroids)
    // each query probes its nprobe nearest centroid buckets
    val dist2 = graft.functions.Exprs.sqdist(col("vec"), col("centroid"))
    // nearest first: the heap ranks −d2 (exact), ties on centroid_id; the
    // vector is a grouping key, so it rides along without a join
    val probes = TopK.ranked(e.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("vec"), col("centroid_id"), negate(dist2).as("nd2")),
        Seq("vec_id", "vec"), "centroid_id", "nd2", nprobe)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        vnorm(col("vec")).as("q_nrm"), col("centroid_id"))
    // norms per ROW before the bucket join — one dot per candidate pair
    // instead of three; sims bit-identical (Exprs.cosinePre)
    TopK.ranked(probes
      .join(buckets.select(col("vec_id").as("n_id"), col("vec").as("n_vec"),
        vnorm(col("vec")).as("n_nrm"), col("centroid_id")),
        "centroid_id")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), TopK.Cosine.ranking.as("sim")),
      Seq("q_id"), "n_id", "sim", k)
  }

  /** Approximate top-k via sign-LSH buckets + exact re-rank inside each
    * bucket. Recall < 1 by design; each of the `reps` repetitions hashes with
    * an independent plane set (signs derive from (rep, plane, dim)), so the
    * union of candidate sets raises recall. Candidates are deduplicated on
    * (q_id, n_id) BEFORE the vectors are re-attached — the distinct shuffle
    * carries two longs per row, not two embedding arrays.
    *
    * With `probe = true` (default) the QUERY side of the candidate join
    * multi-probes: each query row also visits the `planes` buckets at Hamming
    * distance 1 from its own signature (Lv et al., "Multi-Probe LSH",
    * VLDB'07) — the same asymmetry as [[graft.ml.Knn.classifyLsh]]: the
    * corpus side (the 100 TB side) is hashed exactly once per rep; only the
    * query-side bucket rows multiply by (planes+1). The measured recall
    * delta vs exact top-k is recorded in LshRecallSpec (probing on vs off at
    * sf0.001); probing OFF reproduces the round-3 behavior bit-for-bit. */
  def lshTopK(emb: DataFrame, k: Int, planes: Int = 8, reps: Int = 4,
              probe: Boolean = true, queryPred: Option[Column] = None): DataFrame = {
    require(reps >= 1 && k >= 1, s"reps=$reps, k=$k")
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    // plan-time constant: embedding dimensionality (one-row peek, not a scan).
    // Contract: a fixed-dim embedding column — enforced below rather than
    // silently null-bucketing ragged rows out of the result.
    val first = e.select(size(col("vec")).as("d")).head(1)
    if (first.isEmpty) {
      import org.apache.spark.sql.types._
      return emb.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("q_id", LongType), StructField("n_id", LongType),
          StructField("sim", DoubleType), StructField("rk", LongType))))
    }
    val dim = first.head.getInt(0)
    // the quantized frame feeds all `reps` bucket branches AND both re-rank
    // joins — materialize once via Caching.pin; the caller releases it with
    // graft.Caching.release() once the result is consumed (the round-2
    // session-lifetime pin is gone).
    // nrm rides the pin: computed once per vector at materialization, so the
    // re-rank joins below pay one dot per candidate pair instead of three
    // (sims bit-identical — Exprs.cosinePre)
    val q = graft.Caching.pin(e.withColumn("qv",
      when(size(col("vec")) === dim, quantize(col("vec")))
        .otherwise(raise_error(concat(
          lit(s"lshTopK requires fixed dim=$dim embeddings; got dim "),
          size(col("vec")).cast("string"), lit(" for vec_id "), col("vec_id").cast("string")))))
      .withColumn("nrm", vnorm(col("vec"))))
    def bucketed(probing: Boolean): DataFrame = lshBuckets(q, "vec_id", planes, reps, dim, probing)
    // queryPred (on vec_id) restricts the QUERY side only — the fixed-
    // query-sample eval posture (q208): the corpus/index side stays full,
    // candidate volume and the heap's input shrink to the sample. Each
    // query's ranking is independent, so the restricted run returns
    // exactly the full run's rows for the sampled q_ids.
    val qSide = queryPred.fold(bucketed(probing = probe))(p =>
      bucketed(probing = probe).filter(p))
    val cand = qSide.as("a").join(bucketed(probing = false).as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"))
      .distinct()
    TopK.ranked(cand
      .join(q.select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm")), "q_id")
      .join(q.select(col("vec_id").as("n_id"), col("vec").as("n_vec"),
        col("nrm").as("n_nrm")), "n_id")
      .select(col("q_id"), col("n_id"), TopK.Cosine.ranking.as("sim")),
      Seq("q_id"), "n_id", "sim", k)
  }

  /** Reciprocal rank fusion (Cormack, Clarke & Buettcher 2009): fuse
    * per-query rankings — each (q_id, n_id, rk) — into
    * score = Σ_lists 1/(c + rk), then keep the top k per query. The hybrid
    * retrieval combiner (dense + sparse, exact + ANN): rank-based, so
    * incomparable scores (cosine vs L2 vs BM25) fuse without calibration.
    *
    * Per-list terms round to 12 dp and sum through the exact DECIMAL
    * ladder, so fusion is list- and partition-order-independent (and
    * replays in SQL verbatim); final top-k by the bounded heap
    * ([[graft.ml.TopK.ranked]]) — ≤ k·|queries| rows reach the last shuffle. Candidate volume is
    * already bounded upstream: Σ list lengths per query. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val scored = rankings.map(_.select(col("q_id"), col("n_id"),
        round(lit(1.0d) / (lit(c.toDouble) + col("rk").cast(DoubleType)), 12).as("t")))
      .reduce(_ unionByName _)
    TopK.ranked(scored.groupBy(col("q_id"), col("n_id"))
      .agg(round(dsum(col("t"), 12), 8).as("rrf")), Seq("q_id"), "n_id", "rrf", k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, "The use
    * of MMR, diversity-based reranking...", SIGIR 1998): from each query's
    * top-`n` candidate shortlist, greedily select `k` results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — the diversity pass a retrieval
    * stack runs AFTER ANN (q37/q62/q125 produce the shortlist; this
    * operator trades pure relevance for coverage). Round 1 falls out of
    * the same formula with an empty S (max-sim coalesces to 0), so every
    * round is one shortlist⋈selected LEFT join + a grouped max + a
    * per-query argmax — ALL frames are (|queries|·n)-bounded, never
    * corpus-sized: the corpus appears only through the shortlist.
    *
    * Determinism: the shared 6-dp cosine ladder for both rel and
    * pairwise sim; score = round(λ·rel − (1−λ)·maxsim, 8); ties to the
    * smaller n_id. The oracle unrolls all k greedy rounds.
    * Output: (q_id, n_id, mmr_rank 1..k, mmr_score). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, n: Int, k: Int,
                lambda: Double): DataFrame = {
    require(n >= k && k >= 1, s"need n >= k >= 1, got n=$n k=$k")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda must be in (0, 1], got $lambda")
    // vn rides every candidate/selected row: one dot per (candidate,
    // selected) pair instead of three — sims bit-identical (Exprs.cosinePre)
    val vecs = corpus.select(col("vec_id").as("n_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", vnorm(col("v")))
    var remaining = bruteTopK(queries, corpus, n)
      .select(col("q_id"), col("n_id"), col("sim").as("rel"))
      .join(vecs, "n_id")
      .compacted.localCheckpoint(eager = true)
    var selected: DataFrame = null
    for (r <- 1 to k) {
      val withSim =
        if (selected == null)
          remaining.select(col("q_id"), col("n_id"), col("rel"), lit(0.0d).as("ms"))
        else remaining
          .join(selected.select(col("q_id"), col("v").as("sv"), col("vn").as("svn")),
            Seq("q_id"), "left")
          .select(col("q_id"), col("n_id"), col("rel"),
            round(cosinePre(dot(col("v"), col("sv")), col("vn"), col("svn")), 6).as("cs"))
          .groupBy(col("q_id"), col("n_id"), col("rel"))
          .agg(coalesce(max(col("cs")), lit(0.0d)).as("ms"))
      // per-query argmax: a k = 1 heap over ≤ |queries|·n rows
      val pick = graft.OpsExplain.dump(s"Similarity.mmrRerank round $r pick", TopK.ranked(
          withSim.select(col("q_id"), col("n_id"),
            round(lit(lambda) * col("rel") - lit(1.0d - lambda) * col("ms"), 8).as("score")),
          Seq("q_id"), "n_id", "score", 1)
        .select(col("q_id"), col("n_id"), lit(r.toLong).as("mmr_rank"), col("score").as("mmr_score"))
        .join(vecs, "n_id"))
        .compacted.localCheckpoint(eager = true)
      selected = if (selected == null) pick else selected.union(pick).compacted.localCheckpoint(eager = true)
      remaining = remaining.join(pick.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_anti").compacted.localCheckpoint(eager = true)
    }
    selected.select(col("q_id"), col("n_id"), col("mmr_rank"), col("mmr_score"))
  }
}
