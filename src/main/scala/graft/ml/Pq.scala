package graft.ml

import graft.Par.ParOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

/** Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI): split each d-dim vector into
  * `m` contiguous subvectors, train an independent `k`-centroid codebook
  * per subspace, and represent every vector by its m nearest-subcentroid
  * ids — d floats collapse to m small ints (this corpus's 64-dim float
  * embeddings: 256 B → 4 B at m=4, a 64× compression where the int8 path
  * (q101) stops at 4×). The codes table is what a 100 TB ANN index ships
  * to searchers; the full vectors are read once, at encode time.
  *
  * Training is GROUPED Lloyd's: all m subspace codebooks train in the SAME
  * dataflow keyed by sub_id — per round one broadcast of m·k subcentroids
  * plus one shuffle of n·d (sub, cluster, pos, value) triples, the cost of
  * ONE full-dim k-means round, not m sequential fits. Per subspace the
  * arithmetic is exactly [[KMeans.fit]] on the sliced input (lowest-id
  * seeds, sequential-fold squared L2, exact DECIMAL(30,12) element means,
  * argmin ties on centroid id), so the q124/q125 oracles replay each
  * subspace with the standing unrolled k-means CTEs — bit-identical,
  * verified by PqSpec's per-subspace parity test.
  *
  * ADC search ([[adcTopK]]; the paper's asymmetric distance computation):
  * each query computes a distance TABLE of m·k cell distances against the
  * broadcast codebooks once; a candidate's distance is then a row-local
  * m-term table-lookup sum over its CODES — O(m) adds per candidate
  * versus O(d) multiply-adds for brute force, with the corpus side
  * streaming as (vec_id, m codes) and the full vectors never touched.
  * Top-k per query through the bounded heap ([[TopK.ranked]]), so the
  * shuffle carries ≤ k·|queries| rows no matter the corpus size.
  */
object Pq {

  /** Row-local explode of (vec_id, vec) into m contiguous subvector slices
    * (vec_id, sub_id ∈ [0, m), sv). d must be divisible by m (trailing
    * dims would silently drop out of every codebook otherwise). */
  private[ml] def subSlices(emb: DataFrame, m: Int): DataFrame =
    emb.select(col("vec_id"), col("vec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"))
      .select(col("vec_id"), col("sub_id"),
        expr(s"slice(vec, sub_id * (size(vec) DIV $m) + 1, size(vec) DIV $m)").as("sv"))

  /** Nearest subcentroid per (vector, subspace): broadcast the m·k-row
    * codebook, sequential-fold squared L2 (the [[KMeans.assign]] fold),
    * ties on centroid id. Returns (vec_id, sub_id, sv, centroid_id). */
  private[ml] def assignCodes(sv: DataFrame, codebooks: DataFrame): DataFrame = {
    val d2 = graft.functions.Exprs.sqdist(col("sv"), col("centroid"))
    // argmin as min(struct(d2, centroid_id, sv)) — the KMeans.assign
    // restructure: identical deterministic selection (ties on centroid id;
    // sv never compared — ids are unique per group), but the n·m·kc scored
    // rows partial-aggregate map-side instead of sorting through a
    // rank-window exchange (PqSpec's per-subspace parity pins it).
    sv.join(broadcast(codebooks), "sub_id")
      .select(col("vec_id"), col("sub_id"),
        struct(d2.as("d2"), col("centroid_id"), col("sv")).as("s"))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(col("s")).as("s"))
      .select(col("vec_id"), col("sub_id"), col("s.sv").as("sv"),
        col("s.centroid_id").as("centroid_id"))
  }

  /** Train the m codebooks. emb: (vec_id, vec: array<double>). Returns
    * (sub_id, centroid_id ∈ [1, k], centroid: array<double>). Seeds are the
    * k lowest-vec_id vectors' slices in every subspace (KMeans.fit's init,
    * per sub), so the whole chain is deterministic and replayable. */
  def fit(emb: DataFrame, m: Int, k: Int, iterations: Int): DataFrame = {
    require(m >= 1, s"Pq m must be >= 1, got $m")
    require(k >= 1, s"Pq k must be >= 1, got $k")
    require(iterations >= 0, s"Pq iterations must be >= 0, got $iterations")
    val sv = subSlices(emb.select(col("vec_id"), col("vec")), m)
      .compacted.persist(StorageLevel.MEMORY_AND_DISK)
    // k·m seed rows numbered per sub through the heap (the corpus never
    // is): rank by −vec_id, exact in a double below 2^53
    val seeds = subSlices(emb.select(col("vec_id"), col("vec")).orderBy(col("vec_id").asc).limit(k), m)
      .select(col("sub_id"), col("vec_id"), negate(col("vec_id").cast(DoubleType)).as("s"), col("sv"))
    var codebooks: DataFrame = TopK.ranked(seeds, Seq("sub_id"), "vec_id", "s", k)
      .select(col("sub_id"), col("rk").as("centroid_id"), col("sv").as("centroid"))
      .compacted.localCheckpoint(eager = true)
    for (_ <- 1 to iterations) {
      codebooks = assignCodes(sv, codebooks)
        .select(col("sub_id"), col("centroid_id"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub_id"), col("centroid_id"), col("pos"))
        // exact DECIMAL mean — order-independent, the KMeans.fit contract
        .agg(graft.functions.Exprs.davg(col("x"), 12).as("m"))
        .groupBy(col("sub_id"), col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("entries"))
        .select(col("sub_id"), col("centroid_id"),
          transform(col("entries"), x => x.getField("m")).as("centroid"))
        .compacted.localCheckpoint(eager = true)
    }
    sv.unpersist(blocking = false)
    codebooks
  }

  /** Encode the corpus: (vec_id, codes: array<long>) with codes[s] = the
    * nearest sub-s centroid id. One broadcast + one vec_id-keyed shuffle of
    * m rows per vector; the output is the 64×-compressed index. */
  def encode(emb: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    assignCodes(subSlices(emb.select(col("vec_id"), col("vec")), m), codebooks)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub_id"), col("centroid_id")))).as("entries"))
      .select(col("vec_id"),
        transform(col("entries"), e => e.getField("centroid_id")).as("codes"))

  /** The k nearest per `keys` group of (keys…, n_id, d2) pair rows, ranked
    * by (d2 asc, n_id asc) through the bounded heap: it keeps the LARGEST
    * scores, so d2 is negated in and out. Other pair columns are dropped.
    * Output: keys ++ (n_id, d2, rk). */
  private def nearest(keys: Seq[String], k: Int)(pairs: DataFrame): DataFrame =
    TopK.ranked(pairs.select(keys.map(col) :+ col("n_id") :+ (-col("d2")).as("d2"): _*),
        keys, "n_id", "d2", k)
      .withColumn("d2", round(-col("d2"), 6))

  /** Asymmetric-distance top-k: for each query vector, the k nearest CODES
    * by the lookup-table distance Σ_s d²(q_s, codebook_s[codes[s]]).
    *
    * queries: (vec_id, vec); codes: [[encode]] output; codebooks: [[fit]]
    * output with `k` centroids per sub. The per-query tables (m·k doubles
    * each) broadcast to the codes scan — the BIG side streams, the small
    * side replicates, the reverse of brute force's geometry. Distances are
    * a left-associated sum in sub_id order and each cell is the standing
    * sequential fold, so the oracle replays them exactly; output rounds to
    * 6 dp with rank ties on n_id. Keys the lookup by sub·k + centroid_id
    * through a map (not a flat array), so a centroid emptied during
    * training cannot shift the indexing. */
  def adcTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
              m: Int, kc: Int, k: Int): DataFrame = {
    val d2 = graft.functions.Exprs.sqdist(col("sv"), col("centroid"))
    val dtab = subSlices(queries.select(col("vec_id"), col("vec")), m)
      .join(broadcast(codebooks), "sub_id")
      .select(col("vec_id").as("q_id"), col("sub_id"), col("centroid_id"), d2.as("d2"))
      .groupBy(col("q_id"))
      .agg(map_from_entries(array_sort(collect_list(struct(
        (col("sub_id").cast(LongType) * kc + col("centroid_id")).cast("int").as("key"),
        col("d2").as("value"))))).as("dt"))
    val dist = (0 until m).map { s =>
      element_at(col("dt"), (lit(s.toLong * kc) + element_at(col("codes"), s + 1)).cast("int"))
    }.reduce(_ + _)
    codes.crossJoin(broadcast(dtab))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), round(dist, 6).as("d2"))
      .transform(nearest(Seq("q_id"), k))
  }

  /** Exact squared-L2 top-k — the ground-truth side of the IVF-PQ
    * retrieval-eval card (q207): queries broadcast against the streaming
    * corpus, distances fold through the bounded heap so ≤ k·|queries| rows
    * reach the shuffle, never |queries|·n. The |queries|·n distance term is
    * quadratic BY DESIGN (the q37/q197 eval posture: ground truth runs on a
    * fixed query sample at any corpus scale — here the q164 1 % sample).
    * Tie-break (d2 asc at 6 dp, n_id asc) — identical to [[ivfPqTopK]] and
    * [[adcTopK]], so recall/MRR cards comparing the two are bit-portable. */
  def bruteL2TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    TopK.topK(queries.select(col("vec_id").as("q_id"), col("vec").as("q_vec")),
      corpus.select(col("vec_id").as("n_id"), col("vec").as("n_vec")), k, TopK.L2,
      col("q_id") =!= col("n_id"), TopK.Queries)

  /** ADC + exact re-rank (the paper's IVFADC+R refinement, §VII): the code
    * table prunes the corpus to a `shortlist`-size candidate set per query,
    * then TRUE squared-L2 distances re-rank just those candidates to the
    * final k. Full vectors are read for only shortlist·|queries| rows — an
    * equi join on candidate id, never a scan — so the exactness of the
    * final ranking costs a bounded fraction of brute force while recall
    * recovers most of what coarse codebooks lose (PqSpec measures both
    * stages on the same corpus). */
  def adcRerankTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
                    corpus: DataFrame, m: Int, kc: Int, shortlist: Int, k: Int): DataFrame = {
    trueL2(adcTopK(queries, codes, codebooks, m, kc, shortlist).select(col("q_id"), col("n_id")),
      queries, corpus).transform(nearest(Seq("q_id"), k))
  }

  /** Candidate (q_id, n_id, …) rows with their true squared-L2 distance
    * `d2` at 6 dp: the full vectors re-attach by id, the queries broadcast. */
  private def trueL2(cands: DataFrame, queries: DataFrame, corpus: DataFrame): DataFrame =
    cands.join(corpus.select(col("vec_id").as("n_id"), col("vec").as("n_vec")), "n_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("vec").as("q_vec"))), "q_id")
      .withColumn("d2", round(graft.functions.Exprs.sqdist(col("q_vec"), col("n_vec")), 6))

  /** Each query's `nprobe` nearest coarse cells by (squared L2 asc,
    * centroid_id asc) through the heap: (q_id, vec, centroid_id, rk,
    * centroid). The query vector is a grouping key, so it rides along; the
    * centroid re-attaches from the broadcast coarse table. */
  private def probes(queries: DataFrame, coarse: DataFrame, nprobe: Int): DataFrame =
    TopK.ranked(queries.select(col("vec_id").as("q_id"), col("vec"))
        .crossJoin(broadcast(coarse))
        .select(col("q_id"), col("vec"), col("centroid_id"),
          negate(graft.functions.Exprs.sqdist(col("vec"), col("centroid"))).as("nd2")),
        Seq("q_id", "vec"), "centroid_id", "nd2", nprobe)
      .join(broadcast(coarse), "centroid_id")

  /** IVF-PQ (Jégou, Douze & Schmid, "Product quantization for nearest
    * neighbor search", TPAMI 2011, §V — the IVFADC system): a coarse
    * k-means quantizer partitions the corpus into cells, PQ codebooks
    * train on the RESIDUALS v − centroid(cell), and a query probes only
    * its `nprobe` nearest cells with the ADC lookup-table distance over
    * each probed cell's residual query. This is the composition that makes
    * PQ billion-scale: [[adcTopK]] scans every code; here the codes join
    * arrives BY CELL (an equi join on the probe list), so the scanned
    * fraction is ~nprobe/kCoarse of the index, and the index itself is the
    * 64×-compressed 4-byte codes.
    *
    * Every stage rides an existing audited ladder: the coarse quantizer is
    * [[KMeans.fit]] (lowest-id seeds, exact DECIMAL means), the codebooks
    * [[fit]] on residual slices, distances the [[adcTopK]] fold; ranks tie
    * on n_id through the bounded heap. Each vector lives in exactly one
    * cell, so probe lists never duplicate a candidate. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, kCoarse: Int, coarseIter: Int,
                m: Int, kc: Int, pqIter: Int, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= kCoarse, s"need 1 <= nprobe <= kCoarse, got $nprobe/$kCoarse")
    ivfPqCandidates(queries, corpus, kCoarse, coarseIter, m, kc, pqIter, nprobe)
      .transform(nearest(Seq("q_id"), k))
  }

  /** [[ivfPqTopK]] for a SWEEP of nprobe values sharing ONE index build —
    * the recall-vs-nprobe tuning measurement (q235): coarse fit, residual
    * PQ, codes and the per-(query, cell) ADC tables are computed once at
    * nprobe = max; each sweep point then filters the probe list by the
    * cell's coarse rank (probing more cells only ADDS candidates, so the
    * np-point ranking is the rank over candidates whose cell rank ≤ np) and
    * runs its own bounded heap. Output: (nprobe, q_id, n_id, d2, rk) —
    * each slice bit-equal to a standalone [[ivfPqTopK]] call at that
    * nprobe (PqSpec pins it). */
  def ivfPqSweepTopK(queries: DataFrame, corpus: DataFrame, kCoarse: Int,
                     coarseIter: Int, m: Int, kc: Int, pqIter: Int,
                     nprobes: Seq[Int], k: Int): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(np => np >= 1 && np <= kCoarse),
      s"need nprobes within 1..$kCoarse, got $nprobes")
    val nps = nprobes.map(np => lit(np.toLong))
    ivfPqCandidates(queries, corpus, kCoarse, coarseIter, m, kc, pqIter, nprobes.max)
      .select(col("q_id"), col("rn"), col("n_id"), col("d2"),
        explode(array(nps: _*)).as("nprobe"))
      .filter(col("rn") <= col("nprobe"))
      .transform(nearest(Seq("nprobe", "q_id"), k))
  }

  /** The IVF-PQ candidates of [[ivfPqTopK]] at `nprobe`: (q_id, rn, n_id,
    * d2), rn the candidate's cell rank among the query's probes and d2 the
    * 6-dp ADC distance over the residual query. */
  private def ivfPqCandidates(queries: DataFrame, corpus: DataFrame, kCoarse: Int,
                              coarseIter: Int, m: Int, kc: Int, pqIter: Int,
                              nprobe: Int): DataFrame = {
    val e = corpus.select(col("vec_id"), col("vec"))
    val coarse = KMeans.fit(e, kCoarse, coarseIter).compacted.localCheckpoint(eager = true)
    // residual corpus: one cell per vector, r = v − centroid(cell)
    val res = KMeans.assign(e, coarse)
      .join(broadcast(coarse), "centroid_id")
      .select(col("vec_id"), col("centroid_id").as("cell"),
        zip_with(col("vec"), col("centroid"), (x, c) => x - c).as("vec"))
      .compacted.localCheckpoint(eager = true)
    val codebooks = fit(res.select(col("vec_id"), col("vec")), m, kc, pqIter)
    val codes = encode(res.select(col("vec_id"), col("vec")), codebooks, m)
      .join(res.select(col("vec_id"), col("cell")), "vec_id")
      .compacted.localCheckpoint(eager = true)
    // probe list: each query's nprobe nearest coarse cells + residual query
    val qr = probes(queries, coarse, nprobe)
      .select(col("q_id"), col("centroid_id").as("cell"), col("rk").as("rn"),
        zip_with(col("vec"), col("centroid"), (x, c) => x - c).as("rv"))
    // per-(query, cell) ADC lookup tables over the residual query's slices
    val sd2 = graft.functions.Exprs.sqdist(col("sv"), col("centroid"))
    val dtab = qr
      .select(col("q_id"), col("cell"), col("rn"), col("rv"),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"))
      .select(col("q_id"), col("cell"), col("rn"), col("sub_id"),
        expr(s"slice(rv, sub_id * (size(rv) DIV $m) + 1, size(rv) DIV $m)").as("sv"))
      .join(broadcast(codebooks), "sub_id")
      .select(col("q_id"), col("cell"), col("rn"), col("sub_id"), col("centroid_id"), sd2.as("d2"))
      .groupBy(col("q_id"), col("cell"), col("rn"))
      .agg(map_from_entries(array_sort(collect_list(struct(
        (col("sub_id").cast(LongType) * kc + col("centroid_id")).cast("int").as("key"),
        col("d2").as("value"))))).as("dt"))
    val dist = (0 until m).map { s =>
      element_at(col("dt"), (lit(s.toLong * kc) + element_at(col("codes"), s + 1)).cast("int"))
    }.reduce(_ + _)
    // the IVF win: codes meet probe lists by CELL — an equi join, never a
    // full-index scan; ~nprobe/kCoarse of the codes are touched per query
    codes.join(dtab, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("rn"), col("vec_id").as("n_id"), round(dist, 6).as("d2"))
  }

  /** IVF-PQ + exact re-rank (the TPAMI'11 §VII refinement applied to the
    * IVFADC path — [[adcRerankTopK]]'s sibling over [[ivfPqTopK]]): the
    * probed-cell ADC shortlist prunes the corpus, then true squared-L2
    * distances re-rank just those candidates. Full vectors are read for
    * shortlist·|queries| rows through an equi join — the final exactness
    * costs a bounded fraction of brute force on top of the ~nprobe/kCoarse
    * index scan. */
  /** [[ivfPqRerankTopK]] for a SWEEP of shortlist sizes sharing ONE index
    * build and ONE ADC pass (q237): the ADC ranking runs once at the max
    * shortlist, and because the bounded heap's (d2 6 dp asc, n_id asc)
    * order makes every smaller shortlist a PREFIX of the larger, the
    * s-point candidate set is exactly `adc_rk <= s` — true-L2 re-rank then
    * runs per point over its slice. Output: (shortlist, q_id, n_id, d2,
    * rk), each slice bit-equal to a standalone [[ivfPqRerankTopK]] call at
    * that shortlist (PqSpec pins it). */
  def ivfPqRerankSweepTopK(queries: DataFrame, corpus: DataFrame, kCoarse: Int,
                           coarseIter: Int, m: Int, kc: Int, pqIter: Int,
                           nprobe: Int, shortlists: Seq[Int], k: Int): DataFrame = {
    require(shortlists.nonEmpty && shortlists.forall(_ >= k),
      s"need every shortlist >= k=$k, got $shortlists")
    val slMax = shortlists.max
    val adc = ivfPqTopK(queries, corpus, kCoarse, coarseIter, m, kc, pqIter,
        nprobe, slMax)
      .select(col("q_id"), col("n_id"), col("rk").as("adc_rk"))
    val sls = shortlists.map(s => lit(s.toLong))
    trueL2(adc, queries, corpus)
      .select(col("q_id"), col("adc_rk"), col("n_id"), col("d2"),
        explode(array(sls: _*)).as("shortlist"))
      .filter(col("adc_rk") <= col("shortlist"))
      .transform(nearest(Seq("shortlist", "q_id"), k))
  }

  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, kCoarse: Int, coarseIter: Int,
                      m: Int, kc: Int, pqIter: Int, nprobe: Int,
                      shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"need shortlist >= k, got $shortlist/$k")
    trueL2(ivfPqTopK(queries, corpus, kCoarse, coarseIter, m, kc, pqIter, nprobe, shortlist)
      .select(col("q_id"), col("n_id")), queries, corpus).transform(nearest(Seq("q_id"), k))
  }
}
