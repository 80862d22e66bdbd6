package graft.operators

import graft.functions.Exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication suite for large-scale corpus curation: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All operators are shuffle-on-key dataflows (no
  * driver-side state), so they scale horizontally: the only joins are on
  * shingle/band/bucket keys.
  *
  * Candidate generation is always *blocked* (shared shingle, shared MinHash-LSH
  * band, shared simhash bit-band) — never an unblocked O(n²) cross join — which
  * is what keeps these runnable at 100 TB.
  */
object Dedup {

  /** Exact dedup via content hash of the normalized token stream (A1-style
    * grouping). Output: (text_hash, rep_doc_id, n_copies). */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(array_join(tokens(col("text")), " ")).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))

  /** Distinct (doc_id, block, shingle) rows: token n-grams per doc.
    *
    * Shingle duplicates only occur WITHIN a document, so the dedup is
    * row-local (`array_distinct` before the explode) — the old corpus-wide
    * `.distinct()` shuffled the entire shingle set through an exchange to
    * remove rows each producing row could have removed itself. Tokens get
    * their own projection (the HOF-CSE contract: `shingles` references its
    * argument three times). */
  def shingleSet(docs: DataFrame, n: Int, blockCol: String = "lang"): DataFrame =
    docs.select(col("doc_id"), col(blockCol).as("block"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("block"),
        explode(array_distinct(shingles(col("toks"), n))).as("shingle"))

  /** Near-duplicate pairs by exact n-gram Jaccard similarity, candidates
    * generated by the shared-shingle join (classic inverted-index blocking):
    * only doc pairs sharing ≥1 shingle (and the same block) are scored.
    * Output: (doc_a, doc_b, n_common, jaccard) with jaccard ≥ threshold.
    *
    * Density guards (both drop hot shingles from the sets BEFORE the join;
    * sizes and Jaccard are then over the remaining discriminative shingles —
    * the standard frequency-capped dedup semantics; pairs whose only overlap
    * is boilerplate intentionally stop matching):
    *   - `maxShingleDocFrac`: relative web-scale skew mitigation (off by
    *     default). A boilerplate shingle appearing in f·N docs contributes
    *     ~(f·N)² join rows on its own — the classic inverted-index hot key.
    *   - `maxShingleDf`: absolute worst-case bound. With every
    *     surviving shingle in ≤ S docs, join work is Σ df² ≤ S·Σ df = O(S·N)
    *     — linear in corpus size no matter how degenerate the vocabulary
    *     (a fractional cap alone still admits Σ df² = Θ(f·N²)). A shingle
    *     shared by > S documents separates no pair at dedup thresholds
    *     anyway; its (f·N)² candidates are pure noise.
    *
    * Both caps default OFF: the library default is the exhaustive (lossless)
    * answer, and truncation is an explicit caller decision — the shipped q33
    * query and the ScalingProbe scale path pass `maxShingleDf = Some(64)`. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.2,
                        maxShingleDocFrac: Option[Double] = None,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    // the shingle set feeds three plan branches (sizes + both join sides):
    // materialize once instead of re-tokenizing the corpus three times
    val shCapped = if (maxShingleDocFrac.isEmpty && maxShingleDf.isEmpty) shingleSet(docs, n)
    else {
      // the uncapped shingle set feeds three branches here (doc count, df
      // scan, anti-join left side) — pin it too, or tokenize runs thrice
      val shAll = graft.Caching.pin(shingleSet(docs, n))
      val dfreq = shAll.groupBy(col("shingle")).agg(countDistinct(col("doc_id")).as("df"))
      val fracHot = maxShingleDocFrac.map { f =>
        val nd = shAll.agg(countDistinct(col("doc_id")).as("n_docs"))
        dfreq.crossJoin(broadcast(nd))
          .filter(col("df").cast(DoubleType) > col("n_docs").cast(DoubleType) * f)
          .select(col("shingle"))
      }
      val absHot = maxShingleDf.map(cap => dfreq.filter(col("df") > cap).select(col("shingle")))
      val hot = (fracHot.toSeq ++ absHot.toSeq).reduce(_ unionByName _).distinct()
      // the hot set is tiny by construction (≤ Σdf/cap entries) — anti-join it away
      shAll.join(hot, Seq("shingle"), "left_anti")
    }
    val sh = graft.Caching.pin(shCapped)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** MinHash signatures: (doc_id, seed, minhash) for seeds 0..numHashes-1.
    * One hash per (shingle, seed) — permutations via seed salting. `portable`
    * switches xxhash64 → [[graft.functions.Exprs.h60]] (md5-derived), which an
    * external SQL engine can reproduce exactly for verification. */
  def minhashSignatures(sh: DataFrame, numHashes: Int, portable: Boolean = false): DataFrame = {
    val h: Column = if (portable) h60(concat(col("seed").cast("string"), lit(":"), col("shingle")))
                    else xxhash64(col("shingle"), col("seed"))
    sh.crossJoin(broadcast(
      sh.sparkSession.range(numHashes).select(col("id").cast(LongType).as("seed"))))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(h).as("mh"))
  }

  /** Per-row MinHash band signatures: `array<struct<band, band_sig>>` computed
    * entirely inside one row — no shuffle, no aggregation. Semantically equal
    * to the grouped pipeline inside [[minhashLshPairs]] (portable mode):
    * min over the shingle multiset equals min over the distinct shingle set,
    * and `array_sort` over the per-band "seed:mh" entries reproduces the
    * `array_sort(collect_list(...))` band signature bit-for-bit
    * (StreamingDedupSpec asserts the parity on real documents).
    *
    * This is the scan-shaped form: a streaming source (or a map-only batch
    * stage) signs each document at read time, so the only shuffle a dedup
    * pipeline needs afterwards is the bucket join/state lookup itself —
    * exactly what a 100 TB continuous-ingest dedup wants. Cost per row is
    * O(numHashes · shingles), the same work the grouped form spreads over a
    * crossJoin + groupBy. Docs with no n-gram (< n tokens) get an empty
    * array — the grouped pipeline drops them too.
    *
    * Since round 5 this is ALSO the batch plan: [[minhashLshPairs]] signs
    * documents with this expression, removing the (doc, seed)-keyed
    * crossJoin + groupBy (numHashes × shingle rows through an exchange)
    * that the grouped form paid before the bucket join. The grouped
    * pipeline ([[minhashSignatures]]) stays as the parity reference the
    * specs check both forms against. */
  def minhashBandSigs(text: Column, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, portable: Boolean = true): Column =
    minhashBandSigsFromShingles(shingles(tokens(text), n), numHashes, bands, portable)

  /** [[minhashBandSigs]] over an already-computed shingle-array column —
    * dispatches to the native single-pass expression
    * ([[graft.functions.MinHashBandSigs]]): one traversal of the shingles
    * updating all numHashes minima in a primitive array, instead of
    * numHashes separate interpreted `transform` walks. The HOF twin (the
    * test-scope `TestOracles.minhashBandSigsHof`) is the pure-Catalyst
    * cross-check; native ≡ HOF ≡ grouped parity is spec-asserted. */
  def minhashBandSigsFromShingles(shs: Column, numHashes: Int = 32,
                                  bands: Int = 8, portable: Boolean = true): Column =
    graft.functions.MinHashBandSigs(shs, numHashes, bands, portable)

  /** MinHash + LSH near-dup pairs: band the signature, bucket-join on
    * (band, band-signature), then verify candidates with exact Jaccard.
    * With `portable = true` every hash in the pipeline is md5-derived and the
    * band signature is the raw sorted "seed:mh" string, so a SQL oracle can
    * replay the whole pipeline bit-for-bit (see q34's DuckDB mirror).
    *
    * `maxBucketSize`: a band bucket holding c docs yields c²
    * candidate pairs, and a boilerplate-heavy corpus concentrates signatures
    * into few buckets — one degenerate bucket is a quadratic blowup. Buckets
    * with > S docs are dropped whole (deterministic truncation: pairs whose
    * every agreeing band is that dense lose their candidacy), bounding join
    * work at Σ c² ≤ S·Σ c = O(S·bands·N). Docs agreeing on S other signatures
    * are near-identical boilerplate better handled by [[exact]] dedup first.
    * Defaults OFF — the library default is lossless; the shipped q34 query
    * and the scale path pass `Some(64)` explicitly.
    * Output: (doc_a, doc_b, jaccard ≥ threshold). */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.5,
                      portable: Boolean = false,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes must be a positive multiple of bands=$bands")
    val sh = graft.Caching.pin(shingleSet(docs, n))
    // per-row signing (minhashBandSigsFromShingles ≡ the grouped
    // minhashSignatures pipeline — parity proven in StreamingDedupSpec/
    // PropertySpec): one scan instead of a (doc, seed)-keyed crossJoin +
    // groupBy, so the first exchange this operator pays is the bucket join
    // itself. The shingle array is its own projection step per the
    // performance contract on minhashBandSigsFromShingles.
    val bandedAll = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles(col("toks"), n).as("shs"))
      .select(col("doc_id"),
        explode(minhashBandSigsFromShingles(col("shs"), numHashes, bands, portable)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_sig").as("band_sig"))
    val banded = maxBucketSize.fold(bandedAll) { cap =>
      // bucket census + anti-join: the banded frame feeds both, so pin it
      val b = graft.Caching.pin(bandedAll)
      // dense can hold up to Σc/cap keys — an equi anti-join, not a forced
      // broadcast (AQE upgrades it to broadcast when it is in fact tiny)
      val dense = b.groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("c"))
        .filter(col("c") > cap).select(col("band"), col("band_sig"))
      b.join(dense, Seq("band", "band_sig"), "left_anti")
    }
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardPairs(sh, candidates, threshold)
  }

  /** Exact-Jaccard verification of an LSH candidate pair set against the
    * (pinned) shingle frame: (doc_a, doc_b) → (doc_a, doc_b, jaccard) with
    * jaccard ≥ threshold. Shared by [[minhashLshPairs]] and
    * [[incrementalMinhashPairs]] — two shingle-keyed equi joins and two
    * size lookups per pair, never a cross product. */
  private def verifyJaccardPairs(sh: DataFrame, candidates: DataFrame,
                                 threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairShingles = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(candidates, "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    pairShingles
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental near-dup detection: every MinHash-LSH pair that TOUCHES the
    * new `batch` (batch×corpus and batch×batch), without ever re-pairing
    * corpus×corpus — the production ingest shape. At 100 TB the corpus's
    * banded signatures are a precomputed index a daily batch probes and then
    * appends to; re-running the full self-join per ingest would redo the
    * quadratic work for pairs that cannot have changed. Here the probe side
    * of the bucket join is batch-only, so join work is
    * O(batch rows × bucket occupancy), independent of corpus².
    *
    * Semantics: exactly `minhashLshPairs(corpus ∪ batch, …)` restricted to
    * pairs with ≥ 1 batch member (IncrementalDedupSpec pins the
    * equivalence). The bucket census for `maxBucketSize` is taken over the
    * full index — a bucket dense in the corpus is just as degenerate for a
    * probe — and capped buckets stop matching for the batch exactly as they
    * do in the full run. doc_ids must be unique across both inputs.
    * Output: (doc_a, doc_b, jaccard ≥ threshold), doc_a < doc_b. */
  def incrementalMinhashPairs(corpus: DataFrame, batch: DataFrame, n: Int = 3,
                              numHashes: Int = 32, bands: Int = 8,
                              threshold: Double = 0.5, portable: Boolean = false,
                              maxBucketSize: Option[Int] = None): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes must be a positive multiple of bands=$bands")
    val all = corpus.withColumn("is_batch", lit(false))
      .unionByName(batch.withColumn("is_batch", lit(true)))
    val sh = graft.Caching.pin(shingleSet(all, n))
    val bandedAll = all
      .select(col("doc_id"), col("is_batch"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_batch"), shingles(col("toks"), n).as("shs"))
      .select(col("doc_id"), col("is_batch"),
        explode(minhashBandSigsFromShingles(col("shs"), numHashes, bands, portable)).as("bk"))
      .select(col("doc_id"), col("is_batch"),
        col("bk.band").as("band"), col("bk.band_sig").as("band_sig"))
    val banded = maxBucketSize.fold(bandedAll) { cap =>
      val b = graft.Caching.pin(bandedAll)
      val dense = b.groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("c"))
        .filter(col("c") > cap).select(col("band"), col("band_sig"))
      b.join(dense, Seq("band", "band_sig"), "left_anti")
    }
    // probe = batch only; index = everything. a.doc_id ≠ b.doc_id (not <):
    // a batch doc must see corpus partners on BOTH sides of the id order.
    // batch×batch pairs meet twice (once per probe direction) — the
    // least/greatest normalization + distinct collapses them.
    val candidates = banded.filter(col("is_batch")).as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    verifyJaccardPairs(sh, candidates, threshold)
  }

  /** Edit-distance near-dup pairs with segment blocking in the style of
    * PassJoin (Li/Deng/Feng/Wang, VLDB 2012 — public algorithm): never an
    * all-pairs join.
    *
    * Each string's own length ℓ is partitioned into maxDist+1 contiguous
    * segments (so segments are non-empty whenever ℓ ≥ maxDist+1 — no
    * empty-string keys that would exact-match everything); the indexed side
    * emits (own length, segment idx, segment). The probe side enumerates
    * every candidate partner length ℓ' ∈ [ℓ−maxDist, ℓ+maxDist] and emits the
    * substrings at ℓ'-geometry offsets shifted by ±maxDist. Pigeonhole: ≤
    * maxDist edits leave at least one indexed segment untouched, and indels
    * displace its copy by at most maxDist — so every true pair shares a
    * (block, partner-length, segment idx, content) key. Strings shorter than
    * 2·maxDist pair only with each other (lev ≥ length gap) and go through a
    * dedicated tiny bucket. Candidates are deduplicated on ids and verified
    * with the exact levenshtein distance.
    *
    * Keys per doc: maxDist+1 indexed + (2·maxDist+1)²·(maxDist+1) probed —
    * O(d³) constants independent of corpus size, so the join stays equi-key
    * bucketed and sub-quadratic for any length distribution.
    * Output: (doc_a, doc_b, dist ≤ maxDist). */
  def editDistancePairs(docs: DataFrame, prefixLen: Int = 40, maxDist: Int = 4,
                        blockCol: String = "lang"): DataFrame = {
    require(maxDist >= 0 && prefixLen >= maxDist + 1,
      s"prefixLen=$prefixLen must cover maxDist+1=${maxDist + 1} non-empty segments")
    val nSeg = maxDist + 1
    val tinyMax = 2 * maxDist
    val d = graft.Caching.pin(
      docs.select(col("doc_id"), col(blockCol).as("block"),
        substring(col("text"), 1, prefixLen).as("s"))
        .withColumn("len", length(col("s"))))

    // segment geometry for column-valued length l and segment index i, same
    // convention as bandSpans: the first l % nSeg segments are one char longer
    def base(l: Column) = floor(l.cast(DoubleType) / nSeg).cast("int")
    def rem(l: Column) = l - base(l) * nSeg
    def segOff(l: Column, i: Column): Column = base(l) * i + least(i, rem(l))
    def segLen(l: Column, i: Column): Column = base(l) + when(i < rem(l), 1).otherwise(0)

    // (delta, seg, sigma) combinations enter as ONE exploded literal array and
    // parameterize a single substring expression — not (2d+1)²(d+1) separate
    // expression-tree copies, which made analysis/codegen time explode
    def keyed(combos: Seq[(Int, Int, Int)]) = {
      val lcol = col("len") + col("c._1")
      val pos = segOff(lcol, col("c._2")) + col("c._3") + 1
      val segKeys = d.select(col("doc_id"), col("block"), col("s"), col("len"),
          explode(typedLit(combos)).as("c"))
        .select(col("doc_id"), col("block"),
          lcol.as("tlen"), col("c._2").as("seg"),
          // the probed window must lie fully inside the string: a truncated
          // probe can never equal a full-length indexed segment, so pruning
          // it here shrinks the join input instead of the verify step
          when(lcol >= nSeg && pos >= 1 &&
              pos + segLen(lcol, col("c._2")) - 1 <= col("len"),
            col("s").substr(pos, segLen(lcol, col("c._2"))))
            .as("content"))
        .filter(col("content").isNotNull) // inapplicable keys switch off via null
      val tiny = d.filter(col("len") <= tinyMax)
        .select(col("doc_id"), col("block"),
          lit(-1).as("tlen"), lit(-1).as("seg"), lit("").as("content"))
      segKeys.unionByName(tiny)
    }
    val idxCombos = (0 until nSeg).map(i => (0, i, 0))
    val probeCombos = for {
      delta <- (-maxDist to maxDist).toSeq
      i <- 0 until nSeg
      sigma <- -maxDist to maxDist
    } yield (delta, i, sigma)
    val cand = keyed(probeCombos).as("a").join(keyed(idxCombos).as("b"),
        col("a.tlen") === col("b.tlen") && col("a.seg") === col("b.seg") &&
          col("a.content") === col("b.content") &&
          col("a.block") === col("b.block") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct() // ids only — prefixes re-join below
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("dist", levenshtein(col("sa"), col("sb")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** SimHash per doc: bit j of the fingerprint is the sign of
    * Σ_t cnt(t) · (±1 by bit j of hash(t)). 64 bits from xxhash64 by default;
    * `portable = true` uses the md5-derived 60-bit [[graft.functions.Exprs.h60]]
    * so an external SQL engine can recompute the identical fingerprint.
    *
    * Computed per-row by [[graft.functions.SimHashBits]] (each term
    * contributes its hash sign once per OCCURRENCE, so the per-term-count
    * form collapses to one pass over the raw token array): fingerprints
    * leave the scan with ZERO shuffles, where the grouped twin
    * ([[simhashGrouped]], kept as the spec-asserted parity reference) pays
    * three — (doc, term) counts, (doc, bit) sums, per-doc assembly. */
  def simhash(docs: DataFrame, portable: Boolean = false): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.functions.SimHashBits(col("toks"), portable).as("simhash"))
      .filter(col("simhash").isNotNull) // token-less docs: grouped form emits no row

  /** Grouped (aggregation-pipeline) twin of [[simhash]] — parity reference. */
  def simhashGrouped(docs: DataFrame, portable: Boolean = false): DataFrame = {
    val nbits = if (portable) 60 else 64
    val counts = TextPipeline.termCounts(TextPipeline.tokenize(docs))
      .withColumn("h", if (portable) h60(col("term")) else xxhash64(col("term")))
    val bits = counts.select(col("doc_id"), col("cnt"), col("h"),
      explode(sequence(lit(0), lit(nbits - 1))).as("j"))
      .withColumn("contrib",
        when(expr("shiftright(h, j) & 1") === 1L, col("cnt"))
          .otherwise(-col("cnt")))
      .groupBy(col("doc_id"), col("j")).agg(sum(col("contrib")).as("s"))
    bits.groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, j)")).otherwise(0L)).as("simhash"))
  }

  /** Contiguous (offset, length) bit-bands covering `nbits`, sizes differing
    * by at most one — the pigeonhole blocking keys for [[simhashPairs]]. */
  private def bandSpans(nbits: Int, nBands: Int): Seq[(Int, Int)] = {
    val sizes = Seq.tabulate(nBands)(i => nbits / nBands + (if (i < nbits % nBands) 1 else 0))
    sizes.scanLeft(0)(_ + _).zip(sizes)
  }

  /** SimHash near-dup pairs within a block (lang): hamming ≤ maxDist.
    *
    * Candidate generation is *banded*, never all-pairs: the fingerprint is
    * split into maxDist+1 contiguous bit-bands, and by pigeonhole any pair
    * within hamming maxDist agrees exactly on at least one band — so the join
    * key is (band_idx, band_bits, block) and only same-bucket pairs are ever
    * verified. Banding itself is lossless by construction (DedupSpec proves it
    * against the brute-force all-pairs answer with the cap off); the q35
    * oracle replays the full banded+capped pipeline in SQL and hash-matches.
    * Cost is Σ bucket² per band instead of n² per block.
    *
    * `maxBucketSize`: near-identical boilerplate concentrates
    * fingerprints, and one degenerate (band, bits) bucket of c docs still
    * costs c² join rows. Buckets with > S docs are dropped whole
    * (deterministic truncation: a pair survives only if SOME band ≤ S-dense
    * agrees), bounding join work at Σ c² ≤ S·Σ c = O(S·bands·N) — linear in
    * corpus size regardless of fingerprint skew. Defaults OFF (lossless
    * library default; hamming ≤ maxDist pairs are exhaustive) — the shipped
    * q35 query and the scale path pass `Some(64)` explicitly. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 4, portable: Boolean = false,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    val nbits = if (portable) 60 else 64
    // maxDist+1 bands must each carry ≥1 bit or banding stops discriminating
    require(maxDist >= 0 && maxDist + 1 <= nbits,
      s"maxDist=$maxDist needs ${maxDist + 1} non-empty bands over $nbits fingerprint bits")
    val s = graft.Caching.pin(
      simhash(docs, portable)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    val bandCols = bandSpans(nbits, maxDist + 1).zipWithIndex.map { case ((off, len), i) =>
      // NB: 1L << 64 wraps to 1 in Scala — a single 64-bit band (maxDist=0,
      // non-portable) needs the all-ones mask spelled explicitly
      val mask = if (len >= 64) -1L else (1L << len) - 1
      struct(lit(i).as("band"),
        shiftright(col("simhash"), off).bitwiseAND(lit(mask)).as("bits"))
    }
    val bandedAll = s.select(col("doc_id"), col("lang"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("lang"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    val banded = maxBucketSize.fold(bandedAll) { cap =>
      // bucket census + anti-join; banded feeds both branches → pin. The
      // dense set is ≤ Σc/cap keys — equi anti-join, AQE broadcasts if tiny
      val b = graft.Caching.pin(bandedAll)
      val dense = b.groupBy(col("lang"), col("band"), col("bits")).agg(count(lit(1)).as("c"))
        .filter(col("c") > cap).select(col("lang"), col("band"), col("bits"))
      b.join(dense, Seq("lang", "band", "bits"), "left_anti")
    }
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct() // ids only — fingerprints re-join below, so the dedup shuffle stays narrow
    cand
      .join(s.select(col("doc_id").as("doc_a"), col("simhash").as("fa")), "doc_a")
      .join(s.select(col("doc_id").as("doc_b"), col("simhash").as("fb")), "doc_b")
      .withColumn("dist", bit_count(col("fa").bitwiseXOR(col("fb"))).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** Set-similarity join by PREFIX FILTERING (Chaudhuri, Ganti & Kaushik,
    * "A primitive operator for similarity joins in data cleaning", ICDE
    * 2006; Xiao et al., PPJoin, WWW 2008) — the third lossless blocking
    * scheme beside the df-capped inverted index (q33) and MinHash banding
    * (q34): under ANY fixed global shingle order, two sets with
    * J(a, b) ≥ t MUST collide inside their (|s| − ⌈t·|s|⌉ + 1)-prefixes,
    * so indexing only prefixes loses nothing. The order is rare-first
    * (df asc, shingle asc): boilerplate shingles — the inverted index's
    * hot keys — sort to the END of every set and fall OUT of prefixes,
    * which is why prefix filtering needs no density cap to bound join
    * work where q33 needs maxShingleDf. Candidates additionally pass the
    * symmetric length filter t·|a| ≤ |b| ∧ t·|b| ≤ |a|; survivors verify
    * by exact Jaccard over the full sets (candidate-bounded joins).
    *
    * Shape: one df count, one per-doc row-local sort+slice (sets are
    * document-sized arrays), one prefix equi-join, two candidate-keyed
    * verify joins. Output matches [[ngramJaccardPairs]]:
    * (doc_a, doc_b, n_common, jaccard ≥ threshold). */
  def prefixJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = graft.Caching.pin(shingleSet(docs, n))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val pre = sh.join(dfreq, "shingle")
      .groupBy(col("doc_id"), col("block"))
      .agg(collect_list(struct(col("df"), col("shingle"))).as("ss"))
      .select(col("doc_id"), col("block"), size(col("ss")).as("sz"),
        expr(s"""slice(transform(array_sort(ss), x -> x.shingle), 1,
          cast(size(ss) - ceil($threshold * size(ss)) + 1 as int))""").as("prefix"))
    val pe = pre.select(col("doc_id"), col("block"), col("sz"),
      explode(col("prefix")).as("shingle"))
    val cand = pe.as("a").join(pe.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.sz").cast(DoubleType) >= lit(threshold) * col("a.sz").cast(DoubleType) &&
          col("a.sz").cast(DoubleType) >= lit(threshold) * col("b.sz").cast(DoubleType))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** ExactSubstr-style duplicated-span extraction (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" §4 — the
    * suffix-array pass, re-expressed as a token-n-gram dataflow): for every
    * document, the MAXIMAL token spans covered by n-grams that also occur in
    * at least `minDocs` DISTINCT documents (cross-doc duplication; the
    * within-doc repetition signal is the Gopher card's territory). Overlapping
    * and touching duplicated n-gram extents merge gaps-and-islands style — a
    * new island starts when the next duplicated start position is more than n
    * past the previous one — so a shared 30-token passage reports as ONE span
    * of 30 covered tokens, not 23 overlapping 8-grams. Positions are 1-based
    * token indices. Output, one row per INPUT doc (zero-filled when clean):
    * (doc_id, n_tokens, n_spans, dup_tokens, max_span, dup_frac_ppm) with
    * dup_frac_ppm = ⌊10⁶ · dup_tokens / n_tokens⌋ (exact integer arithmetic,
    * engine-portable).
    *
    * Scale shape: positional n-grams are one narrow projection of the corpus
    * scan (no self-join anywhere); the dup-gram frame is a hash groupBy on
    * the gram with map-side partial counts; the back-join is equi on the
    * gram; the island merge is a per-doc window whose state is bounded by
    * the doc's own length. Nothing is quadratic in the corpus and nothing
    * collects. At index scale, group on a 128-bit gram hash instead of the
    * string to cut shuffle width (exact strings kept here so the DuckDB
    * oracle replays the operator verbatim). */
  def duplicatedSpans(docs: DataFrame, n: Int, minDocs: Int = 2): DataFrame = {
    // tokens in their own projection; posexplode over the NON-ATTRIBUTE
    // shingles expression — the q73 plan contract. Materializing the gram
    // array as an attribute first lets InferFiltersFromGenerate add a
    // size(grams) > 0 filter that pushdown re-expands into the full
    // tokenize-per-position tree on the scan, evaluated interpreted per
    // row (measured 43 s vs seconds at sf0.1); the rule skips
    // non-attribute generator inputs, and CollapseProject leaves `toks`
    // alone because shingles references it three times.
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val base = tok.select(col("doc_id"),
      size(col("toks")).cast(LongType).as("n_tokens"))
    val pos = tok.select(col("doc_id"),
        posexplode(shingles(col("toks"), n)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"), col("gram"))
    val dup = pos.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("gram"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = pos.join(dup, "gram")
      .select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(cum))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + n).as("covered"))
    val card = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("covered")).as("dup_tokens"),
        max(col("covered")).as("max_span"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(card, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        when(col("n_tokens") > 0,
          expr("(1000000 * coalesce(dup_tokens, 0L)) DIV n_tokens"))
          .otherwise(lit(0L)).as("dup_frac_ppm"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    * algorithm): hash every token k-gram, slide a window of w consecutive
    * hashes over each document, and keep the MINIMUM hash of every full
    * window. The selected set is the doc's fingerprint, with the paper's two
    * guarantees: density ≈ 2/(w+1) of the gram stream (corpus-linear index
    * size, tunable by w), and any shared token run of length ≥ w+k-1 is
    * GUARANTEED to contribute at least one shared fingerprint (the windows
    * over the shared run see the same hashes, and some window lies entirely
    * inside it). Output: (doc_id, fp, first_pos) — one row per distinct
    * fingerprint value per doc, with the earliest 1-based gram position that
    * selected it (deterministic; useful for match alignment).
    *
    * The hash is [[graft.functions.Exprs.h60]] (md5-derived 60-bit), chosen
    * over xxhash64 for the same reason as MinHash's verification mode: an
    * external engine can replay it, so the whole fingerprint pipeline
    * hash-matches a SQL oracle.
    *
    * The window min is computed ROW-LOCALLY ([[winnowMins]]): a document's
    * fingerprints depend only on its own token stream, so there is no
    * reason to shuffle gram rows into a per-doc window — the whole
    * selection runs as column expressions in the scan stage, ZERO shuffles
    * before the fingerprint explode (the first draft paid a doc-keyed
    * window sort + a (doc, fp) groupBy for the same answer). Row-locality
    * is also what makes the streaming twin
    * ([[graft.streaming.StreamingWinnowing]]) stateless. */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    // native fused kernel (gram join + h60 + window min in one JVM loop);
    // the test-scope TestOracles.winnowFingerprintsHof is the pure-Catalyst
    // twin kept for the bit-equality cross-check (WinnowingSpec)
    val wins = tok.select(col("doc_id"),
      graft.functions.WinnowSelect(col("toks"), k, w).as("wins"))
    wins
      .select(col("doc_id"), col("wins"),
        explode(array_distinct(col("wins"))).as("fp"))
      .select(col("doc_id"), col("fp"),
        array_position(col("wins"), col("fp")).cast(LongType).as("first_pos"))
  }

  /** Sliding window-min over a hash array: element i (1-based) is
    * min(hs[i..i+w-1]), one per FULL window; empty below w hashes. Pure
    * column expression — O(|hs|·w) row-local work, usable on a stream. */
  def winnowMins(hs: Column, w: Int): Column =
    when(size(hs) >= w,
      transform(sequence(lit(1), size(hs) - lit(w - 1)),
        i => array_min(slice(hs, i, lit(w)))))
      .otherwise(array().cast("array<bigint>"))

  /** Document-overlap candidates from shared winnowing fingerprints — the
    * MOSS match step as an inverted-index equi join: doc pairs sharing at
    * least `minShared` fingerprints, with the shared count and the
    * containment of the smaller fingerprint set in exact integer ppm.
    * Output: (doc_a, doc_b, n_shared_fp, containment_ppm), doc_a < doc_b.
    *
    * Blocking discipline is [[ngramJaccardPairs]]'s: candidates come ONLY
    * from the fingerprint-keyed self-join (never an unblocked pair scan),
    * and `maxFpDf` optionally drops fingerprints in more than S docs before
    * the join — the same Σ df² ≤ S·N bound, on a stream winnowing already
    * thinned to ~2/(w+1) of the grams. Defaults OFF: lossless answer first,
    * truncation an explicit caller decision. */
  def winnowedOverlapPairs(docs: DataFrame, k: Int, w: Int, minShared: Long,
                           maxFpDf: Option[Long] = None): DataFrame = {
    val fps = winnowFingerprints(docs, k, w).select(col("doc_id"), col("fp"))
    val kept = maxFpDf match {
      case Some(s) =>
        val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") > s).select(col("fp"))
        fps.join(hot, Seq("fp"), "left_anti")
      case None => fps
    }
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared_fp"),
        expr("(1000000 * n_shared_fp) DIV least(n_fp_a, n_fp_b)")
          .as("containment_ppm"))
  }
}
