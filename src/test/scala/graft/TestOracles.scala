package graft

import graft.Par.ParOps
import graft.functions.Exprs.{cosinePre, dot, h60, mapCosine, shingles, sqdist, tokens, vnorm}
import graft.ml.TopK
import graft.operators.{Dedup, Segment, TextPipeline}
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The built-in forms that the engine's rewrites replaced, kept in test scope
  * as parity oracles: each spec compares a rewrite against the exact
  * expression or plan it took the place of. Nothing in the engine calls
  * these. */
object TestOracles {

  /** Interpreted HOF twin of `Exprs.dot` ([[graft.functions.ArrayFold]] `Dot`). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Interpreted HOF twin of `Exprs.sqdist` ([[graft.functions.ArrayFold]]
    * `SqDist`) — the exact expression the L2 kernels used before the
    * codegen swap. */
  def sqdistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)),
      lit(0.0d), (acc, v) => acc + v)

  /** Interpreted HOF twin of `Exprs.mapCosine` ([[graft.functions.MapCosine]])
    * — the exact expression the sparse kernel used before the codegen swap. */
  def mapCosineHof(a: Column, b: Column): Column = {
    def dotMaps(x: Column, y: Column): Column =
      aggregate(
        map_values(map_zip_with(x, y, (_, u, v) => coalesce(u, lit(0.0d)) * coalesce(v, lit(0.0d)))),
        lit(0.0d), (acc, p) => acc + p)
    def norm(m: Column): Column =
      sqrt(aggregate(map_values(m), lit(0.0d), (acc, v) => acc + v * v))
    val denom = norm(a) * norm(b)
    when(denom === 0.0d, lit(0.0d)).otherwise(dotMaps(a, b) / denom)
  }

  /** The four-expression tokenizer chain `Exprs.tokens` compiled to before
    * the [[graft.functions.Tokens]] kernel. */
  def tokensChain(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +"), t => t =!= "")

  /** `Evaluate.classMetrics` before it derived from the confusion matrix:
    * union-distinct classes, three aggregates, three outer joins. */
  def classMetricsJoin(scored: DataFrame): DataFrame = {
    val classes = scored.select(col("truth").as("label"))
      .unionByName(scored.select(col("pred").as("label"))).distinct()
    val tp = scored.filter(col("truth") === col("pred"))
      .groupBy(col("truth").as("label")).agg(count(lit(1)).as("tp"))
    val truths = scored.groupBy(col("truth").as("label")).agg(count(lit(1)).as("n_truth"))
    val preds = scored.groupBy(col("pred").as("label")).agg(count(lit(1)).as("n_pred"))
    val z = lit(0L)
    classRatios(classes
      .join(tp, Seq("label"), "left")
      .join(truths, Seq("label"), "left")
      .join(preds, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), z).as("tp"),
        (coalesce(col("n_pred"), z) - coalesce(col("tp"), z)).as("fp"),
        (coalesce(col("n_truth"), z) - coalesce(col("tp"), z)).as("fn")))
  }

  /** `Evaluate.classMetrics` before it aggregated the scored rows directly:
    * one (truth, pred) confusion aggregate, each cell exploded into a
    * truth-side (tp, n_truth) and a pred-side (n_pred) contribution of its
    * count, then one groupBy(label) — two exchanges. */
  def classMetricsViaConfusion(scored: DataFrame): DataFrame = {
    val n = col("n")
    val z = lit(0L)
    def side(label: String, tp: Column, nTruth: Column, nPred: Column): Column =
      struct(col(label).as("label"), tp.as("tp"), nTruth.as("n_truth"), nPred.as("n_pred"))
    classRatios(scored.groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))
      .select(explode(array(
        side("truth", when(col("truth") === col("pred"), n).otherwise(z),
          when(col("truth").isNotNull, n).otherwise(z), z),
        side("pred", z, z, when(col("pred").isNotNull, n).otherwise(z)))).as("c"))
      .groupBy(col("c.label").as("label"))
      .agg(sum(col("c.tp")).as("tp"), sum(col("c.n_truth")).as("n_truth"),
        sum(col("c.n_pred")).as("n_pred"))
      .select(col("label"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn")))
  }

  /** Precision, recall and F1 over (label, tp, fp, fn), as `classMetrics`
    * derives them. */
  private def classRatios(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, 0.0d)
          .otherwise(col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType)))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, 0.0d)
          .otherwise(col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType)))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0d, 0.0d)
          .otherwise(lit(2.0d) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))

  /** The catalog's TF-IDF before [[TextPipeline.tfidfOf]]: TF ⋈ broadcast
    * IDF, the IDF from the token stream by distinct counts. */
  def tfidfJoin(toks: DataFrame, ref: Boolean = true): DataFrame =
    TextPipeline.tfidf(TextPipeline.tf(TextPipeline.termCounts(toks)), TextPipeline.idf(toks), ref)

  /** The naive-Bayes rows' (train, test, truth) before `truth` left the
    * token stream: all three from one labeled token frame over `docs`,
    * `truth` its distinct (doc_id, label) test pairs. */
  def nbPartsJoin(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val toks = TextPipeline.tokenize(docs, keep = Seq("doc_id", "lang"))
      .withColumnRenamed("lang", "label")
    val test = toks.filter(col("doc_id") % 10 === 0)
    (toks.filter(col("doc_id") % 10 =!= 0), test.drop("label"),
      test.select(col("doc_id"), col("label").as("truth")).distinct())
  }

  /** `NaiveBayes`' model before it was fitted on the driver: lazy frames,
    * the scalars as 1-row frames folded into the scoring plan. */
  case class LazyNbModel(termCounts: DataFrame, classTotals: DataFrame, priors: DataFrame,
                         vocabSizeDf: DataFrame)

  /** `NaiveBayes.train` before it was fitted on the driver. */
  def nbTrainLazy(toks: DataFrame): LazyNbModel = {
    val termCounts = toks.groupBy(col("label"), col("term")).agg(count(lit(1)).as("tcnt"))
    val classTotals = termCounts.groupBy(col("label")).agg(sum(col("tcnt")).as("total"))
    val docs = toks.select(col("doc_id"), col("label")).distinct()
    val nDocsDf = docs.agg(count(lit(1)).as("n_docs"))
    val priors = docs.groupBy(col("label")).agg(count(lit(1)).as("n_d"))
      .crossJoin(broadcast(nDocsDf))
      .select(col("label"),
        (col("n_d").cast(DoubleType) / col("n_docs").cast(DoubleType)).as("prior"))
    val vocabSizeDf = termCounts.agg(countDistinct(col("term")).as("v"))
    LazyNbModel(termCounts, classTotals, priors, vocabSizeDf)
  }

  /** `NaiveBayes.scores` over the lazy model: (doc_id, label, score). */
  def nbScoresLazy(testToks: DataFrame, model: LazyNbModel,
                   referenceCompat: Boolean): DataFrame = {
    val testCounts = testToks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(model.termCounts.select(col("term")).distinct()), "term")
    val classes = model.classTotals.join(model.priors, "label")
      .crossJoin(broadcast(model.vocabSizeDf))
    val scored = testCounts
      .crossJoin(broadcast(classes))
      .join(broadcast(model.termCounts), Seq("label", "term"), "left")
      .na.fill(0L, Seq("tcnt"))
      .withColumn("logp",
        log((col("tcnt").cast(DoubleType) + lit(1.0d)) /
          (col("total").cast(DoubleType) + col("v").cast(DoubleType))))
    val score =
      if (referenceCompat)
        abs(product(pow(round(col("logp"), 10), col("cnt"))) * log(max(col("prior"))))
      else
        sum(col("cnt").cast(DoubleType) * col("logp")) + log(max(col("prior")))
    scored.groupBy(col("doc_id"), col("label")).agg(score.as("score"))
  }

  /** `NaiveBayes.predict` over the lazy model: (doc_id, pred). */
  def nbPredictLazy(testToks: DataFrame, model: LazyNbModel,
                    referenceCompat: Boolean): DataFrame = {
    val ord = if (referenceCompat) col("score").asc else col("score").desc
    val w = Window.partitionBy(col("doc_id")).orderBy(ord, col("label").asc)
    nbScoresLazy(testToks, model, referenceCompat)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred"))
  }

  /** The exact top-k window form that [[graft.ml.TopK.topK]] replaced: the
    * same sides, pair filter and 6-dp scores, ranked by a `row_number()`
    * window per query over (score desc, n_id asc) — ascending for
    * [[graft.ml.TopK.L2]] — with the corpus broadcast. Output columns in
    * the operator's order: query columns, corpus columns, score, rk. */
  def topKWindow(queries: DataFrame, corpus: DataFrame, k: Int, score: TopK.Score,
                 pairFilter: Column = lit(true)): DataFrame = {
    def normed(df: DataFrame, p: String): DataFrame =
      if (score == TopK.Cosine) df.withColumn(s"${p}_nrm", vnorm(col(s"${p}_vec"))) else df
    val (q, n) = (col("q_vec"), col("n_vec"))
    val (value, order) = score match {
      case TopK.Cosine =>
        (round(cosinePre(dot(q, n), col("q_nrm"), col("n_nrm")), 6), col(score.name).desc)
      case TopK.SparseCosine => (round(mapCosine(q, n), 6), col(score.name).desc)
      case TopK.L2 => (round(sqdist(q, n), 6), col(score.name).asc)
    }
    val keys = queries.columns.toSeq.filter(_ != "q_vec")
    val carried = corpus.columns.toSeq.filter(_ != "n_vec")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order, col("n_id").asc)
    normed(queries, "q").crossJoin(broadcast(normed(corpus, "n")))
      .filter(pairFilter)
      .withColumn(score.name, value)
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select((keys ++ carried :+ score.name :+ "rk").map(col): _*)
  }

  /** One side of `Similarity.bruteTopK` over an embeddings frame. */
  private def embSide(df: DataFrame, p: String, carry: String*): DataFrame =
    df.select((col("vec_id").as(s"${p}_id") +: carry.map(c => col(c).as(s"${p}_$c")) :+
      col("embedding").cast("array<double>").as(s"${p}_vec")): _*)

  /** `Similarity.bruteTopK` as a rank window: (q_id, n_id, sim, rk). */
  def bruteTopKWindow(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topKWindow(embSide(queries, "q"), embSide(corpus, "n"), k, TopK.Cosine,
      col("q_id") =!= col("n_id"))

  /** `Similarity.hardNegativeTopK` as a rank window: (q_id, q_label, n_id,
    * sim, rk). */
  def hardNegativeWindow(anchors: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topKWindow(embSide(anchors, "q", "label"), embSide(corpus, "n", "label"), k, TopK.Cosine,
      col("q_label") =!= col("n_label")).drop("n_label")

  /** `Knn.neighbors` as a rank window, its query side not spread over the
    * cores: (q_id, n_id, n_label, sim, rk). */
  def knnNeighbors(test: DataFrame, train: DataFrame, k: Int): DataFrame =
    topKWindow(test.select(col("id").as("q_id"), col("vec").as("q_vec")),
      train.select(col("id").as("n_id"), col("label").as("n_label"), col("vec").as("n_vec")),
      k, TopK.Cosine)

  /** `Knn.neighborsSparse` as a rank window, its query side not spread. */
  def knnNeighborsSparse(test: DataFrame, train: DataFrame, k: Int): DataFrame =
    topKWindow(test.select(col("id").as("q_id"), col("features").as("q_vec")),
      train.select(col("id").as("n_id"), col("label").as("n_label"), col("features").as("n_vec")),
      k, TopK.SparseCosine)

  /** The id-only heap entry [[graft.ml.TopK]] kept before its entries
    * became whole rows. */
  case class Scored(id: Long, score: Double)

  /** The id-only heap: an Aggregator keeping the k best (score desc, id
    * asc) entries per group, re-sorting its buffer on every insert. */
  def scoredTopK(k: Int): Aggregator[Scored, Seq[Scored], Seq[Scored]] =
    new Aggregator[Scored, Seq[Scored], Seq[Scored]] {
      private def better(a: Scored, b: Scored): Boolean =
        a.score > b.score || (a.score == b.score && a.id < b.id)
      override def zero: Seq[Scored] = Vector.empty
      override def reduce(buf: Seq[Scored], a: Scored): Seq[Scored] = insert(buf, a)
      override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] =
        b2.foldLeft(b1)(insert)
      private def insert(buf: Seq[Scored], a: Scored): Seq[Scored] =
        if (buf.size < k) (buf :+ a).sortWith(better)
        else if (better(a, buf.last)) (buf.init :+ a).sortWith(better)
        else buf
      override def finish(buf: Seq[Scored]): Seq[Scored] = buf
      override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
      override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
    }

  /** The typed pipeline every engine top-k wrote out before
    * [[graft.ml.TopK.ranked]]: `groupByKey → mapValues(Scored) →
    * agg(topK) → posexplode` over the id-only heap. The typed key needs one
    * static type, so keys travel as strings: output is (keys as strings…,
    * id, score, rk). */
  def topKTyped(scored: DataFrame, keys: Seq[String], id: String, score: String,
                k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val key =
      if (keys.isEmpty) typedLit(Seq.empty[String])
      else array(keys.map(c => col(c).cast("string")): _*)
    scored.select(key, col(id).cast(LongType), col(score).cast(DoubleType))
      .as[(Seq[String], Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => Scored(r._2, r._3))
      .agg(scoredTopK(k).toColumn.name("top"))
      .toDF("key", "top")
      .select(col("key"), posexplode(col("top")).as(Seq("i", "s")))
      .select(keys.indices.map(j => col("key").getItem(j).as(keys(j))) ++
        Seq(col("s.id").as(id), col("s.score").as(score),
          (col("i") + 1).cast(LongType).as("rk")): _*)
  }

  /** `Knn`'s majority vote over [[knnNeighbors]] output. */
  def knnVote(nbrs: DataFrame): DataFrame = {
    val votes = nbrs.groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("n_label").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_label").as("pred"))
  }

  /** HOF twin of [[graft.operators.Segment.segment]]: (1) per dictionary
    * word, scan all occurrence positions (a filter over character positions
    * — the O(len·|dict|) work); (2) sort the sparse (pos, rank) match list and greedily fold over IT.
    * Taking the first match with pos ≥ cursor from the (pos asc,
    * longest-first) order is exactly MaxMatch. Interpreted-lambda cost per
    * (char × word) makes this the slow reference path — kept for test parity
    * with the native expression, mirroring dot/dotHof. */
  def segmentHof(docs: DataFrame, dict: Seq[String], textCol: String = "text",
                 keep: Seq[String] = Seq("doc_id")): DataFrame = {
    require(dict.nonEmpty && dict.forall(_.nonEmpty), "dictionary words must be non-empty")
    val ordered = dict.distinct.sortBy(w => (-w.length, w))
    val rankToWord = array(ordered.map(lit(_)): _*)
    val s = Segment.despace(col(textCol))
    // rank = position in the (length desc, word asc) order, so an ascending
    // struct sort puts the longest candidate first at every position
    val matchArrays = ordered.zipWithIndex.map { case (w, r) =>
      transform(
        filter(sequence(lit(1), length(s)), i => s.substr(i, lit(w.length)) === w),
        i => struct(i.as("pos"), lit(r).as("rank")))
    }
    val all = array_sort(flatten(array(matchArrays: _*)))
    def word(m: Column) = element_at(rankToWord, m.getField("rank") + 1)
    val zero = struct(lit(1).as("pos"), array().cast("array<string>").as("out"))
    val folded = aggregate(all, zero, (acc, m) =>
      when(m.getField("pos") < acc.getField("pos"), acc)
        .otherwise(struct(
          (m.getField("pos") + length(word(m))).as("pos"),
          concat(acc.getField("out"), array(word(m))).as("out"))),
      acc => acc.getField("out"))
    docs.select(keep.map(col) :+ explode(folded).as("name"): _*)
  }

  /** Higher-order-function twin of
    * [[graft.operators.Dedup.minhashBandSigsFromShingles]] (parity
    * reference; prefer the native form in plans).
    *
    * PERFORMANCE CONTRACT: pass `shs` as a *materialized column* (its own
    * projection step), never as an inline `shingles(tokens(...))` expression.
    * This tree references the shingle array numHashes+1 times, and
    * higher-order functions get neither codegen nor common-subexpression
    * elimination — an inline subtree is re-tokenized per reference (measured:
    * the ×10 ScalingProbe q34 run went from ~2 min to not finishing in 10,
    * exactly the 33× recompute). With a column reference, CollapseProject
    * declines to re-inline a non-cheap alias used more than once, so the
    * array is computed once per row. */
  def minhashBandSigsHof(shs: Column, numHashes: Int = 32,
                         bands: Int = 8, portable: Boolean = true): Column = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes must be a positive multiple of bands=$bands")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val entries = (b * rowsPerBand until (b + 1) * rowsPerBand).map { seed =>
        val mh = if (portable) array_min(transform(shs, x => h60(concat(lit(s"$seed:"), x))))
                 else array_min(transform(shs, x => xxhash64(x, lit(seed.toLong))))
        concat(lit(s"$seed:"), mh.cast("string"))
      }
      val joined = array_join(array_sort(array(entries: _*)), ",")
      struct(lit(b.toLong).as("band"),
        (if (portable) joined else xxhash64(joined).cast("string")).as("band_sig"))
    }
    when(size(shs) > 0, array(bandStructs: _*))
      .otherwise(array().cast("array<struct<band:bigint,band_sig:string>>"))
  }

  /** Interpreted HOF twin of
    * [[graft.operators.Dedup.winnowFingerprints]] — the cross-check
    * oracle for [[graft.functions.WinnowSelect]]'s bit-equality. Pays an
    * interpreted lambda per (gram × window) element; the fused native
    * kernel replaced it in the shipped path (round-12 session 2). */
  def winnowFingerprintsHof(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val hs = tok.select(col("doc_id"),
      transform(shingles(col("toks"), k), g => h60(g)).as("hs"))
    val wins = hs.select(col("doc_id"), Dedup.winnowMins(col("hs"), w).as("wins"))
    wins
      .select(col("doc_id"), col("wins"),
        explode(array_distinct(col("wins"))).as("fp"))
      .select(col("doc_id"), col("fp"),
        array_position(col("wins"), col("fp")).cast(LongType).as("first_pos"))
  }

  /** Interpreted HOF twin of
    * [[graft.operators.TextStats.charEntropy]] — the cross-check oracle for
    * [[graft.functions.CharEntropyStats]]'s bit-equality (TextStatsSpec). */
  def charEntropyHof(docs: DataFrame): DataFrame = {
    val clean = docs
      .select(col("doc_id"), array_join(tokens(col("text")), " ").as("clean"))
      .filter(length(col("clean")) >= 1)
    val chars = expr("transform(sequence(1, length(clean)), i -> substring(clean, i, 1))")
    val dist = array_sort(array_distinct(chars))
    val cnts = transform(dist, c => size(filter(chars, x => x === c)).cast(DoubleType))
    val s = aggregate(transform(cnts, c => round(c * log(c), 12)),
      lit(0d), (acc, x) => acc + x)
    val L = length(col("clean")).cast(DoubleType)
    clean.select(col("doc_id"),
      length(col("clean")).cast(LongType).as("n_chars"),
      size(dist).cast(LongType).as("n_alphabet"),
      round(round(log(L), 12) - s / L, 6).as("entropy"))
  }

  /** General PageRank as written before [[graft.graph.Graphs]] shared one
    * random-walk body: its own set-up, dangling mass summed as a long and
    * scaled in the update. */
  def pageRankGeneralLoop(edges: DataFrame, iterations: Int = 10,
                          damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).compacted.localCheckpoint(eager = true)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().compacted.localCheckpoint(eager = true)
    val n = verts.count()
    val dangling = verts.join(e.select(col("src").as("v")).distinct(),
      Seq("v"), "left_anti").compacted.localCheckpoint(eager = true)
    var ranks = verts.withColumn("rank", lit(1.0d / n))
    for (_ <- 1 to iterations) {
      val dmDf = ranks.join(dangling, "v")
        .agg(coalesce(sum(floor(col("rank") * lit(1.0e12d) + lit(0.5d)).cast(LongType)),
          lit(0L)).as("dm"))
      val dmTerm = col("dm").cast(DoubleType) / lit(1.0e12d) / lit(n.toDouble)
      val inc = e.join(ranks, e("src") === ranks("v"))
        .groupBy(col("dst").as("v2"))
        .agg((sum(floor(col("rank") * col("w") * lit(1.0e18d) + lit(0.5d))
          .cast(LongType)).cast(DoubleType) / lit(1.0e18d)).as("inc"))
      ranks = verts.join(inc, verts("v") === inc("v2"), "left")
        .crossJoin(dmDf)
        .select(col("v"), round(lit((1.0d - damping) / n) +
          lit(damping) * (coalesce(col("inc"), lit(0.0d)) + dmTerm), 12).as("rank"))
        .compacted.localCheckpoint(eager = true)
    }
    ranks
  }

  /** Personalized PageRank as written before the shared random-walk body. */
  def personalizedPageRankLoop(edges: DataFrame, seeds: DataFrame, iterations: Int = 10,
                               damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).compacted.localCheckpoint(eager = true)
    val verts = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().compacted.localCheckpoint(eager = true)
    val sd = verts.join(seeds.select(col("v")), Seq("v"), "left_semi")
      .compacted.localCheckpoint(eager = true)
    val nS = sd.count()
    require(nS > 0, "personalizedPageRank needs at least one seed present in the graph")
    val dangling = verts.join(e.select(col("src").as("v")).distinct(),
      Seq("v"), "left_anti").compacted.localCheckpoint(eager = true)
    val seedMark = verts.join(sd.select(col("v"), lit(1.0d).as("sm")), Seq("v"), "left")
      .select(col("v"), coalesce(col("sm"), lit(0.0d)).as("sm"))
      .compacted.localCheckpoint(eager = true)
    var ranks = seedMark
      .select(col("v"), (col("sm") * lit(1.0d / nS)).as("rank"))
      .compacted.localCheckpoint(eager = true)
    for (_ <- 1 to iterations) {
      val dmDf = ranks.join(dangling, "v")
        .agg(coalesce(sum(floor(col("rank") * lit(1.0e12d) + lit(0.5d)).cast(LongType)),
          lit(0L)).as("dm"))
      val seedShare = lit((1.0d - damping) / nS) +
        lit(damping) * (col("dm").cast(DoubleType) / lit(1.0e12d) / lit(nS.toDouble))
      val inc = e.join(ranks, e("src") === ranks("v"))
        .groupBy(col("dst").as("v2"))
        .agg((sum(floor(col("rank") * col("w") * lit(1.0e18d) + lit(0.5d))
          .cast(LongType)).cast(DoubleType) / lit(1.0e18d)).as("inc"))
      ranks = seedMark.join(inc, seedMark("v") === inc("v2"), "left")
        .crossJoin(dmDf)
        .select(col("v"), round(col("sm") * seedShare +
          lit(damping) * coalesce(col("inc"), lit(0.0d)), 12).as("rank"))
        .compacted.localCheckpoint(eager = true)
    }
    ranks
  }

  /** k-truss as written before the shared triangle enumeration and peel
    * loop: its own degree-oriented triangle pass, and a final support pass
    * over the fixpoint. Returns the truss and the peel-round count. */
  def kTrussFinalPass(edges: DataFrame, k: Int): (DataFrame, Int) = {
    require(k >= 2, s"kTruss k must be >= 2, got $k")
    def supports(e: DataFrame): DataFrame = {
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val ori = e
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("w"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("db")).otherwise(col("da")).as("dw"))
      val e1 = ori.select(col("u"), col("w").as("w1"), col("dw").as("d1"))
      val e2 = ori.select(col("u"), col("w").as("w2"), col("dw").as("d2"))
      val tri = e1.join(e2, Seq("u"))
        .filter(col("d1") < col("d2") || (col("d1") === col("d2") && col("w1") < col("w2")))
        .join(ori.select(col("u").as("w1"), col("w").as("w2")), Seq("w1", "w2"), "left_semi")
        .select(col("u").as("t1"), col("w1").as("t2"), col("w2").as("t3"))
      tri.select(explode(array(
          struct(least(col("t1"), col("t2")).as("a"), greatest(col("t1"), col("t2")).as("b")),
          struct(least(col("t1"), col("t3")).as("a"), greatest(col("t1"), col("t3")).as("b")),
          struct(least(col("t2"), col("t3")).as("a"), greatest(col("t2"), col("t3")).as("b"))))
          .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var e = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .compacted.localCheckpoint(eager = true)
    var n = e.count()
    var rounds = 0
    var changed = n > 0
    while (changed) {
      val e2 = e.join(supports(e), Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= (k - 2).toLong)
        .select(col("a"), col("b"))
        .compacted.localCheckpoint(eager = true)
      val n2 = e2.count()
      changed = n2 != n
      if (changed) rounds += 1
      e = e2
      n = n2
    }
    val out = e.join(supports(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
    (out, rounds)
  }
}
