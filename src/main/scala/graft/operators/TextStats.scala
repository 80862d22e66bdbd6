package graft.operators

import graft.functions.Exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text analysis for corpus curation: quality scoring, language-ID heuristic,
  * BPE-ish token counting, rolling-hash fingerprinting. All pure column
  * expressions (single codegen stage over the scan, no shuffles except the
  * per-doc token aggregate).
  */
object TextStats {

  /** English-ish stop-word set used by quality scoring (the reference ships a
    * ~800-word side file, TF_IDF_Compute.java:47-69; a compact set suffices
    * for the scoring semantics). */
  val stopwords: Seq[String] = Seq("the", "a", "is", "and", "of", "to", "in", "it", "on", "for")

  /** Language marker words, checked in deterministic (alphabetical) order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "a"),
    "es" -> Seq("el", "la", "que", "y", "en", "los", "se"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour"),
    "zh" -> Seq("de", "shi", "le", "wo", "bu", "zai", "ren"))

  /** Per-doc quality stats + composite score. Output columns:
    * (doc_id, n_tokens, n_distinct, ttr, avg_token_len, stopword_ratio,
    * nonalnum_ratio, quality) — all exact integer-ratio doubles. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = TextPipeline.tokenize(docs)
    val perDoc = toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("term")).as("n_distinct"),
      sum(length(col("term"))).cast(LongType).as("n_term_chars"),
      sum(when(col("term").isInCollection(stopwords), 1L).otherwise(0L)).as("n_stop"))
    val raw = docs.select(col("doc_id"),
      length(col("text")).cast(LongType).as("len_raw"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")).cast(LongType).as("len_clean"))
    perDoc.join(raw, "doc_id")
      .withColumn("ttr", col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("avg_token_len", col("n_term_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("stopword_ratio", col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("nonalnum_ratio",
        (col("len_raw") - col("len_clean")).cast(DoubleType) / col("len_raw").cast(DoubleType))
      .withColumn("quality",
        col("ttr") * 0.4d +
          least(col("n_tokens"), lit(100L)).cast(DoubleType) / 100.0d * 0.4d +
          (lit(1.0d) - col("stopword_ratio")) * 0.2d)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("ttr"),
        col("avg_token_len"), col("stopword_ratio"), col("nonalnum_ratio"), col("quality"))
  }

  /** Marker-word language-ID heuristic: score each language by marker hits in
    * the token stream; argmax with alphabetical tie-break, 'und' when no
    * marker hits at all. Output: (doc_id, pred_lang, best_score). */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = TextPipeline.tokenize(docs)
    val scoreCols = langMarkers.map { case (lang, words) =>
      sum(when(col("term").isInCollection(words), 1L).otherwise(0L)).as(s"s_$lang")
    }
    val scored = toks.groupBy(col("doc_id")).agg(scoreCols.head, scoreCols.tail: _*)
    val best = greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
    // chained WHENs in language order, so earlier langs win ties
    val predOrdered = langMarkers.reverse.foldLeft(lit("und"): Column) {
      case (els, (lang, _)) =>
        when(col(s"s_$lang") === col("best") && col("best") > 0, lit(lang)).otherwise(els)
    }
    scored.withColumn("best", best)
      .withColumn("pred_lang", predOrdered)
      .select(col("doc_id"), col("pred_lang"), col("best").as("best_score"))
  }

  /** BPE-ish token count: letter runs, digit runs, and single non-alnum
    * symbols each count as one token (whitespace-insensitive). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast(LongType).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast(LongType).as("n_bpe_tokens"))

  /** PII patterns shared by q74 and the streaming curation chain. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{7,}"

  /** PII masking (emails, long digit runs) — pure per-row regexps. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Markup strip — the CCNet/RefinedWeb-style HTML cleanup a web-corpus
    * pipeline runs before every other text stage: drop script/style blocks
    * with their content, strip remaining tags, decode the common entities
    * (after tag strip, so decoded angle brackets survive as text — the
    * standard order), collapse whitespace. Pure per-row regexp chain in
    * whole-stage codegen, zero shuffles; every pattern is RE2-compatible so
    * DuckDB replays it verbatim (q86). */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&") // &amp; last: no double-decode
      .foldLeft(noTags) { case (c, (k, v)) => regexp_replace(c, k, v) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Rolling polynomial hash over the ordered token stream — a content
    * fingerprint that is stable across engines (small-integer arithmetic,
    * explicit mod): f = fold((a, t) => (a*131 + len(t)*31 + ascii(t)) mod p)
    * seeded with the first token's value. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val vals = transform(tokens(col("text")),
      t => (length(t) * lit(31L) + ascii(t)).cast(LongType))
    val fp = when(size(vals) === 0, lit(0L)).otherwise(
      aggregate(slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
        element_at(vals, 1),
        (acc, v) => (acc * 131L + v) % 1000000007L))
    docs.select(col("doc_id"), fp.as("fingerprint"))
  }

  /** CCNet-style statistical quality signal: a character-trigram language
    * model trained per language over the normalized corpus, each doc scored
    * against ITS OWN language's model as average negative log-likelihood
    * and perplexity. Unlike the marker-word vote ([[languageId]]) and the
    * surface ratios ([[quality]]), this is a TRAINED model — boilerplate,
    * gibberish, and wrong-language text all score high-ppl against the
    * in-language distribution, which is the filter signal CCNet/RefinedWeb
    * pipelines threshold on.
    *
    * Model: P(tg) = (cnt+1)/(total+D) with add-one smoothing over the
    * lang's D distinct trigrams — trained on the same corpus it scores, so
    * no OOV branch exists by construction (every doc trigram is in the
    * model). Per-trigram log-probs are rounded to 10 dp before the exact
    * decimal sum (the repo's standing libm-vs-JVM 1-ulp hygiene), so the
    * emitted doubles hash-match a SQL replay.
    *
    * Scale shape: the trigram frame is pinned once and feeds training and
    * scoring; the model is alphabet-bounded (≤ |Σ|³ rows per language —
    * thousands, corpus-size-INDEPENDENT), so the scoring join broadcasts
    * the model. One wide shuffle (doc-keyed scoring agg) total; training
    * aggregations are map-side combined counts. Docs shorter than one
    * trigram after normalization are dropped (no model evidence). */
  def charLmPerplexity(docs: DataFrame): DataFrame = {
    val clean = docs
      .select(col("doc_id"), col("lang"), array_join(tokens(col("text")), " ").as("clean"))
      .filter(length(col("clean")) >= 3)
    val tris = graft.Caching.pin(clean.select(col("doc_id"), col("lang"),
      explode(expr(
        "transform(sequence(1, length(clean) - 2), i -> substring(clean, i, 3))")).as("tg")))
    val model = tris.groupBy(col("lang"), col("tg")).agg(count(lit(1)).as("cnt"))
    val totals = model.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("d"))
    val probs = model.join(totals, "lang")
      .select(col("lang"), col("tg"),
        round(log((col("cnt") + 1).cast(DoubleType) /
          (col("total") + col("d")).cast(DoubleType)), 10).as("logp"))
    tris.join(broadcast(probs), Seq("lang", "tg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tri"), dsum(col("logp"), 10).as("s"))
      .select(col("doc_id"), col("lang"), col("n_tri"),
        round(-col("s") / col("n_tri").cast(DoubleType), 8).as("avg_nll"),
        round(exp(-col("s") / col("n_tri").cast(DoubleType)), 6).as("ppl"))
  }

  /** Word-bigram language-model scorer with STUPID BACKOFF (Brants et al.
    * 2007, "Large Language Models in Machine Translation"): the word-level
    * sibling of [[charLmPerplexity]]'s char-trigram filter. The model
    * trains on `train` and scores `docs` — a HOLDOUT split, because a
    * model trained on the scored corpus has seen every bigram of every
    * scored doc at least once (self-inclusion) and the backoff path would
    * be structurally dead. Per token:
    * S(w|w_prev) = c(w_prev,w)/c(w_prev) when the bigram was seen, else
    * 0.4·S_uni(w), with S_uni(w) = c(w)/N for seen words and the OOV
    * floor 0.4/N otherwise; a doc's quality signal is the mean log score.
    * Stupid backoff is unnormalized BY DESIGN — no discounting state,
    * every quantity a ratio of corpus counts, so the model and every
    * score hash-match in the oracle.
    *
    * Shape: bigram pairs build ROW-LOCALLY (the token array zipped with
    * its own shift — no positional self-join); the model is two
    * vocab-keyed grouped counts (Heaps-bounded, far smaller than the
    * corpus); scoring is three vocab-keyed joins + a 1-row total
    * broadcast; per-doc means ride the DECIMAL ladder. */
  def stupidBackoff(docs: DataFrame, train: DataFrame): DataFrame = {
    def toks(d: DataFrame) = d.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
    val tr = toks(train)
    val uni = tr.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("n"))
    val big = tr
      .select(explode(arrays_zip(
        expr("slice(tk, 1, size(tk) - 1)").as("w1"),
        expr("slice(tk, 2, size(tk) - 1)").as("w2"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val shifted = concat(array(lit(null).cast("string")),
      expr("slice(tk, 1, size(tk) - 1)"))
    val pairs = toks(docs)
      .select(col("doc_id"),
        explode(arrays_zip(col("tk").as("w"), shifted.as("wp"))).as("p"))
      .select(col("doc_id"), col("p.w").as("w"), col("p.wp").as("wprev"))
    val d = DoubleType
    val n = col("n").cast(d)
    val logterm =
      when(col("wprev").isNull && col("cu").isNotNull,
        round(log(col("cu").cast(d) / n), 12))
      .when(col("wprev").isNull,
        round(log(lit(0.4d) / n), 12))
      .when(col("cb").isNotNull,
        round(log(col("cb").cast(d) / col("cuprev").cast(d)), 12))
      .when(col("cu").isNotNull,
        round(log(lit(0.4d) * col("cu").cast(d) / n), 12))
      .otherwise(
        round(log(lit(0.4d) * lit(0.4d) / n), 12))
    pairs
      .join(uni, Seq("w"), "left")
      .join(uni.select(col("w").as("wprev"), col("cu").as("cuprev")), Seq("wprev"), "left")
      .join(big.select(col("w1").as("wprev"), col("w2").as("w"), col("cb")),
        Seq("wprev", "w"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), logterm.as("lt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(dsum(col("lt"), 12) / count(lit(1)).cast(d), 6).as("avg_logp"))
  }

  /** Interpolated Kneser–Ney bigram LM scorer (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1998 §2.7) — the properly-smoothed
    * sibling of [[stupidBackoff]], sharing its holdout posture and output
    * shape. Per token with seen context `wp`:
    *
    *   P(w|wp) = ( max(c(wp,w) − D, 0) + D·N1+(wp,•)·Pcont(w) ) / c(wp)
    *
    * with the continuation distribution Pcont(w) = N1+(•,w) / N1+(••) —
    * "how many distinct contexts precede w", the quantity that makes KN
    * rank "francisco" low despite its high raw count. Doc-initial tokens
    * and OOV contexts score Pcont(w) directly; a token never seen as a
    * continuation takes the floor Pcont = D / N1+(••) (positive,
    * deterministic, vanishing as the type inventory grows). All model
    * quantities are integer counts off the bigram frame, so — unlike real
    * float-trained LMs — the model AND every per-doc score hash-match the
    * DuckDB oracle exactly (Pcont pre-rounded at 12 dp, each log term at
    * 12 dp, doc means on the DECIMAL ladder).
    *
    * Shape (identical scale story to [[stupidBackoff]]): bigrams build
    * ROW-LOCALLY; the model is one grouped count over bigram types plus
    * three Heaps-bounded re-aggregations of it (context totals + distinct
    * continuations via groupBy — no count-distinct shuffle, the bigram
    * frame is already one row per type); scoring is two vocab-keyed left
    * joins + a 1-row broadcast of the bigram-type total. */
  /** Per-doc character-distribution Shannon entropy — the cheapest
    * repetition/degenerate-text signal in the quality family (a
    * single-character or two-character "document" scores near 0 nats;
    * normal prose over a 37-char alphabet sits near ln(alphabet)). Used by
    * extraction-QA passes to catch binary-junk and repeated-char
    * boilerplate before any tokenizer runs.
    *
    * Entirely ROW-LOCAL: the whole operator rides the scan with zero
    * exchanges (the q211 winnowMins posture). The kernel is the native
    * [[graft.functions.CharEntropyStats]] expression (one tight JVM loop
    * per row); the test-scope `TestOracles.charEntropyHof` is the
    * pure-Catalyst twin kept for the bit-equality cross-check (interpreted
    * (char × alphabet) lambdas made it 50×+ slower — 39 s for sf0.1 in the
    * round-12 probe).
    * H = ln(L) − Σ c·ln(c) / L with the sum folded in sorted char order
    * and every libm term rounded at 12 dp, so the doubles hash-match the
    * oracle's list_reduce replay bit for bit. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val clean = docs
      .select(col("doc_id"), array_join(tokens(col("text")), " ").as("clean"))
      .filter(length(col("clean")) >= 1)
    clean
      .select(col("doc_id"), length(col("clean")).cast(LongType).as("n_chars"),
        graft.functions.CharEntropyStats(col("clean")).as("st"))
      .select(col("doc_id"), col("n_chars"),
        col("st.n_alphabet").as("n_alphabet"), col("st.entropy").as("entropy"))
  }

  /** Per-doc self-BLEU-2 against a fixed reference panel (Zhu et al. 2018's
    * corpus-diversity metric, Texygen) — BLEU (Papineni et al. 2002) with
    * the corpus itself as the reference set. The textbook form scores every
    * doc against ALL others (quadratic); this is the fixed-panel deployment
    * posture measured by q208/q209: references are the bottom-`panelSize`
    * docs by salted h60 (a deterministic fixed sample, panel excluded from
    * scoring), so the kernel is panel·n — corpus-linear at any scale.
    *
    * BLEU-2 per candidate: modified n-gram precision p_n (candidate counts
    * clipped by the max per-reference count), brevity penalty from the
    * closest reference length (ties → shorter), BLEU = BP·exp(Σ½·ln p_n),
    * 0 when either numerator is empty. Every precision is a ratio of
    * integer counts and the panel is hash-selected, so scores hash-match
    * the oracle (ln terms 12 dp, BP 12 dp, score 6 dp). Docs under 2
    * tokens are excluded (no bigram denominator).
    *
    * Shape: panel is pinned (64 rows); reference n-gram maxima BROADCAST
    * against the candidate gram counts (one map-side-combined shuffle per
    * n); brevity pairs are a 64-row broadcast nested loop. */
  def selfBleu(docs: DataFrame, panelSize: Int = 64, salt: String = "sb:"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val pan = graft.Caching.pin(base
      .orderBy(h60(concat(lit(salt), col("doc_id"))).asc, col("doc_id").asc)
      .limit(panelSize))
    val cand = base.join(pan.select(col("doc_id")), Seq("doc_id"), "left_anti")
    def unigrams(df: DataFrame) =
      df.select(col("doc_id"), explode(col("tk")).as("gram"))
    def bigrams(df: DataFrame) = df.select(col("doc_id"),
      explode(arrays_zip(
        expr("slice(tk, 1, size(tk) - 1)").as("w1"),
        expr("slice(tk, 2, size(tk) - 1)").as("w2"))).as("p"))
      .select(col("doc_id"), concat(col("p.w1"), lit(" "), col("p.w2")).as("gram"))
    def refMax(g: DataFrame) = g
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("gram")).agg(max(col("c")).as("mc"))
    def prec(c: DataFrame, r: DataFrame, n: String) = c
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .join(broadcast(r), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(least(col("c"), coalesce(col("mc"), lit(0L)))).as(s"num$n"),
        sum(col("c")).as(s"den$n"))
    val p1 = prec(unigrams(cand), refMax(unigrams(pan)), "1")
    val p2 = prec(bigrams(cand), refMax(bigrams(pan)), "2")
    val clen = cand.select(col("doc_id"), size(col("tk")).cast(LongType).as("cl"))
    val rlen = pan.select(size(col("tk")).cast(LongType).as("rl"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(abs(col("rl") - col("cl")).asc, col("rl").asc)
    val eff = clen.crossJoin(broadcast(rlen))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("cl"), col("rl"))
    val d = DoubleType
    val bp = when(col("cl") >= col("rl"), lit(1d))
      .otherwise(round(exp(lit(1d) - col("rl").cast(d) / col("cl").cast(d)), 12))
    def lt(n: String) = round(log(col(s"num$n").cast(d) / col(s"den$n").cast(d)), 12)
    val bleu = when(col("num1") === 0 || col("num2") === 0, lit(0d))
      .otherwise(round(bp * exp((lt("1") + lt("2")) / lit(2d)), 6))
    p1.join(p2, "doc_id").join(eff, "doc_id")
      .select(col("doc_id"), col("cl").as("n_tokens"), bleu.as("bleu2"))
  }

  /** Jelinek–Mercer interpolation-weight fit by EM (Jelinek & Mercer 1980;
    * the "deleted interpolation" baseline of Chen & Goodman 1998 §2.4) —
    * the third classic smoothing posture next to [[stupidBackoff]] (no
    * normalization) and [[kneserNey]] (discounting): mix the ML bigram
    * with an add-one unigram, P = λ·p_bi + (1−λ)·p_uni, and fit λ on the
    * HOLDOUT split by EM — per token the responsibility
    * γ = λ·p_bi / (λ·p_bi + (1−λ)·p_uni), and λ' = mean(γ). Emits one row
    * per EM round: (em_round, lam, avg_logp), the likelihood trace that
    * must be non-decreasing (EM's contract — asserted in TextStatsSpec).
    *
    * Every probability is a 12-dp-rounded integer-count ratio, λ a
    * 12-dp DECIMAL mean, so all rounds hash-match the oracle's unrolled
    * CTE replay. Shape: the per-token (p_uni, p_bi) frame is built once
    * (vocab-keyed left joins + a 1-row count broadcast) and PINNED; each
    * EM round is two map-side-combined aggregates over it with the
    * previous λ as a 1-row broadcast — rounds × 2 passes, no shuffle
    * wider than the pinned frame's build. */
  def jelinekMercer(docs: DataFrame, train: DataFrame, rounds: Int = 3): DataFrame = {
    def toks(df: DataFrame) = df.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
    val tr = toks(train)
    val uni = tr.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nv = uni.agg(sum(col("cu")).as("n"), count(lit(1)).as("v"))
    val big = tr
      .select(explode(arrays_zip(
        expr("slice(tk, 1, size(tk) - 1)").as("w1"),
        expr("slice(tk, 2, size(tk) - 1)").as("w2"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy(col("w1")).agg(sum(col("cb")).as("cctx"))
    val shifted = concat(array(lit(null).cast("string")),
      expr("slice(tk, 1, size(tk) - 1)"))
    val pairs = toks(docs)
      .select(explode(arrays_zip(col("tk").as("w"), shifted.as("wp"))).as("p"))
      .select(col("p.w").as("w"), col("p.wp").as("wprev"))
    val d = DoubleType
    val pu = round((coalesce(col("cu"), lit(0L)) + 1).cast(d) /
      (col("n") + col("v") + 1).cast(d), 12)
    val pb = when(col("wprev").isNotNull && col("cb").isNotNull,
        round(col("cb").cast(d) / col("cctx").cast(d), 12))
      .otherwise(lit(0d))
    val pp = graft.Caching.pin(pairs
      .join(uni, Seq("w"), "left")
      .join(ctx.select(col("w1").as("wprev"), col("cctx")), Seq("wprev"), "left")
      .join(big.select(col("w1").as("wprev"), col("w2").as("w"), col("cb")),
        Seq("wprev", "w"), "left")
      .crossJoin(broadcast(nv))
      .select(pu.as("pu"), pb.as("pb")))
    def gamma(lam: Column) =
      round(lam * col("pb") / (lam * col("pb") + (lit(1d) - lam) * col("pu")), 12)
    def mixLogp(lam: Column) =
      round(log(lam * col("pb") + (lit(1d) - lam) * col("pu")), 12)
    val rows = (1 to rounds).foldLeft(
        (Seq.empty[DataFrame], Option.empty[DataFrame])) { case ((acc, prev), r) =>
      val withLam = prev match {
        case None => pp.withColumn("lam0", lit(0.5d))
        case Some(l) => pp.crossJoin(broadcast(l.select(col("lam").as("lam0"))))
      }
      val lamR = withLam.agg(
        round(dsum(gamma(col("lam0")), 12) / count(lit(1)).cast(d), 12).as("lam"))
      val row = pp.crossJoin(broadcast(lamR))
        .agg(max(col("lam")).as("lam"),
          round(dsum(mixLogp(col("lam")), 12) / count(lit(1)).cast(d), 6).as("avg_logp"))
        .select(lit(r.toLong).as("em_round"), col("lam"), col("avg_logp"))
      (acc :+ row, Some(lamR))
    }._1
    rows.reduce(_ union _)
  }

  def kneserNey(docs: DataFrame, train: DataFrame, discount: Double = 0.75): DataFrame = {
    def toks(df: DataFrame) = df.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
    val big = toks(train)
      .select(explode(arrays_zip(
        expr("slice(tk, 1, size(tk) - 1)").as("w1"),
        expr("slice(tk, 2, size(tk) - 1)").as("w2"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    // One row per bigram TYPE after the count ⇒ the KN statistics are plain
    // grouped counts over `big`, never a count-distinct over the corpus.
    val ctx = big.groupBy(col("w1")).agg(
      sum(col("cb")).as("cctx"), count(lit(1)).as("n1f"))
    val bwd = big.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val btot = big.agg(count(lit(1)).as("b"))
    val shifted = concat(array(lit(null).cast("string")),
      expr("slice(tk, 1, size(tk) - 1)"))
    val pairs = toks(docs)
      .select(col("doc_id"),
        explode(arrays_zip(col("tk").as("w"), shifted.as("wp"))).as("p"))
      .select(col("doc_id"), col("p.w").as("w"), col("p.wp").as("wprev"))
    val d = DoubleType
    val dD = lit(discount)
    val pcont = when(col("n1b").isNotNull,
        round(col("n1b").cast(d) / col("b").cast(d), 12))
      .otherwise(round(dD / col("b").cast(d), 12))
    val logterm = when(col("wprev").isNotNull && col("cctx").isNotNull,
        round(log((greatest(coalesce(col("cb"), lit(0L)).cast(d) - dD, lit(0d)) +
          dD * col("n1f").cast(d) * col("pc")) / col("cctx").cast(d)), 12))
      .otherwise(round(log(col("pc")), 12))
    pairs
      .join(bwd.select(col("w2").as("w"), col("n1b")), Seq("w"), "left")
      .join(ctx.select(col("w1").as("wprev"), col("cctx"), col("n1f")), Seq("wprev"), "left")
      .join(big.select(col("w1").as("wprev"), col("w2").as("w"), col("cb")),
        Seq("wprev", "w"), "left")
      .crossJoin(broadcast(btot))
      .select(col("doc_id"), pcont.as("pc"), col("wprev"), col("cctx"),
        col("cb"), col("n1f"))
      .select(col("doc_id"), logterm.as("lt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(dsum(col("lt"), 12) / count(lit(1)).cast(d), 6).as("avg_logp"))
  }
}
