package graft.queries

import graft.operators.TextStats

/** The DuckDB spelling of each engine step the catalog oracles replay,
  * written once: the tokenizer, the normalised text, markup stripping and
  * PII redaction, the md5 hashes, the embedding input, the 6-dp cosine, the
  * squared-L2 fold, the exact top-k rank, the n-gram window, the
  * char-trigram language model and the retrieval-eval card.
  * An oracle composes these fragments instead of pasting their text, so a
  * change to how the engine spells a step is one edit here.
  *
  * Its own object, so every fragment is initialised before a catalog
  * object's `defs` reads it: a `val` declared after `defs` in the same
  * object would interpolate as `null`.
  */
private[queries] object OracleSql {

  /** [[graft.functions.Exprs.tokens]] before its empty-token filter:
    * lowercase, every character outside `[a-z0-9 ]` to a space, split on
    * runs of spaces (a leading or trailing space leaves an empty token). */
  def split(text: String = "text"): String =
    s"string_split_regex(regexp_replace(lower($text), '[^a-z0-9 ]', ' ', 'g'), ' +')"

  /** The token list [[graft.functions.Exprs.tokens]] builds: [[split]] with
    * the empty tokens dropped; `x` names the filter's lambda variable. */
  def tokens(text: String = "text", x: String = "x"): String =
    s"list_filter(${split(text)}, $x -> $x <> '')"

  /** `name(cols…, tk)`: every document's [[tokens]] list next to `cols`. */
  def tokenLists(name: String, cols: String*): String =
    s"$name AS (SELECT ${(cols :+ s"${tokens()} AS tk").mkString(", ")} FROM documents)"

  /** `name(cols…, term)`: one row per non-empty token of every document. */
  def tokenRows(name: String, cols: String*): String = {
    val c = cols.mkString(", ")
    s"""$name AS (
      SELECT $c, term FROM (
        SELECT $c,
          unnest(${split()}) AS term
        FROM documents) u
      WHERE term <> '')"""
  }

  /** `toks(doc_id, lang, term)`: the token stream
    * [[graft.operators.TextPipeline.tokenize]] emits. Follows a `WITH`. */
  val toksCte: String = tokenRows("toks", "doc_id", "lang")

  /** [[split]]'s characters as one string, space runs collapsed and the
    * ends trimmed: the exact-dedup hash input and the char-LM's text. */
  def clean(text: String = "text"): String =
    s"trim(regexp_replace(regexp_replace(lower($text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** [[graft.operators.TextStats.stripMarkup]]: script and style blocks
    * dropped with their content, tags stripped, the common entities
    * decoded (`&amp;` last), whitespace collapsed and trimmed. */
  def stripMarkup(t: String): String =
    raw"""trim(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(
                regexp_replace(
                  regexp_replace($t, '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
                  '<[^>]+>', ' ', 'g'),
                '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
              '\s+', ' ', 'g'))"""

  /** [[graft.operators.TextStats.redactPii]], with its own two patterns:
    * emails to `<EMAIL>`, then long digit runs to `<PHONE>`. */
  def redactPii(t: String): String =
    s"regexp_replace(regexp_replace($t, '${TextStats.EmailRe}', '<EMAIL>', 'g'), " +
      s"'${TextStats.PhoneRe}', '<PHONE>', 'g')"

  /** [[graft.functions.Exprs.h60]]: the first 60 bits of the md5 of `x`
    * as a BIGINT, the portable hash every sampling coin and signature uses. */
  def h60(x: String): String = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** The first 48 bits of the md5 of `x` as a BIGINT: exact in a double. */
  def h48(x: String): String = s"CAST('0x' || substr(md5($x), 1, 12) AS BIGINT)"

  /** [[graft.operators.TextStats.stopwords]] as a SQL `IN` list. */
  val stopwords: String = TextStats.stopwords.map(w => s"'$w'").mkString(", ")

  /** The embedding column as a DOUBLE[] list. */
  val vec: String = "CAST(embedding AS DOUBLE[])"

  /** `name(vec_id, v)`: the embeddings table with its vector as [[vec]]. */
  def embCte(name: String, v: String): String =
    s"$name AS (SELECT vec_id, $vec AS $v FROM embeddings)"

  /** The L2 norm of a DOUBLE[] list. */
  def norm(a: String): String = s"sqrt(list_dot_product($a, $a))"

  /** The cosine of two DOUBLE[] lists at 6 dp, 0.0 when either norm is 0:
    * the score every similarity row ranks and thresholds on. */
  def cosine(a: String, b: String): String =
    s"""round(CASE WHEN ${norm(a)} * ${norm(b)} = 0
          THEN 0.0
          ELSE list_dot_product($a, $b) / (${norm(a)} * ${norm(b)}) END, 6)"""

  /** Squared L2 distance of two lists by the sequential left fold Spark's
    * `ArrayFold.SqDist` walks: `list_reduce` folds left with no seed, and
    * Spark's 0.0 seed is an IEEE no-op. */
  def sqdist(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"""

  /** The squared L2 distance expanded into three dot products, as the
    * centroid rows' Spark plans write it: a·a − 2·a·b + b·b. */
  def sqdistByDots(a: String, b: String): String =
    s"list_dot_product($a, $a) - CAST(2 AS DOUBLE) * list_dot_product($a, $b) + list_dot_product($b, $b)"

  /** The exact top-k rank of [[graft.ml.TopK.topK]]: per `q_id` by `order`,
    * ties to the smaller `n_id`. `cast = false` leaves the window's own
    * integer type where only the cut reads the rank. */
  def rank(order: String, cast: Boolean = true): String = {
    val rn = s"row_number() OVER (PARTITION BY q_id ORDER BY $order, n_id ASC)"
    if (cast) s"CAST($rn AS BIGINT)" else rn
  }

  /** The `k` best rows per query of `from`, ranked by [[rank]]: `cols`
    * plus the rank, emitted as `rk` (or as the `rk AS …` alias given). */
  def topK(cols: String, order: String, from: String, k: Int,
           alias: String = "z", rk: String = "rk"): String =
    s"""SELECT $cols, $rk FROM (
          SELECT $cols,
            ${rank(order)} AS rk
          FROM $from) $alias
        WHERE rk <= $k"""

  /** The space-joined `n`-token window of list `tk` starting at position
    * `i`: the gram [[graft.functions.Exprs.shingles]] builds. */
  def ngram(n: Int, tk: String = "tk", i: String = "i"): String =
    (0 until n).map(o => if (o == 0) s"$tk[$i]" else s"$tk[$i+$o]").mkString(" || ' ' || ")

  /** Each row of `from` (columns `cols` and the list `tk`) repeated once per
    * `n`-gram start `i` of its list; pair with [[ngram]]. */
  def ngramSql(n: Int, from: String, cols: String = "doc_id", tk: String = "tk",
               i: String = "i"): String =
    s"(SELECT $cols, $tk, unnest(generate_series(1, len($tk) - ${n - 1})) AS $i FROM $from)"

  /** The char trigrams of every document's [[clean]] text of three or more
    * characters: `cl`, `cl2`, then `tris(doc_id, lang, tg)`. */
  def charTrigrams(materialized: Boolean = false): String =
    s"""cl AS (
          SELECT doc_id, lang,
            ${clean()} AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS ${if (materialized) "MATERIALIZED " else ""}(
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i))"""

  /** [[graft.operators.TextStats.charLmPerplexity]]'s model over the whole
    * corpus: [[charTrigrams]], the per-language trigram counts, and the
    * add-one log-probabilities at 10 dp, ending in `${p}probs(lang, tg,
    * logp)`. `p` prefixes the model CTEs where an oracle needs the plain
    * names for something else. */
  def charLm(p: String = ""): String =
    s"""${charTrigrams()},
        ${p}model AS (SELECT lang, tg, COUNT(*) AS cnt FROM tris GROUP BY 1, 2),
        ${p}tot AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM ${p}model GROUP BY 1),
        ${p}probs AS (
          SELECT m.lang, m.tg,
            round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM ${p}model m JOIN ${p}tot USING (lang))"""

  /** `${p}sc(doc_id, n_tri, s)`: every document's trigram count and exact
    * log-probability sum under [[charLm]]`(p)`; its perplexity is
    * `round(exp(-s/n_tri), 6)`. */
  def charLmScore(p: String = ""): String =
    s"""${p}sc AS (
          SELECT t.doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) AS s
          FROM tris t JOIN ${p}probs p ON p.lang = t.lang AND p.tg = t.tg
          GROUP BY 1)"""

  /** The SQL twin of [[Curation]]'s `retrievalEvalCard` (the Spark card
    * of q197, q207, q208, q235 and q237), part one: `nq`, the number of
    * queries the ground truth `truth(q_id, n_id, rk)` ranks. */
  val evalQueries: String = "nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM truth)"

  /** Part two, per system ranking `sys(q_id, n_id, rk)`: its hits against
    * `truth`, their count, the reciprocal-rank sum of the true top-1 and
    * the hit@1 count, as CTEs suffixed with `sfx`. */
  def evalCardCtes(sys: String, sfx: String = ""): String =
    s"""hits$sfx AS (
          SELECT s.q_id, s.n_id, s.rk AS srk, t.rk AS trk
          FROM $sys s JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id),
        nhits$sfx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits$sfx),
        rr$sfx AS (
          SELECT CAST(COALESCE(SUM(COALESCE(1000000 // s.rk, 0)), 0) AS BIGINT) AS rr_sum
          FROM truth t LEFT JOIN $sys s ON s.q_id = t.q_id AND s.n_id = t.n_id
          WHERE t.rk = 1),
        h1$sfx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit1 FROM hits$sfx WHERE trk = 1 AND srk = 1)"""

  /** Part three: the card row of the system whose CTEs carry `sfx` —
    * recall@k, MRR and hit@1 as integer millionths. */
  def evalCardRow(label: String, k: Int, sfx: String = ""): String =
    s"""SELECT '$label' AS system, n_queries, n_hits,
          (1000000 * n_hits) // (n_queries * $k) AS recall_ppm,
          rr_sum // n_queries AS mrr_ppm,
          n_hit1,
          (1000000 * n_hit1) // n_queries AS hit1_ppm
        FROM nq, nhits$sfx, rr$sfx, h1$sfx"""

  /** The whole card of one system ranking `sys` against `truth`: follows the
    * `truth` CTE and ends the query. */
  def evalCard(sys: String, label: String, k: Int): String =
    s"""$evalQueries,
        ${evalCardCtes(sys)}
        ${evalCardRow(label, k)}"""
}
