package graft.queries

import graft.QueryDef
import graft.functions.Exprs
import graft.ml.TopK
import graft.operators.{Bloom, Bpe, Dedup, LineDedup, Similarity, TextPipeline, TextStats}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation queries: dedup family, embedding similarity search, text
  * analysis (language-ID, quality, token stats, fingerprints), and the
  * composed curation pipeline. The hash-based family (MinHash/SimHash/LSH)
  * runs in portable md5-60 hash mode so DuckDB replays the full pipelines —
  * every query here is oracle-checked; the one approximation without a SQL
  * mirror (IVF's float k-means) is verified through an oracle-checked recall
  * invariant instead (q50).
  */
object Curation {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "documents")

  /** q213's blocklist: phrases over the synthetic corpus vocabulary chosen
    * to exercise every automaton path — "table table" self-overlaps via its
    * word border, "table table key" extends it (emit at an interior node),
    * "spark a a" shares the "a a" suffix, and "group by" never occurs
    * (the zero-hit row the left join must keep). Lowercase alnum+space
    * only, so the oracle can inline them as SQL literals. */
  val blocklistPhrases: Seq[String] = Seq(
    "table table", "table table key", "fast key scan", "value table",
    "a a", "spark a a", "group by")

  /** Shared DuckDB trigram-shingle CTE body (mirrors Dedup.shingleSet(n=3)).
    * Kept separate from the WITH keyword so q70/q72 can prepend RECURSIVE. */
  private val shCteBody = s"""seq AS (
      SELECT doc_id, lang,
        list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, lang AS block,
        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      FROM (SELECT doc_id, lang, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM seq) g),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1)"""

  private val shCte = s"WITH $shCteBody"

  /** The q34 portable MinHash+LSH pipeline as reusable CTE bodies over
    * [[shCteBody]], ending in `mh_pairs(doc_a, doc_b, jaccard)` — q112
    * builds duplicate clusters on exactly these pairs, so its oracle
    * composes these CTEs with a recursive transitive closure (the q70/q72
    * pattern on the Jaccard pair set). */
  private val minhashPairsCtes = """
    seeds AS (SELECT unnest(range(0, 32)) AS seed),
    sig AS (
      SELECT doc_id, seed,
        MIN(CAST('0x' || substr(md5(seed || ':' || shingle),1,15) AS BIGINT)) AS mh
      FROM sh CROSS JOIN seeds GROUP BY 1, 2),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
        string_agg(seed || ':' || mh, ',' ORDER BY seed || ':' || mh) AS band_sig
      FROM sig GROUP BY 1, 2),
    kept AS (
      SELECT * FROM banded
      QUALIFY COUNT(*) OVER (PARTITION BY band, band_sig) <= 64),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    pc AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2),
    mh_pairs AS (
      SELECT doc_a, doc_b,
        CAST(n_common AS DOUBLE)/CAST(za.sz + zb.sz - n_common AS DOUBLE) AS jaccard
      FROM pc JOIN sizes za ON za.doc_id = doc_a JOIN sizes zb ON zb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE)/CAST(za.sz + zb.sz - n_common AS DOUBLE) >= 0.05)"""

  /** The q33 capped-Jaccard pair set as reusable CTEs over [[shCteBody]] —
    * q70/q72 build duplicate clusters on exactly these pairs, so their
    * oracles compose these CTEs with a recursive transitive closure. */
  private val jaccardPairsCtes = """
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    shc AS (SELECT sh.* FROM sh JOIN dfreq USING (shingle) WHERE df <= 64),
    csizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b
        ON a.shingle = b.shingle AND a.block = b.block AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN csizes sa ON sa.doc_id = doc_a
      JOIN csizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    clusters AS (
      SELECT d.doc_id,
        CAST(CASE WHEN m.mn IS NULL OR d.doc_id < m.mn THEN d.doc_id ELSE m.mn END AS BIGINT)
          AS cluster_id
      FROM documents d
      LEFT JOIN (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY 1) m USING (doc_id))"""

  /** Exact ANN top-k oracle, shared by q37 (window form) and q62 (bounded-
    * heap form) — both must produce this same result. */
  private val annTopkOracle: String = """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM emb WHERE vec_id % 20 = 0),
    sims AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        round(CASE WHEN sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) = 0
          THEN 0.0
          ELSE list_dot_product(q.e, c.e) /
               (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) END, 6) AS sim
      FROM q CROSS JOIN emb c WHERE q.vec_id <> c.vec_id)
    SELECT q_id, n_id, sim, rk FROM (
      SELECT q_id, n_id, sim,
        CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
      FROM sims) s
    WHERE rk <= 10"""

  /** The full sign-LSH top-k replay ([[graft.operators.Similarity.lshTopK]]
    * with k=10, planes=8, reps=4, Hamming-1 multi-probing) as a CTE chain
    * ending in `lsh_topk(q_id, n_id, sim, rk)` — shared by the q38 result
    * row and the q197 retrieval-eval card (which joins it against
    * exhaustive ground truth). Buckets are exact integer arithmetic over
    * 1e6-quantized vectors with md5-derived ±1 planes, so the chain is
    * bit-portable end to end. */
  private val lshTopkCtes: String = """
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        qv AS (SELECT vec_id, e,
                 list_transform(e, x -> CAST(floor(x*1000000.0 + 0.5) AS BIGINT)) AS q
               FROM emb),
        dots AS (
          SELECT vec_id, r, p,
            list_sum(list_transform(range(0, CAST(len(q) AS BIGINT)), d ->
              q[CAST(d AS INT) + 1] *
              (CASE WHEN CAST('0x' || substr(md5(r || ':' || p || ':' || d),1,15) AS BIGINT) & 1 = 1
                    THEN 1 ELSE -1 END))) AS dot
          FROM qv,
               (SELECT unnest(range(0,4)) AS r) reps,
               (SELECT unnest(range(0,8)) AS p) planes),
        buckets AS (
          SELECT vec_id, r,
            CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b0
          FROM dots GROUP BY 1, 2),
        probed AS (
          SELECT vec_id, r, CAST(xor(b0, m) + r*256 AS BIGINT) AS bucket
          FROM buckets,
               (SELECT unnest(CAST([0,1,2,4,8,16,32,64,128] AS BIGINT[])) AS m) masks),
        exact AS (SELECT vec_id, r, CAST(b0 + r*256 AS BIGINT) AS bucket FROM buckets),
        cand AS (
          SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
          FROM probed a JOIN exact b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        sims AS (
          SELECT c.q_id, c.n_id,
            round(CASE WHEN sqrt(list_dot_product(qa.e,qa.e))*sqrt(list_dot_product(qb.e,qb.e)) = 0
              THEN 0.0
              ELSE list_dot_product(qa.e,qb.e) /
                   (sqrt(list_dot_product(qa.e,qa.e))*sqrt(list_dot_product(qb.e,qb.e))) END, 6) AS sim
          FROM cand c JOIN emb qa ON qa.vec_id = c.q_id JOIN emb qb ON qb.vec_id = c.n_id),
        lsh_topk AS (
          SELECT q_id, n_id, sim, rk FROM (
            SELECT q_id, n_id, sim,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
            FROM sims) s
          WHERE rk <= 10)"""

  /** Unrolled DuckDB replay of the deterministic k-means chain
    * ([[graft.ml.KMeans.fit]] + a final [[graft.ml.KMeans.assign]]), for the
    * q95 oracle: `c0` = the k lowest-vec_id vectors with 1-based rank ids;
    * round r: `a_r` = argmin assignment against `c_{r-1}` — squared L2 via
    * the same SEQUENTIAL left-fold Spark's `aggregate` HOF uses (DuckDB
    * `list_reduce` folds left over the term list; the 0.0 seed is an IEEE
    * no-op), ties on centroid id — and `c_r` = per-(cluster, pos) element
    * means through the exact DECIMAL(30,12) accumulator (`Exprs.davg`), so
    * every round is bit-identical across engines regardless of partial-
    * aggregation order. `af` = the final assignment against `c_iterations`.
    * Emitted as CTE bodies to append after an `e(vec_id, v)` CTE; dim-
    * agnostic (`len(v)` drives the folds). */
  private def kmeansCtes(k: Int, iterations: Int, p: String = ""): String = {
    def assignCte(name: String, from: String) = s"""$name AS MATERIALIZED (
          SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(range(1, len(e.v) + 1),
                  i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])), (x, y) -> x + y) ASC,
                c.cid ASC) AS rn
            FROM ${p}e e CROSS JOIN $from c) z
          WHERE rn = 1)"""
    def updateCte(name: String, src: String) = s"""$name AS MATERIALIZED (
          SELECT cid, list(m ORDER BY pos) AS c FROM (
            SELECT cid, pos,
              CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
            FROM (SELECT cid, UNNEST(v) AS x, UNNEST(range(1, len(v) + 1)) AS pos FROM $src) u
            GROUP BY cid, pos) g
          GROUP BY cid)"""
    val init = s"""${p}c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id ASC) AS cid, v AS c
          FROM (SELECT vec_id, v FROM ${p}e ORDER BY vec_id ASC LIMIT $k) init)"""
    val rounds = (1 to iterations).map { r =>
      assignCte(s"${p}a$r", s"${p}c${r - 1}") + ",\n        " + updateCte(s"${p}c$r", s"${p}a$r")
    }
    (init +: rounds :+ assignCte(s"${p}af", s"${p}c$iterations")).mkString(",\n        ")
  }

  /** q124/q125 product-quantization replay: per subspace s ∈ [0, m), a
    * sliced `s${s}e` view of the standing `e` CTE plus the full
    * [[kmeansCtes]] unroll under prefix `s$s`. [[graft.ml.Pq.fit]]'s
    * grouped training is bit-identical per subspace to KMeans on the slice
    * (PqSpec proves it), so m independent unrolls replay the whole fit. */
  private def pqCtes(m: Int, sub: Int, k: Int, iterations: Int): String =
    (0 until m).map { s =>
      s"""s${s}e AS (SELECT vec_id, v[${s * sub + 1}:${(s + 1) * sub}] AS v FROM e),
        ${kmeansCtes(k, iterations, s"s$s")}"""
    }.mkString(",\n        ")

  /** The encoded corpus: one row per vector, code k_{s+1} = its final
    * sub-s assignment (`s${s}af`). */
  private def pqCodesCte(m: Int): String = {
    val joins = (0 until m).map(s => s"JOIN s${s}af s$s USING (vec_id)").mkString(" ")
    val cols = (0 until m).map(s => s"s$s.cid AS k${s + 1}").mkString(", ")
    s"""codes AS MATERIALIZED (
          SELECT e.vec_id, $cols FROM e $joins)"""
  }

  /** ADC distance replay for q125/q126, after a `q(vec_id, v)` CTE: per
    * subspace a (q_id, cid) distance table against the final codebook
    * `s${s}c$iterations`, then `dist` = the left-associated m-term
    * table-lookup sum over the codes — exactly [[graft.ml.Pq.adcTopK]]'s
    * fold order, rounded to 6 dp, self-pairs excluded. */
  private def pqDistCtes(m: Int, sub: Int, iterations: Int): String = {
    val ts = (0 until m).map { s0 =>
      s"""t$s0 AS MATERIALIZED (
          SELECT qs.vec_id AS q_id, c.cid,
            list_reduce(list_transform(range(1, len(qs.sv) + 1),
              i -> (qs.sv[i] - c.c[i]) * (qs.sv[i] - c.c[i])), (x, y) -> x + y) AS d2
          FROM (SELECT vec_id, v[${s0 * sub + 1}:${(s0 + 1) * sub}] AS sv FROM q) qs
          CROSS JOIN s${s0}c$iterations c)"""
    }
    val joins = (1 until m)
      .map(s0 => s"JOIN t$s0 ON t$s0.q_id = t0.q_id AND t$s0.cid = c.k${s0 + 1}")
      .mkString("\n          ")
    val sum = (0 until m).map(s0 => s"t$s0.d2").mkString(" + ")
    ts.mkString(",\n        ") + s""",
        dist AS (
          SELECT t0.q_id, c.vec_id AS n_id, round($sum, 6) AS d2
          FROM codes c
          JOIN t0 ON t0.cid = c.k1
          $joins
          WHERE t0.q_id <> c.vec_id)"""
  }

  /** Unrolled DuckDB replay of [[graft.ml.Pca]] for the q116/q117 oracles,
    * appended after an `e(vec_id, v DOUBLE[])` CTE: exact 12-dp per-position
    * means, centered vectors, the d²-cell covariance through the
    * DECIMAL(30,12) ladder, and `iterations` power-iteration rounds
    * (u = C v by a j-keyed join, 10-dp norm, 12-dp normalize) — the
    * identical arithmetic the Spark operator walks. The two-step
    * ci/cij UNNEST produces the (i, j) CROSS product (parallel UNNESTs in
    * one SELECT would zip); MATERIALIZED on every multiply-read CTE (the
    * q81 lesson). */
  private def pcaCtes(iterations: Int): String = {
    val head = s"""mu AS MATERIALIZED (
          SELECT pos, round(CAST(SUM(CAST(round(x, 12) AS DECIMAL(30,12))) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 12) AS mu
          FROM (SELECT UNNEST(v) AS x, UNNEST(range(1, len(v) + 1)) AS pos FROM e) u
          GROUP BY pos),
        muarr AS MATERIALIZED (SELECT list(mu ORDER BY pos) AS m FROM mu),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
        cvecs AS MATERIALIZED (
          SELECT list_transform(range(1, len(v) + 1), i -> round(v[i] - m[i], 12)) AS cv
          FROM e, muarr),
        ci AS (SELECT cv, UNNEST(range(1, len(cv) + 1)) AS i FROM cvecs),
        cij AS (SELECT cv, i, UNNEST(range(1, len(cv) + 1)) AS j FROM ci),
        cells AS MATERIALIZED (
          SELECT i, j,
            round(round(CAST(SUM(CAST(round(cv[i] * cv[j], 12) AS DECIMAL(30,12))) AS DOUBLE), 12)
              / (SELECT n FROM nn), 12) AS c
          FROM cij GROUP BY i, j),
        pv0 AS (SELECT DISTINCT i AS pos, 1.0 AS v FROM cells)"""
    val rounds = (1 to iterations).map { r =>
      s"""pu$r AS (
          SELECT c.i, round(CAST(SUM(CAST(round(c.c * v.v, 12) AS DECIMAL(30,12))) AS DOUBLE), 12) AS u
          FROM cells c JOIN pv${r - 1} v ON c.j = v.pos GROUP BY c.i),
        pn$r AS (
          SELECT round(sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(30,12))) AS DOUBLE)), 10) AS nm
          FROM pu$r),
        pv$r AS MATERIALIZED (SELECT i AS pos, round(u / nm, 12) AS v FROM pu$r, pn$r)"""
    }
    (head +: rounds).mkString(",\n        ")
  }

  /** q123: the eigenvalue λ_c = v_cᵀ C v_c of finished component `f$c` —
    * u = C v by the j-keyed join, then the u·v fold, both on the ladder
    * (mirrors the `Component.lam` plan in `Pca.comps`). */
  private def pcaLamCtes(c: Int): String =
    s"""lu$c AS (
          SELECT c.i AS pos, round(CAST(SUM(CAST(round(c.c * f.v, 12) AS DECIMAL(30,12))) AS DOUBLE), 12) AS u
          FROM cells c JOIN f$c f ON c.j = f.pos GROUP BY c.i),
        lam$c AS MATERIALIZED (
          SELECT round(CAST(SUM(CAST(round(u.u * f.v, 12) AS DECIMAL(30,12))) AS DOUBLE), 12) AS lam
          FROM lu$c u JOIN f$c f ON u.pos = f.pos)"""

  /** q123: deflated power iteration for component `c` ≥ 2 — every round
    * subtracts round(Σⱼ round(round(λⱼ·(vⱼ·s), 12)·vⱼ, 12), 12) (the
    * coef→apply ladder `Pca.iterate` walks) from the raw C·s product
    * before the 10-dp norm. `f$j`/`lam$j` for j &lt; c must already be
    * defined. */
  private def pcaDeflCtes(c: Int, iterations: Int): String = {
    val start = s"c${c}v0 AS (SELECT DISTINCT i AS pos, 1.0 AS v FROM cells)"
    val rounds = (1 to iterations).map { r =>
      val dots = (1 until c).map { j =>
        s"""c${c}dot${j}r$r AS (
          SELECT round(CAST(SUM(CAST(round(f.v * s.v, 12) AS DECIMAL(30,12))) AS DOUBLE), 12) AS dot
          FROM f$j f JOIN c${c}v${r - 1} s ON f.pos = s.pos)"""
      }.mkString(",\n        ")
      val deflUnion = (1 until c).map { j =>
        s"""SELECT f.pos AS pos,
              round(round((SELECT lam FROM lam$j) * (SELECT dot FROM c${c}dot${j}r$r), 12) * f.v, 12) AS t
            FROM f$j f"""
      }.mkString("\n          UNION ALL ")
      s"""$dots,
        c${c}d$r AS (
          SELECT pos, round(CAST(SUM(CAST(t AS DECIMAL(30,12))) AS DOUBLE), 12) AS d
          FROM ($deflUnion) GROUP BY pos),
        c${c}u$r AS (
          SELECT u.i, round(u.u - d.d, 12) AS u
          FROM (SELECT c.i, round(CAST(SUM(CAST(round(c.c * v.v, 12) AS DECIMAL(30,12))) AS DOUBLE), 12) AS u
                FROM cells c JOIN c${c}v${r - 1} v ON c.j = v.pos GROUP BY c.i) u
          JOIN c${c}d$r d ON u.i = d.pos),
        c${c}n$r AS (
          SELECT round(sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(30,12))) AS DOUBLE)), 10) AS nm
          FROM c${c}u$r),
        c${c}v$r AS MATERIALIZED (SELECT i AS pos, round(u / nm, 12) AS v FROM c${c}u$r, c${c}n$r)"""
    }
    (start +: rounds).mkString(",\n        ")
  }

  /** q96/q97 feature frame: (id, x, y) with x = [1.0 (bias), stopword
    * ratio, type-token ratio, min(n_tokens,100)/100] — every component an
    * exact integer division or literal, so both engines derive identical
    * doubles — and y = 1.0 iff the doc is English. Token stats come from
    * [[TextStats.quality]] (the q40 operator), so the feature definition is
    * itself an already-oracle-checked surface. */
  private def lrFeatures(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val q = graft.operators.TextStats.quality(docs(s, dir))
    val lang = docs(s, dir).select(col("doc_id"), col("lang"))
    q.join(lang, "doc_id").select(
      col("doc_id").as("id"),
      array(lit(1.0d), col("stopword_ratio"), col("ttr"),
        least(col("n_tokens"), lit(100L)).cast("double") / lit(100.0d)).as("x"),
      when(col("lang") === "en", lit(1.0d)).otherwise(lit(0.0d)).as("y"))
  }

  /** Unrolled DuckDB replay of [[graft.ml.Logistic.train]] full-batch GD
    * for the q96/q97 oracles, appended after the shared `toks` CTE: `feat`
    * mirrors [[lrFeatures]]; round r computes the 10-dp sigmoid over the
    * 12-dp-rounded margin (`p_r`), the per-feature gradient sum through
    * DECIMAL(30,12) (`g_r`), and the 12-dp-rounded update (`w_r`) — the
    * identical rounding ladder the Spark operator walks, so all `iterations`
    * rounds are bit-equal across engines. `lr` is passed as SQL text to keep
    * the literal exactly as written. */
  private def lrCtes(dims: Int, lr: String, iterations: Int): String = {
    val stopList = graft.operators.TextStats.stopwords.map(w => s"'$w'").mkString(", ")
    val head = s"""per_doc AS (
          SELECT doc_id, lang, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_distinct,
            CAST(SUM(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
          FROM toks GROUP BY doc_id, lang),
        feat AS MATERIALIZED (
          SELECT doc_id AS id,
            [1.0, CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE),
             CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE),
             CAST(least(n_tokens, 100) AS DOUBLE)/100.0] AS x,
            CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          FROM per_doc)"""
    (head +: Seq(lrRoundCtes("feat", dims, lr, iterations))).mkString(",\n        ")
  }

  /** The GD rounds of [[lrCtes]] alone, parameterized by the feature CTE
    * (`featCte` must provide (id, x LIST<DOUBLE> of `dims` elems, y)) —
    * shared by the engineered-feature q96/q97 head and the hashed-feature
    * q176 head. Round r: 10-dp sigmoid over the 12-dp margin, per-feature
    * gradient sums through DECIMAL(30,12), 12-dp updates — the exact
    * [[graft.ml.Logistic.train]] ladder. */
  private def lrRoundCtes(featCte: String, dims: Int, lr: String, iterations: Int): String = {
    // MATERIALIZED is load-bearing (the bpeTrainSql lesson): each w_{r-1}
    // is referenced twice (the wa list and the w_r update), so DuckDB's
    // default CTE inlining doubles the plan per round — 2^8 was tolerable
    // on q96's 4-dim tree, 2^16 on q176's 257-dim tree hung the oracle.
    val head = s"""nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM $featCte),
        w0 AS MATERIALIZED (SELECT CAST(UNNEST(range(0, $dims)) AS INT) AS pos, 0.0 AS w)"""
    val rounds = (1 to iterations).map { r =>
      s"""wa${r - 1} AS MATERIALIZED (SELECT list(w ORDER BY pos) AS wv FROM w${r - 1}),
        p$r AS MATERIALIZED (SELECT id, x, y,
            round(1.0/(1.0 + exp(-round(list_dot_product(x, wv), 12))), 10) AS p
          FROM $featCte, wa${r - 1}),
        g$r AS MATERIALIZED (SELECT u.pos,
            CAST(SUM(CAST(round((p - y) * x[u.pos + 1], 12) AS DECIMAL(30,12))) AS DOUBLE) AS s
          FROM p$r, (SELECT CAST(UNNEST(range(0, $dims)) AS INT) AS pos) u
          GROUP BY u.pos),
        w$r AS MATERIALIZED (SELECT w.pos, round(w.w - $lr * (g.s / nn.n), 12) AS w
          FROM w${r - 1} w JOIN g$r g USING (pos), nn)"""
    }
    (head +: rounds).mkString(",\n        ")
  }

  /** Hashed-feature frame shared by q176 (full-batch) and q195 (sampled
    * training): unigrams+bigrams hashed into B=256 buckets, per-doc counts
    * normalized to ×256 frequencies, bias slot prepended — (id, x: 257-dim
    * array<double>, y: 1.0 iff lang = en). One tokenize scan; the dense
    * vector is built ROW-LOCALLY from the per-doc count map. */
  private def hashedLrFeats(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    val B = 256
    val hb = graft.operators.Dsir.hashedFeatures(docs(s, dir), B)
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    hb.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
      .join(docs(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id").as("id"),
        concat(array(lit(1.0d)),
          transform(sequence(lit(0), lit(B - 1)),
            b => round(lit(256.0d) *
              coalesce(element_at(col("m"), b.cast("long")), lit(0L)).cast("double") /
              col("n").cast("double"), 10))).as("x"),
        when(col("lang") === "en", lit(1.0d)).otherwise(lit(0.0d)).as("y"))
  }

  /** Full-corpus scoring report under trained `wts`: (id, score, pred, y,
    * correct) — the evaluated-classifier output contract q176/q195 share. */
  private def scoredLrReport(feats: org.apache.spark.sql.DataFrame,
                             wts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ml.Logistic.score(feats, wts)
      .join(feats.select(col("id"), col("y")), "id")
      .select(col("id"), col("score"),
        (col("score") >= lit(0.5d)).as("pred"),
        col("y"),
        ((col("score") >= lit(0.5d)) === (col("y") === lit(1.0d))).as("correct"))

  /** Contrastive triplet construction shared by q200 (fixed minibatch,
    * vec_id % 50) and q209 (md5-coin anchor sample — the corpus-growth-
    * stable deployment form): for every anchor, positive = most-similar
    * vector in the SAME k-means cell, hard negative = most-similar vector
    * in a DIFFERENT cell, plus the triplet margin. |anchors|·n with the
    * anchors broadcast — the q179 bounded-anchor posture; at 100 TB the
    * corpus side routes through the IVF/PQ index exactly as q164 evidences. */
  private def tripletMining(s: org.apache.spark.sql.SparkSession, dir: String,
                            anchorPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val cents = graft.ml.KMeans.fit(e, k = 8, iterations = 3)
    // norm rides the pin: one dot per (anchor, candidate) pair instead of
    // three — sims bit-identical (Exprs.cosinePre)
    val asg = graft.Caching.pin(graft.ml.KMeans.assign(e, cents)
      .withColumn("nrm", Exprs.vnorm(col("vec"))))
    val anchors = asg.filter(anchorPred)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm"), col("centroid_id").as("q_cid"))
    val cand = asg.select(col("vec_id").as("n_id"), col("vec").as("n_vec"),
      col("nrm").as("n_nrm"), col("centroid_id").as("n_cid"))
    val sims = graft.Caching.pin(cand
      .join(broadcast(anchors), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_cid"), col("n_id"), col("n_cid"),
        round(Exprs.cosinePre(Exprs.dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")), 6).as("sim")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    val pos = sims.filter(col("q_cid") === col("n_cid"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("q_id"), col("n_id").as("pos_id"), col("sim").as("pos_sim"))
    val neg = sims.filter(col("q_cid") =!= col("n_cid"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("q_id"), col("n_id").as("neg_id"), col("sim").as("neg_sim"))
    pos.join(neg, "q_id")
      .select(col("q_id"), col("pos_id"), col("pos_sim"),
        col("neg_id"), col("neg_sim"),
        round(col("pos_sim") - col("neg_sim"), 6).as("margin"))
  }

  /** Shared retrieval-quality card (q197/q207): a system ranking
    * (q_id, n_id, srk) scored against exhaustive ground truth
    * (q_id, n_id, trk) — recall@k, MRR of the true top-1 inside the system
    * list, and hit@1, all as integer millionths (1e6 DIV — no float ratio
    * touches the ladder). Both rankings must share the tie-break discipline
    * (metric at 6 dp, then n_id ASC) for the card to be bit-portable. */
  private def retrievalEvalCard(sys: org.apache.spark.sql.DataFrame,
                                truth: org.apache.spark.sql.DataFrame,
                                label: String, k: Int): org.apache.spark.sql.DataFrame = {
    val nq = truth.select(col("q_id")).distinct()
      .agg(count(lit(1)).as("n_queries"))
    val hits = sys.join(truth, Seq("q_id", "n_id"))
    val nHits = hits.agg(count(lit(1)).as("n_hits"))
    // reciprocal rank of the TRUE top-1 inside the system list (0 when the
    // system misses it entirely; outer coalesce for the zero-truth corpus)
    val rr = truth.filter(col("trk") === 1L)
      .join(sys, Seq("q_id", "n_id"), "left")
      .agg(coalesce(sum(coalesce(expr("1000000 DIV srk"), lit(0L))), lit(0L)).as("rr_sum"))
    val hit1 = hits.filter(col("trk") === 1L && col("srk") === 1L)
      .agg(count(lit(1)).as("n_hit1"))
    nq.crossJoin(nHits).crossJoin(rr).crossJoin(hit1)
      .select(lit(label).as("system"),
        col("n_queries"), col("n_hits"),
        expr(s"(1000000 * n_hits) DIV (n_queries * $k)").as("recall_ppm"),
        expr("rr_sum DIV n_queries").as("mrr_ppm"),
        col("n_hit1"),
        expr("(1000000 * n_hit1) DIV n_queries").as("hit1_ppm"))
  }

  /** DuckDB replay of [[hashedLrFeats]] — tokenize, unigram+bigram hashing
    * into 256 buckets, ×256 frequency normalization, bias slot — ending in
    * the `feat` CTE (id, x LIST<DOUBLE>[257], y). Shared by q176/q195. */
  private val hashedFeatCtes = """hfs AS (
          SELECT doc_id, lang,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        hfr AS (
          SELECT doc_id, UNNEST(list_concat(
            list_transform(tk, w -> 'u:' || w),
            list_transform(generate_series(1, len(tk) - 1), i -> 'b:' || tk[i] || ' ' || tk[i + 1]))) AS f
          FROM hfs WHERE len(tk) > 0),
        hfh AS MATERIALIZED (
          SELECT doc_id, CAST('0x' || substr(md5(f), 1, 12) AS BIGINT) % 256 AS b
          FROM hfr),
        hb AS MATERIALIZED (SELECT doc_id, b, COUNT(*) AS c FROM hfh GROUP BY 1, 2),
        hdense AS (
          SELECT n.doc_id, gb.b,
            round(256.0 * CAST(COALESCE(hb.c, 0) AS DOUBLE) / CAST(n.n AS DOUBLE), 10) AS v
          FROM (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hb GROUP BY 1) n
          CROSS JOIN (SELECT UNNEST(range(0, 256)) AS b) gb
          LEFT JOIN hb ON hb.doc_id = n.doc_id AND hb.b = gb.b),
        feat AS MATERIALIZED (
          SELECT hd.doc_id AS id,
            [CAST(1.0 AS DOUBLE)] || list(v ORDER BY b) AS x,
            CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          FROM hdense hd JOIN documents d ON d.doc_id = hd.doc_id
          GROUP BY hd.doc_id, d.lang)"""

  /** Final SELECT of the q176/q195 oracles: full-corpus sigmoid scoring
    * under the trained weight list `waf.wv`, mirroring [[scoredLrReport]]. */
  private val lrScoreSelect = """SELECT id,
          round(1.0/(1.0 + exp(-round(list_dot_product(x, wv), 12))), 10) AS score,
          round(1.0/(1.0 + exp(-round(list_dot_product(x, wv), 12))), 10) >= 0.5 AS pred,
          y,
          (round(1.0/(1.0 + exp(-round(list_dot_product(x, wv), 12))), 10) >= 0.5) = (y = 1.0) AS correct
        FROM feat, waf"""

  /** Merge rounds for the q79/q80 oracle pair: enough to learn multi-level
    * merges (round 6 already fuses a round-1 product: m+er), small enough
    * that the unrolled-CTE oracle stays tractable. Declared before [[defs]]
    * — its strict initializer reads this at object-init time. */
  private val BpeMergeRounds = 16

  /** q91's injected boilerplate lines — appended as whole lines (not
    * chunked), already in normalized token form so both engines hash the
    * same bytes. Declared before [[defs]]: the oracle strings interpolate
    * them eagerly. */
  private val Boiler1 = "subscribe to our newsletter for daily updates"
  private val Boiler2 = "all rights reserved by the example corpus project"

  /** q102's injected repetition unit: exactly 8 tokens, so five copies tile
    * into five identical width-8 chunks. Declared before [[defs]]. */
  private val RepSentence = "the quick brown fox jumps over the lazy"

  /** q92 Bloom geometry: 2^18 bits = 32 KiB bitmap, 3 hashes. */
  private val BloomBits = 1 << 18
  private val BloomK = 3

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q32_dedup_exact",
      (s, dir) => Dedup.exact(docs(s, dir)),
      oracle = Some("""
        WITH norm AS (
          SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS text_hash
          FROM documents)
        SELECT text_hash, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
        FROM norm GROUP BY 1""")),

    // The benched config passes the absolute density cap (maxShingleDf = 64)
    // explicitly — the LIBRARY default is lossless, truncation is this call
    // site's decision — and the oracle applies the identical frequency
    // filter, so the capped semantics — not an idealized uncapped variant —
    // are what gets hash-checked. At sf0.01/sf0.1 the corpus max df is 25,
    // so the cap changes nothing here; on the ×10 ScalingProbe replicas it
    // is what keeps join work linear (SCALING.md).
    QueryDef("q33_ngram_jaccard_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.05,
        maxShingleDf = Some(64)),
      oracle = Some(s"""$shCte,
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        shc AS (SELECT sh.* FROM sh JOIN dfreq USING (shingle) WHERE df <= 64),
        csizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY 1),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shc a JOIN shc b
            ON a.shingle = b.shingle AND a.block = b.block AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
          CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
        FROM common
        JOIN csizes sa ON sa.doc_id = doc_a
        JOIN csizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05"""),
      bench = true),

    // MinHash+LSH in portable-hash mode: the oracle replays the ENTIRE
    // pipeline (md5-60 minhash → 8×4 band signatures → bucket join → exact
    // Jaccard verify) in DuckDB, so this is a full hash-match row, not a
    // rows-only check. h60(x) ≡ CAST('0x' || substr(md5(x),1,15) AS BIGINT).
    QueryDef("q34_minhash_lsh_pairs",
      (s, dir) => Dedup.minhashLshPairs(docs(s, dir), threshold = 0.05, portable = true,
        maxBucketSize = Some(64)),
      bench = true, // native per-row signing + bucket join in the headline run
      oracle = Some(s"""$shCte,
        $minhashPairsCtes
        SELECT doc_a, doc_b, jaccard FROM mh_pairs""")),

    // SimHash in portable-hash mode (60-bit md5-derived fingerprint). The
    // Spark plan is banded (pigeonhole over maxDist+1 bit-bands) with the
    // density cap (maxBucketSize = 64) passed explicitly; the oracle replays the
    // full banded+capped pipeline — fingerprints → 5×12-bit bands → bucket
    // census → dense-bucket drop → hamming verify — so the benched semantics
    // are exactly what gets hash-checked. (Losslessness of the banding itself
    // vs the brute-force all-pairs answer is proven with the cap off in
    // DedupSpec; at sf0.01 the cap is a no-op — max bucket 19 — so this row
    // also still equals the all-pairs answer there.)
    QueryDef("q35_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(docs(s, dir), maxDist = 4, portable = true,
        maxBucketSize = Some(64)),
      oracle = Some(s"""
        WITH ${Text.toksCte},
        tc AS (SELECT doc_id, lang, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2, 3),
        th AS (SELECT doc_id, lang, cnt,
                 CAST('0x' || substr(md5(term),1,15) AS BIGINT) AS h FROM tc),
        bits AS (
          SELECT doc_id, lang, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS s
          FROM (SELECT *, unnest(range(0,60)) AS j FROM th) g GROUP BY 1, 2, 3),
        fp AS (SELECT doc_id, lang,
                 SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS f
               FROM bits GROUP BY 1, 2),
        banded AS (
          SELECT doc_id, lang, b AS band, (f >> (b*12)) & 4095 AS bits
          FROM fp, (SELECT unnest(range(0,5)) AS b) bands),
        kept AS (
          SELECT * FROM banded
          QUALIFY COUNT(*) OVER (PARTITION BY lang, band, bits) <= 64),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b
            ON a.lang = b.lang AND a.band = b.band AND a.bits = b.bits
              AND a.doc_id < b.doc_id)
        SELECT c.doc_a, c.doc_b,
          CAST(bit_count(xor(fa.f, fb.f)) AS BIGINT) AS dist
        FROM cand c
        JOIN fp fa ON fa.doc_id = c.doc_a
        JOIN fp fb ON fb.doc_id = c.doc_b
        WHERE bit_count(xor(fa.f, fb.f)) <= 4"""),
      bench = true),

    // Incremental ingest dedup: docs with doc_id % 10 = 7 are "today's
    // batch", the rest the existing corpus. The operator probes the full
    // banded index with the batch side only — batch×corpus and batch×batch
    // pairs, never corpus×corpus — and the oracle replays the SAME q34
    // pipeline with the candidate join restricted to batch-probing rows, so
    // the asymmetric-probe semantics are what gets hash-checked.
    QueryDef("q88_incremental_dedup",
      (s, dir) => {
        val d = docs(s, dir)
        val isBatch = col("doc_id") % 10 === 7
        Dedup.incrementalMinhashPairs(d.filter(!isBatch), d.filter(isBatch),
            threshold = 0.05, portable = true, maxBucketSize = Some(64))
          .withColumn("pair_type",
            when(col("doc_a") % 10 === 7 && col("doc_b") % 10 === 7,
              lit("batch_batch")).otherwise(lit("batch_corpus")))
      },
      oracle = Some(s"""$shCte,
        seeds AS (SELECT unnest(range(0, 32)) AS seed),
        sig AS (
          SELECT doc_id, seed,
            MIN(CAST('0x' || substr(md5(seed || ':' || shingle),1,15) AS BIGINT)) AS mh
          FROM sh CROSS JOIN seeds GROUP BY 1, 2),
        banded AS (
          SELECT doc_id, seed // 4 AS band,
            string_agg(seed || ':' || mh, ',' ORDER BY seed || ':' || mh) AS band_sig
          FROM sig GROUP BY 1, 2),
        kept AS (
          SELECT * FROM banded
          QUALIFY COUNT(*) OVER (PARTITION BY band, band_sig) <= 64),
        cand AS (
          SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
            greatest(a.doc_id, b.doc_id) AS doc_b
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id <> b.doc_id
          WHERE a.doc_id % 10 = 7),
        pc AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          CAST(n_common AS DOUBLE)/CAST(za.sz + zb.sz - n_common AS DOUBLE) AS jaccard,
          CASE WHEN doc_a % 10 = 7 AND doc_b % 10 = 7
            THEN 'batch_batch' ELSE 'batch_corpus' END AS pair_type
        FROM pc JOIN sizes za ON za.doc_id = doc_a JOIN sizes zb ON zb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE)/CAST(za.sz + zb.sz - n_common AS DOUBLE) >= 0.05"""),
      bench = true), // the asymmetric-probe ingest path in the headline run

    // The oracle mirrors the operator's deterministic block cap (row_number
    // by vec_id ≤ maxBlock), so the contract stays oracle-exact even on data
    // where a block exceeds the cap — not just at SFs where the cap is moot.
    QueryDef("q36_embedding_neardup",
      (s, dir) => Similarity.nearDupPairs(Tables(s, dir, "embeddings"), threshold = 0.3,
        maxBlock = 10000),
      oracle = Some("""
        WITH emb AS (
          SELECT vec_id, block, e FROM (
            SELECT vec_id, CAST(label AS BIGINT) AS block, CAST(embedding AS DOUBLE[]) AS e,
              row_number() OVER (PARTITION BY label ORDER BY vec_id ASC) AS rn
            FROM embeddings) capped
          WHERE rn <= 10000)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(CASE WHEN sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)) = 0
            THEN 0.0
            ELSE list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) END, 6) AS sim
        FROM emb a JOIN emb b ON a.block = b.block AND a.vec_id < b.vec_id
        WHERE round(CASE WHEN sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)) = 0
            THEN 0.0
            ELSE list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) END, 6) >= 0.3""")),

    QueryDef("q37_ann_brute_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.bruteTopK(e.filter(col("vec_id") % 20 === 0), e, k = 10,
          replicate = TopK.Corpus)
      },
      oracle = Some(annTopkOracle),
      bench = true),

    // q37 with the other side replicated: the query panel is broadcast and
    // the corpus streams through the bounded heap (the q208 geometry). Same
    // oracle as q37, so the two rows cover both replicated sides of the one
    // exact top-k operator.
    QueryDef("q62_ann_topk_agg",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.bruteTopK(e.filter(col("vec_id") % 20 === 0), e, k = 10,
          replicate = TopK.Queries)
      },
      oracle = Some(annTopkOracle)),

    // Sign-LSH top-k: buckets are exact integer arithmetic over quantized
    // vectors with md5-derived ±1 planes, so the oracle replays the whole
    // pipeline — including the query-side Hamming-1 multi-probing (`probed`
    // xors each single-bit mask into the query signature; the corpus side
    // stays exact, the classifyLsh asymmetry) — full hash match.
    QueryDef("q38_ann_lsh_topk",
      (s, dir) => Similarity.lshTopK(Tables(s, dir, "embeddings"), k = 10),
      oracle = Some(lshTopkCtes + """
        SELECT q_id, n_id, sim, rk FROM lsh_topk""")),

    // Retrieval-quality evaluation card (the eval every ANN deployment
    // ships with): the sign-LSH system ranking (q38's exact chain) scored
    // against exhaustive cosine top-10 ground truth — recall@10, MRR@10
    // of the true nearest neighbor, and hit@1, all as integer millionths
    // (1e6 DIV — no float ratio touches the ladder). The ground-truth
    // side is brute force BY DESIGN: retrieval eval runs on a fixed query
    // sample at any corpus scale (the q37/q179 posture), and the system
    // side is the production LSH path under test. Both rankings break
    // ties identically (sim DESC at 6 dp, then n_id ASC), so the card is
    // bit-portable.
    QueryDef("q197_retrieval_eval",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val sys = Similarity.lshTopK(e, k = 10)
          .select(col("q_id"), col("n_id"), col("rk").as("srk"))
        val truth = Similarity.bruteTopK(e, e, k = 10)
          .select(col("q_id"), col("n_id"), col("rk").as("trk"))
        retrievalEvalCard(sys, truth, "lsh_vs_exact", k = 10)
      },
      oracle = Some(lshTopkCtes + """,
        tsims AS (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            round(CASE WHEN sqrt(list_dot_product(a.e,a.e))*sqrt(list_dot_product(b.e,b.e)) = 0
              THEN 0.0
              ELSE list_dot_product(a.e,b.e) /
                   (sqrt(list_dot_product(a.e,a.e))*sqrt(list_dot_product(b.e,b.e))) END, 6) AS sim
          FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
        truth AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
            FROM tsims) t
          WHERE rk <= 10),
        nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM truth),
        hits AS (
          SELECT s.q_id, s.n_id, s.rk AS srk, t.rk AS trk
          FROM lsh_topk s JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id),
        nhits AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits),
        rr AS (
          SELECT CAST(COALESCE(SUM(COALESCE(1000000 // s.rk, 0)), 0) AS BIGINT) AS rr_sum
          FROM truth t LEFT JOIN lsh_topk s ON s.q_id = t.q_id AND s.n_id = t.n_id
          WHERE t.rk = 1),
        h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit1 FROM hits WHERE trk = 1 AND srk = 1)
        SELECT 'lsh_vs_exact' AS system, n_queries, n_hits,
          (1000000 * n_hits) // (n_queries * 10) AS recall_ppm,
          rr_sum // n_queries AS mrr_ppm,
          n_hit1,
          (1000000 * n_hit1) // n_queries AS hit1_ppm
        FROM nq, nhits, rr, h1"""),
      bench = true),

    // The q197 card in its 100 TB deployment shape (VERDICT r10 #5 — the
    // q195 lesson applied to eval): retrieval eval never runs ground truth
    // over EVERY corpus vector; the queries are a FIXED-SIZE deterministic
    // panel and only the system under test touches the full corpus. The
    // panel is the 64 lowest salted-md5 vectors (bottom-k by hash — the
    // KMV discipline; salt "rq:", ties on vec_id) — fixed COUNT, not a
    // fixed rate: a proportional coin would keep the truth kernel at
    // 0.1·n², still quadratic, where the 64-query panel makes it 64·n —
    // genuinely near-linear at ×10 where q197's honest probe row reads
    // 12.0×. Panel selection is a distributed sort+limit
    // (TakeOrderedAndProject — per-partition top-k then a 64-row merge),
    // and the 64-id list is a plan-time constant (a bounded collect, the
    // Bpe argmax discipline). The LSH system side restricts its QUERY side
    // only — the index is still built over the whole corpus, exactly what
    // a deployment evals. Per-query rankings are independent, so the card
    // replays bit-exactly against the full-chain oracle filtered to the
    // panel.
    QueryDef("q208_retrieval_eval_sampled",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val panel = e.select(col("vec_id"))
          .orderBy(Exprs.h60(concat(lit("rq:"), col("vec_id"))).asc, col("vec_id").asc)
          .limit(64).collect().map(_.getLong(0)).toSeq
        val coin = col("vec_id").isin(panel: _*)
        val sys = Similarity.lshTopK(e, k = 10, queryPred = Some(coin))
          .select(col("q_id"), col("n_id"), col("rk").as("srk"))
        // replicate = Queries: the 64-query PANEL broadcasts and
        // the corpus streams through the bounded heap — broadcasting the
        // corpus (q37's geometry) would put an O(n) replication in
        // the one row whose whole point is the corpus-linear posture
        // (ADVICE r11). Same output contract, same oracle.
        val truth = Similarity.bruteTopK(e.filter(coin), e, k = 10, replicate = TopK.Queries)
          .select(col("q_id"), col("n_id"), col("rk").as("trk"))
        retrievalEvalCard(sys, truth, "lsh_vs_exact_sampled", k = 10)
      },
      oracle = Some(lshTopkCtes + """,
        sq AS (SELECT vec_id FROM emb
          ORDER BY CAST('0x' || substr(md5('rq:' || vec_id), 1, 15) AS BIGINT) ASC,
            vec_id ASC
          LIMIT 64),
        sys AS (SELECT q_id, n_id, rk FROM lsh_topk
          WHERE q_id IN (SELECT vec_id FROM sq)),
        tsims AS (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            round(CASE WHEN sqrt(list_dot_product(a.e,a.e))*sqrt(list_dot_product(b.e,b.e)) = 0
              THEN 0.0
              ELSE list_dot_product(a.e,b.e) /
                   (sqrt(list_dot_product(a.e,a.e))*sqrt(list_dot_product(b.e,b.e))) END, 6) AS sim
          FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
          WHERE a.vec_id IN (SELECT vec_id FROM sq)),
        truth AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
            FROM tsims) t
          WHERE rk <= 10),
        nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM truth),
        hits AS (
          SELECT s.q_id, s.n_id, s.rk AS srk, t.rk AS trk
          FROM sys s JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id),
        nhits AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits),
        rr AS (
          SELECT CAST(COALESCE(SUM(COALESCE(1000000 // s.rk, 0)), 0) AS BIGINT) AS rr_sum
          FROM truth t LEFT JOIN sys s ON s.q_id = t.q_id AND s.n_id = t.n_id
          WHERE t.rk = 1),
        h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit1 FROM hits WHERE trk = 1 AND srk = 1)
        SELECT 'lsh_vs_exact_sampled' AS system, n_queries, n_hits,
          (1000000 * n_hits) // (n_queries * 10) AS recall_ppm,
          rr_sum // n_queries AS mrr_ppm,
          n_hit1,
          (1000000 * n_hit1) // n_queries AS hit1_ppm
        FROM nq, nhits, rr, h1"""),
      bench = true),
    // IVF top-k quality gate: k-means float iterations aren't portably
    // mirrorable in SQL (summation-order–dependent centroids), so the row is
    // an oracle-checked INVARIANT instead: Spark genuinely computes recall of
    // ivfTopK against the exact brute-force top-k and thresholds it at the
    // spec bound (KMeansIvfSpec ≥ 0.5); the oracle pins the expected verdict
    // and the query universe. A recall regression flips recall_ok → row fails.
    QueryDef("q50_ann_ivf_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val k = 10
        val ivf = Similarity.ivfTopK(e, k = k)
        val exact = Similarity.bruteTopK(e, e, k = k)
        val hits = ivf.select(col("q_id"), col("n_id"))
          .join(exact.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"), "left_semi")
        val per = exact.select(col("q_id")).distinct()
          .join(hits.groupBy(col("q_id")).agg(count(lit(1)).as("nhit")), Seq("q_id"), "left")
          .select(coalesce(col("nhit"), lit(0L)).as("nhit"))
        per.agg(count(lit(1)).as("n_queries"), sum(col("nhit")).as("nhits"))
          .select(lit("ivf_recall").as("metric"),
            col("n_queries"),
            lit(k.toLong).as("k"),
            (col("nhits").cast("double") / (col("n_queries") * k).cast("double") >= 0.5d)
              .as("recall_ok"))
      },
      oracle = Some("""
        SELECT 'ivf_recall' AS metric, CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(10 AS BIGINT) AS k, true AS recall_ok
        FROM embeddings""")),

    // SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540): a
    // deterministic k-means quantizer clusters the embedding space, cosine
    // near-dup pairs are searched WITHIN clusters only, and a keep-first
    // purge drops every vector duplicating a lower-id one. Unlike q50 (float
    // k-means, invariant-checked), this chain is built portable end to end —
    // lowest-id init, exact DECIMAL(30,12) centroid means, argmin ties on
    // centroid id — so the oracle unrolls ALL k-means rounds as CTEs
    // ([[kmeansCtes]]) and replays cluster → pairs → purge bit-for-bit.
    QueryDef("q95_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(Tables(s, dir, "embeddings"),
        k = 8, iterations = 3, threshold = 0.3, maxBlock = 10000),
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${kmeansCtes(8, 3)},
        capped AS (
          SELECT vec_id, v, cid FROM (
            SELECT vec_id, v, cid,
              row_number() OVER (PARTITION BY cid ORDER BY vec_id ASC) AS rn
            FROM af) z
          WHERE rn <= 10000),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM capped a JOIN capped b ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                                sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
            ELSE list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            END, 6) >= 0.3)
        SELECT af.vec_id, af.cid AS cluster FROM af
        WHERE af.vec_id NOT IN (SELECT vec_id FROM dropped)"""),
      bench = true),

    // Standalone k-means clustering surface (q95 uses the same operator as
    // dedup plumbing; this row ships the clustering itself): per-cluster
    // population + centroid norm. The deterministic chain — lowest-id init,
    // exact DECIMAL(30,12) centroid means, argmin ties on centroid id — is
    // what makes all 3 rounds replayable as CTEs; the centroid norm goes
    // through the same sequential-fold dot product both engines share
    // (q60's precedent). Scale: per round one k×d broadcast + one n×d
    // shuffle; the summary is a k-row aggregate.
    QueryDef("q110_kmeans_clusters",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val cents = graft.ml.KMeans.fit(e, k = 8, iterations = 3)
        graft.ml.KMeans.assign(e, cents)
          .groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("n_vectors"))
          .join(cents, "centroid_id")
          .select(col("centroid_id").as("cluster"), col("n_vectors"),
            round(sqrt(Exprs.dot(col("centroid"), col("centroid"))), 6).as("centroid_norm"))
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${kmeansCtes(8, 3)}
        SELECT a.cid AS cluster, a.n_vectors,
          round(sqrt(list_dot_product(c.c, c.c)), 6) AS centroid_norm
        FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM af GROUP BY 1) a
        JOIN c3 c USING (cid)"""),
      bench = true),

    // PCA top component over the embedding column — the dense-matrix
    // sibling of q103's sparse LSA: exact 12-dp means, d²-cell covariance
    // (product terms generated ROW-LOCALLY and collapsed map-side — the
    // exchange carries d² partials, never n·d² rows), then power iteration
    // entirely on d-/d²-row frames. Sign not canonicalized (the q105
    // stance: the all-ones start makes the signed iterate deterministic).
    // The oracle unrolls means → covariance → all four rounds.
    QueryDef("q116_pca_component",
      (s, dir) => graft.ml.Pca.topComponent(Tables(s, dir, "embeddings"), iterations = 4),
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pcaCtes(4)}
        SELECT pos, round(v, 8) AS weight FROM pv4"""),
      bench = true),

    // The component applied: every vector's centered projection along the
    // top principal direction — one d-row broadcast against the corpus,
    // scan-shaped (the whitening/outlier-scoring primitive an embedding
    // pipeline runs after fitting). Same sequential-fold dot product both
    // engines share.
    QueryDef("q117_pca_scores",
      (s, dir) => graft.ml.Pca.projectTop(Tables(s, dir, "embeddings"), iterations = 4),
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pcaCtes(4)},
        varr AS (SELECT list(v ORDER BY pos) AS w FROM pv4)
        SELECT vec_id,
          round(list_reduce(list_transform(range(1, len(v) + 1),
            i -> round(round(v[i] - m[i], 12) * w[i], 12)), (a, b) -> a + b), 8) AS score
        FROM e, muarr, varr"""),
      bench = true),

    // Top-k PCA by deflation — the dense mirror of q109's sparse LSA top-k:
    // component 2 power-iterates on C − λ₁v₁v₁ᵀ with λ₁ = v₁ᵀCv₁, all
    // previous components flowing through one long-format frame so a
    // round's deflation cost is independent of k. The covariance pass and
    // component 1 are memo-shared with q116/q117 in-session (a SessionMemo,
    // bench-honest via snapshot/restore). The oracle unrolls BOTH
    // eigensolvers — covariance, component 1's four rounds, λ₁, and the
    // four deflated rounds — as CTEs on the standing 12-dp ladder.
    QueryDef("q123_pca_topk",
      (s, dir) => graft.ml.Pca.topK(Tables(s, dir, "embeddings"), k = 2, iterations = 4),
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pcaCtes(4)},
        f1 AS MATERIALIZED (SELECT pos, v FROM pv4),
        ${pcaLamCtes(1)},
        ${pcaDeflCtes(2, 4)},
        f2 AS MATERIALIZED (SELECT pos, v FROM c2v4)
        SELECT CAST(1 AS BIGINT) AS component, pos, round(v, 8) AS weight FROM f1
        UNION ALL
        SELECT CAST(2 AS BIGINT) AS component, pos, round(v, 8) AS weight FROM f2"""),
      bench = true),

    // Product quantization (Jégou et al. 2011) — the 64× ANN compression
    // path: 4 contiguous 16-dim subspaces, an 8-centroid codebook each,
    // every 256 B float vector re-expressed as 4 small ints. Training is
    // GROUPED Lloyd's keyed by sub_id — all four codebooks share each
    // round's one broadcast + one n·d shuffle, the cost of a single
    // full-dim k-means round, not four. Per subspace the arithmetic is
    // exactly KMeans.fit on the slice (lowest-id seeds, DECIMAL(30,12)
    // means, argmin ties on centroid id — PqSpec pins the parity), so the
    // oracle replays all four codebooks with the standing kmeansCtes
    // unroll, prefixed per subspace.
    QueryDef("q124_pq_codes",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val cbs = graft.ml.Pq.fit(e, m = 4, k = 8, iterations = 2)
        graft.ml.Pq.encode(e, cbs, m = 4)
          .select(col("vec_id") +:
            (0 until 4).map(s0 => element_at(col("codes"), s0 + 1).as(s"c${s0 + 1}")): _*)
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pqCtes(4, 16, 8, 2)},
        ${pqCodesCte(4)}
        SELECT vec_id, k1 AS c1, k2 AS c2, k3 AS c3, k4 AS c4 FROM codes"""),
      bench = true),

    // ADC search over the PQ index — the paper's asymmetric distance: each
    // query computes its 4×8-cell distance table ONCE against the broadcast
    // codebooks; a candidate's distance is then a row-local 4-term lookup
    // sum over its CODES. O(m)=4 adds per candidate vs O(d)=64
    // multiply-adds for brute cosine, and the corpus streams as 4-int code
    // rows — the full vectors are never read at search time. The tiny side
    // (per-query tables) broadcasts; top-10 per query via the bounded-heap
    // aggregator (shuffle ≤ k·|queries|). The oracle replays the table
    // joins and the left-associated 4-term sum exactly; rank ties on n_id.
    QueryDef("q125_pq_adc_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val cbs = graft.ml.Pq.fit(e, m = 4, k = 8, iterations = 2)
        val codes = graft.ml.Pq.encode(e, cbs, m = 4)
        graft.ml.Pq.adcTopK(e.filter(col("vec_id") % 20 === 0), codes, cbs,
          m = 4, kc = 8, k = 10)
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pqCtes(4, 16, 8, 2)},
        ${pqCodesCte(4)},
        q AS (SELECT vec_id, v FROM e WHERE vec_id % 20 = 0),
        ${pqDistCtes(4, 16, 2)}
        SELECT q_id, n_id, d2, rk FROM (
          SELECT q_id, n_id, d2,
            CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
          FROM dist) z
        WHERE rk <= 10"""),
      bench = true),

    // ADC + exact re-rank (Jégou et al. §VII, the IVFADC+R refinement) in
    // the production config — 8 subspaces × 16 centroids (4-bit codes:
    // still 64× compression packed): the code table prunes the corpus to a
    // 50-candidate shortlist per query, then TRUE squared-L2 re-ranks just
    // those to the final 10. Full vectors are read for 50·|q| rows via an
    // equi join on candidate id — never a corpus scan — and PqSpec measures
    // what this buys on this corpus: recall@10 0.28 (pure ADC) → 0.62.
    // The oracle replays shortlist AND re-rank; both rank ties on n_id.
    QueryDef("q126_pq_rerank",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val cbs = graft.ml.Pq.fit(e, m = 8, k = 16, iterations = 2)
        val codes = graft.ml.Pq.encode(e, cbs, m = 8)
        graft.ml.Pq.adcRerankTopK(e.filter(col("vec_id") % 20 === 0), codes, cbs, e,
          m = 8, kc = 16, shortlist = 50, k = 10)
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pqCtes(8, 8, 16, 2)},
        ${pqCodesCte(8)},
        q AS (SELECT vec_id, v FROM e WHERE vec_id % 20 = 0),
        ${pqDistCtes(8, 8, 2)},
        short AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS rk
            FROM dist) z
          WHERE rk <= 50),
        exact AS (
          SELECT sh.q_id, sh.n_id,
            round(list_reduce(list_transform(range(1, len(qq.v) + 1),
              i -> (qq.v[i] - n.v[i]) * (qq.v[i] - n.v[i])), (x, y) -> x + y), 6) AS d2
          FROM short sh
          JOIN q qq ON qq.vec_id = sh.q_id
          JOIN e n ON n.vec_id = sh.n_id)
        SELECT q_id, n_id, d2, rk FROM (
          SELECT q_id, n_id, d2,
            CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
          FROM exact) z
        WHERE rk <= 10"""),
      bench = true),

    // Reciprocal rank fusion (Cormack, Clarke & Buettcher 2009) — the
    // hybrid-retrieval combiner: fuse the EXACT cosine ranking (q37's
    // contract, top-20) with the PQ-ADC ranking (q125's, top-20) into
    // Σ 1/(60+rk), top-10 per query. Rank-based, so the incomparable
    // scores (cosine vs quantized L2) fuse with no calibration. Per-list
    // terms ride the DECIMAL ladder (list- and partition-order-
    // independent); final top-k by the bounded heap. The oracle replays
    // BOTH rankings (the annTopk sims shape + the PQ table joins) and the
    // fusion arithmetic verbatim.
    QueryDef("q131_rrf_hybrid",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val cosR = Similarity.bruteTopK(emb.filter(col("vec_id") % 20 === 0), emb, k = 20)
          .select(col("q_id"), col("n_id"), col("rk"))
        val cbs = graft.ml.Pq.fit(e, m = 4, k = 8, iterations = 2)
        val codes = graft.ml.Pq.encode(e, cbs, m = 4)
        val pqR = graft.ml.Pq.adcTopK(e.filter(col("vec_id") % 20 === 0), codes, cbs,
            m = 4, kc = 8, k = 20)
          .select(col("q_id"), col("n_id"), col("rk"))
        Similarity.rrfFuse(Seq(cosR, pqR), k = 10)
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${pqCtes(4, 16, 8, 2)},
        ${pqCodesCte(4)},
        q AS (SELECT vec_id, v FROM e WHERE vec_id % 20 = 0),
        ${pqDistCtes(4, 16, 2)},
        pqr AS MATERIALIZED (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM dist) z
          WHERE rk <= 20),
        sims AS (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
            round(CASE WHEN sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)) = 0
              THEN 0.0
              ELSE list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) END, 6) AS sim
          FROM q CROSS JOIN e c WHERE q.vec_id <> c.vec_id),
        cosr AS MATERIALIZED (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
            FROM sims) z
          WHERE rk <= 20),
        fused AS (
          SELECT q_id, n_id,
            round(CAST(SUM(CAST(round(1e0 / (60e0 + CAST(rk AS DOUBLE)), 12) AS DECIMAL(30,12))) AS DOUBLE), 8) AS rrf
          FROM (SELECT * FROM cosr UNION ALL SELECT * FROM pqr) u
          GROUP BY 1, 2)
        SELECT q_id, n_id, rrf, rk FROM (
          SELECT q_id, n_id, rrf,
            CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id ASC) AS BIGINT) AS rk
          FROM fused) z
        WHERE rk <= 10"""),
      bench = true),

    // Johnson–Lindenstrauss random projection (Achlioptas 2003, ±1
    // variant): 64-dim embeddings onto 16 derived directions — the
    // dimensionality-reduction front end before clustering/ANN. The sign
    // matrix is DERIVED from h60("rp:k:i") parity, never stored: any
    // engine or shard regenerates it identically with no coordination,
    // which is what makes this a full hash-match row. Projection sums ride
    // the DECIMAL(30,12) ladder (order-independent); the n·d explode fans
    // out ×16 against the broadcast 1024-row sign matrix but collapses
    // map-side — the exchange carries n·16 rows, never n·d·16.
    QueryDef("q130_random_projection",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        graft.ml.RandomProjection.project(e, kDim = 16, d = 64)
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sgn AS MATERIALIZED (
          SELECT k, i,
            CASE WHEN CAST('0x' || substr(md5('rp:' || CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
              THEN 1e0 ELSE -1e0 END AS s
          FROM (SELECT UNNEST(range(0, 16)) AS k) ks
          CROSS JOIN (SELECT UNNEST(range(0, 64)) AS i) ii),
        ex AS (SELECT vec_id, UNNEST(v) AS x, UNNEST(range(0, len(v))) AS i FROM e)
        SELECT ex.vec_id, sgn.k,
          round(CAST(SUM(CAST(ex.x * sgn.s AS DECIMAL(30,12))) AS DOUBLE) / sqrt(16e0), 8) AS p
        FROM ex JOIN sgn USING (i)
        GROUP BY 1, 2"""),
      bench = true),

    // Exact-quota stratified sample: exactly min(|stratum|, 100) docs per
    // language, chosen by a deterministic portable hash rank (md5-48 of the
    // doc id — 48 bits so the key is exactly representable as the TopK
    // aggregator's double score). q77's hash-coin Bernoulli sampler hits a
    // RATE; this row hits a COUNT, which is what a fixed-size eval-set or
    // annotation draw needs. Scale path: the bounded heap every engine
    // top-k shares (graft.ml.TopK.ranked) — shuffle volume is ≤
    // quota·|strata| regardless of corpus size, with NO per-stratum
    // global-order window.
    QueryDef("q111_sample_quota",
      (s, dir) => {
        val scored = docs(s, dir)
          .select(col("lang"), col("doc_id"),
            // score = −h48: TopK keeps largest (score desc, id asc) ≡
            // smallest (h asc, doc_id asc); 48-bit values negate exactly
            // in a double
            negate(conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
              .cast(org.apache.spark.sql.types.LongType)
              .cast(org.apache.spark.sql.types.DoubleType)).as("score"))
        graft.ml.TopK.ranked(scored, Seq("lang"), "doc_id", "score", k = 100)
          .select(col("lang"), col("doc_id"))
      },
      oracle = Some("""
        WITH h AS (
          SELECT lang, doc_id,
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
          FROM documents)
        SELECT lang, doc_id FROM h
        QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) <= 100"""),
      bench = true),

    // Weighted sampling without replacement (Efraimidis & Spirakis, IPL
    // 2006) — the third member of the sampling family (q77: rate-targeting
    // coin; q111: exact quota; here: inclusion probability ∝ weight): each
    // doc gets key ln(u)/w with u from the portable md5-48 hash (exact in
    // a double: /2^48 is a power-of-two scale) and w = its token count;
    // the 100 largest keys win. Every arithmetic step is one deterministic
    // IEEE op (ln→10 dp, the standing rule), so both engines derive
    // identical keys. Scale path: the bounded heap (TopK.ranked) again —
    // ≤ 100 rows per partition reach the single-group shuffle; the oracle
    // is the global rank window the Spark plan avoids.
    QueryDef("q122_weighted_sample",
      (s, dir) => {
        val keyed = docs(s, dir)
          .select(col("doc_id"),
            greatest(size(Exprs.tokens(col("text"))), lit(1)).cast("double").as("w"),
            conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 12), 16, 10)
              .cast("long").as("h"))
          .select(col("doc_id"),
            (round(log((col("h").cast("double") + lit(1.0d)) / lit(281474976710656.0d)), 10) /
              col("w")).as("es_key"))
        graft.ml.TopK.ranked(keyed, Nil, "doc_id", "es_key", k = 100)
          .select(col("doc_id"), round(col("es_key"), 8).as("es_key"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        ntok AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        k AS (
          SELECT d.doc_id,
            round(ln((CAST('0x' || substr(md5('ws:' || CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                + 1.0) / 281474976710656.0), 10)
              / CAST(greatest(COALESCE(nt.n, 0), 1) AS DOUBLE) AS es_key
          FROM documents d LEFT JOIN ntok nt ON d.doc_id = nt.doc_id)
        SELECT doc_id, round(es_key, 8) AS es_key FROM k
        QUALIFY row_number() OVER (ORDER BY es_key DESC, doc_id ASC) <= 100"""),
      bench = true),

    // MinHash dedup shipped end to end: q34's LSH pair set → large-star/
    // small-star connected components → keep-min purge, one plan. q70/q72
    // prove the chain on the n-gram Jaccard pairs; this row proves it on
    // the MinHash pairs — the configuration an actual 100 TB dedup run
    // uses (signatures scan-shaped, candidate generation bucket-joined,
    // clusters in O(log n) equi-shuffle rounds). The oracle composes the
    // full MinHash replay with a recursive transitive closure.
    QueryDef("q112_minhash_cluster_purge",
      (s, dir) => {
        val pairs = Dedup.minhashLshPairs(docs(s, dir), threshold = 0.05,
            portable = true, maxBucketSize = Some(64))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val comp = graft.graph.Graphs.connectedComponents(pairs)
          .withColumnRenamed("v", "doc_id")
        docs(s, dir).select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
          .withColumn("kept", col("doc_id") === col("cluster_id"))
      },
      oracle = Some(s"""WITH RECURSIVE $shCteBody,
        $minhashPairsCtes,
        und2 AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                 UNION SELECT doc_b, doc_a FROM mh_pairs),
        reach2(a, b) AS (
          SELECT a, b FROM und2
          UNION
          SELECT r.a, u.b FROM reach2 r JOIN und2 u ON r.b = u.a),
        mclusters AS (
          SELECT d.doc_id,
            CAST(CASE WHEN m.mn IS NULL OR d.doc_id < m.mn THEN d.doc_id ELSE m.mn END AS BIGINT)
              AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT a AS doc_id, MIN(b) AS mn FROM reach2 GROUP BY 1) m USING (doc_id))
        SELECT doc_id, cluster_id, doc_id = cluster_id AS kept FROM mclusters"""),
      bench = true), // the composed MinHash dedup chain in the headline run

    // Fuzzy dedup by edit distance on doc prefixes — the BRUTE-FORCE BASELINE
    // row of the edit-distance family (q37's role in the ANN family): exact
    // all-pairs-within-lang, no candidate pruning. At maxDist=20 over 40-char
    // prefixes no blocking can filter meaningfully (PassJoin's τ+1=21
    // segments of a 40-char string are 1–2 chars each — near-universal
    // collision; a length band of width 21 holds every prefix). The SCALE
    // path is q63_edit_blocked (maxDist=4, segment-blocked, provably
    // lossless); this row exists to pin the exact answer a pruned plan must
    // reproduce. Round 3 shipped a degenerate "banding" here that filtered
    // nothing while looking like blocking — removed rather than pretended.
    QueryDef("q55_levenshtein_pairs",
      (s, dir) => {
        import org.apache.spark.sql.types.LongType
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 40).as("prefix"))
        d.as("a").join(d.as("b"),
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
          .withColumn("dist", levenshtein(col("a.prefix"), col("b.prefix")).cast(LongType))
          .filter(col("dist") <= 20)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("dist"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, lang, substr(text, 1, 40) AS prefix FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE levenshtein(a.prefix, b.prefix) <= 20""")),

    // Segment-blocked edit-distance dedup (PassJoin-style): the Spark plan
    // joins on (segment, content, lang) keys only; the oracle recomputes the
    // ALL-PAIRS answer, so a hash match also proves the blocking is lossless.
    QueryDef("q63_edit_blocked",
      (s, dir) => Dedup.editDistancePairs(docs(s, dir), prefixLen = 40, maxDist = 4),
      oracle = Some("""
        WITH d AS (SELECT doc_id, lang, substr(text, 1, 40) AS prefix FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE levenshtein(a.prefix, b.prefix) <= 4"""),
      bench = true),

    // Array analytics over the embedding column: per-label vector stats
    QueryDef("q60_embedding_stats",
      (s, dir) => {
        import graft.functions.Exprs
        val e = Tables(s, dir, "embeddings")
          .select(col("label").cast(org.apache.spark.sql.types.LongType).as("label"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("norm", sqrt(Exprs.dot(col("v"), col("v"))))
          .withColumn("dim", size(col("v")).cast(org.apache.spark.sql.types.LongType))
        e.groupBy(col("label"))
          .agg(count(lit(1)).as("n"), max(col("dim")).as("dim"),
            Exprs.dsum(col("norm"), 8).as("sum_norm"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v,
            CAST(len(embedding) AS BIGINT) AS dim
          FROM embeddings)
        SELECT label, COUNT(*) AS n, MAX(dim) AS dim,
          CAST(SUM(CAST(sqrt(list_dot_product(v, v)) AS DECIMAL(30,8))) AS DOUBLE) AS sum_norm
        FROM e GROUP BY 1""")),

    // End-to-end curation pipeline — the composability proof: exact-dedup
    // representatives ⋈ quality gate ⋈ language-agreement filter, one plan.
    // Every stage reuses an already-oracle-checked operator, and the oracle
    // composes the same CTEs, so the chain is verified as a whole.
    QueryDef("q64_curation_pipeline",
      (s, dir) => {
        val d = docs(s, dir)
        val reps = Dedup.exact(d).select(col("rep_doc_id").as("doc_id"))
        val q = TextStats.quality(d).select(col("doc_id"), col("n_tokens"), col("quality"))
        val lid = TextStats.languageId(d).select(col("doc_id"), col("pred_lang"))
        d.select(col("doc_id"), col("lang"))
          .join(reps, "doc_id")
          .join(q, "doc_id").filter(col("quality") >= 0.6)
          .join(lid, "doc_id").filter(col("pred_lang") === col("lang"))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
      },
      oracle = Some {
        val stopList = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
        val scoreCols = TextStats.langMarkers.map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"CAST(SUM(CASE WHEN term IN ($list) THEN 1 ELSE 0 END) AS BIGINT) AS s_$lang"
        }.mkString(",\n          ")
        val bestExpr = TextStats.langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val predExpr = TextStats.langMarkers.map { case (l, _) =>
          s"WHEN s_$l = best AND best > 0 THEN '$l'"
        }.mkString("CASE ", " ", " ELSE 'und' END")
        s"""
        WITH ${Text.toksCte},
        norm AS (
          SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS text_hash
          FROM documents),
        reps AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY text_hash),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_distinct,
            CAST(SUM(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
          FROM toks GROUP BY 1),
        qual AS (
          SELECT doc_id, n_tokens,
            CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) * 0.4 +
              CAST(least(n_tokens, 100) AS DOUBLE)/100.0 * 0.4 +
              (1.0 - CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.2 AS quality
          FROM per_doc),
        scored AS (
          SELECT doc_id,
          $scoreCols
          FROM toks GROUP BY 1),
        pred AS (
          SELECT doc_id, $predExpr AS pred_lang
          FROM (SELECT *, $bestExpr AS best FROM scored) b)
        SELECT d.doc_id, d.lang, qual.n_tokens, qual.quality
        FROM documents d
        JOIN reps USING (doc_id)
        JOIN qual USING (doc_id)
        JOIN pred USING (doc_id)
        WHERE qual.quality >= 0.6 AND pred.pred_lang = d.lang"""
      },
      bench = true),

    QueryDef("q39_lang_id",
      (s, dir) => TextStats.languageId(docs(s, dir)),
      oracle = Some {
        val scoreCols = TextStats.langMarkers.map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"CAST(SUM(CASE WHEN term IN ($list) THEN 1 ELSE 0 END) AS BIGINT) AS s_$lang"
        }.mkString(",\n          ")
        val bestExpr = TextStats.langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val predExpr = TextStats.langMarkers.map { case (l, _) =>
          s"WHEN s_$l = best AND best > 0 THEN '$l'"
        }.mkString("CASE ", " ", " ELSE 'und' END")
        s"""
        WITH ${Text.toksCte},
        scored AS (
          SELECT doc_id,
          $scoreCols
          FROM toks GROUP BY 1)
        SELECT doc_id, $predExpr AS pred_lang, best AS best_score
        FROM (SELECT *, $bestExpr AS best FROM scored) b"""
      }),

    QueryDef("q40_quality",
      (s, dir) => TextStats.quality(docs(s, dir)),
      oracle = Some {
        val stopList = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
        s"""
        WITH ${Text.toksCte},
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_distinct,
            CAST(SUM(length(term)) AS BIGINT) AS n_term_chars,
            CAST(SUM(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
          FROM toks GROUP BY 1),
        raw AS (
          SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
            CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS len_clean
          FROM documents)
        SELECT p.doc_id, n_tokens, n_distinct,
          CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS ttr,
          CAST(n_term_chars AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS avg_token_len,
          CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stopword_ratio,
          CAST(len_raw - len_clean AS DOUBLE)/CAST(len_raw AS DOUBLE) AS nonalnum_ratio,
          CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) * 0.4 +
            CAST(least(n_tokens, 100) AS DOUBLE)/100.0 * 0.4 +
            (1.0 - CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.2 AS quality
        FROM per_doc p JOIN raw r ON p.doc_id = r.doc_id"""
      },
      bench = true),

    QueryDef("q41_token_stats",
      (s, dir) => TextStats.tokenCounts(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
          CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        FROM documents""")),

    QueryDef("q42_fingerprint",
      (s, dir) => TextStats.fingerprint(docs(s, dir)),
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_transform(
              list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                          t -> t <> ''),
              t -> CAST(length(t)*31 + ascii(t) AS BIGINT)) AS vals
          FROM documents)
        SELECT doc_id,
          CASE WHEN len(vals) = 0 THEN 0
               ELSE list_reduce(vals, (a, v) -> (a*131 + v) % 1000000007) END AS fingerprint
        FROM seq"""),
      bench = true),

    // Perplexity filtering (CCNet-style): a char-trigram LM trained per
    // language over the corpus, every doc scored against its own language's
    // model. The whole train+score chain — normalization, trigram explode,
    // add-one smoothed log-probs (rounded to 10 dp pre-sum, the standing
    // libm hygiene), exact decimal sum, avg-NLL, perplexity — is replayed
    // verbatim in SQL, so the trained-model semantics are hash-checked.
    QueryDef("q90_charlm_ppl",
      (s, dir) => TextStats.charLmPerplexity(docs(s, dir)),
      oracle = Some("""
        WITH cl AS (
          SELECT doc_id, lang,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS (
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i)),
        model AS (SELECT lang, tg, COUNT(*) AS cnt FROM tris GROUP BY 1, 2),
        tot AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM model GROUP BY 1),
        probs AS (
          SELECT m.lang, m.tg,
            round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM model m JOIN tot USING (lang)),
        sc AS (
          SELECT t.doc_id, t.lang, COUNT(*) AS n_tri,
            CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) AS s
          FROM tris t JOIN probs p ON p.lang = t.lang AND p.tg = t.tg
          GROUP BY 1, 2)
        SELECT doc_id, lang, n_tri,
          round(-s/n_tri, 8) AS avg_nll,
          round(exp(-s/n_tri), 6) AS ppl
        FROM sc""")),

    // Trainable quality/domain classifier (the fastText-classifier role in
    // CCNet/RefinedWeb curation): logistic regression by full-batch GD over
    // engineered per-doc features ([bias, stopword_ratio, ttr,
    // min(n_tokens,100)/100]), label = doc is English. Like q90, the TRAINED
    // MODEL itself is the oracle-checked output: every GD round is unrolled
    // as CTEs ([[lrCtes]] — margin rounded 12 dp before exp, sigmoid 10 dp,
    // gradient terms through DECIMAL(30,12), updates rounded 12 dp), so the
    // optimization replays bit-for-bit in DuckDB.
    QueryDef("q96_lr_train",
      (s, dir) => graft.ml.Logistic.train(lrFeatures(s, dir), lr = 1.0, iterations = 8),
      oracle = Some(s"""
        WITH ${Text.toksCte},
        ${lrCtes(4, "1.0", 8)}
        SELECT CAST(pos AS BIGINT) AS pos, w AS weight FROM w8""")),

    // The trained filter applied: every doc scored by the q96 model, gated
    // at 0.5 — train + score + gate as ONE hash-matched chain (q90's shape,
    // with a learned parametric model instead of count statistics).
    QueryDef("q97_lr_filter",
      (s, dir) => {
        // pinned: the quality-feature pipeline feeds trainer AND scorer
        val feats = graft.Caching.pin(lrFeatures(s, dir))
        val w = graft.ml.Logistic.train(feats, lr = 1.0, iterations = 8)
        graft.ml.Logistic.score(feats, w)
          .withColumn("keep", col("score") >= lit(0.5d))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        ${lrCtes(4, "1.0", 8)},
        waf AS (SELECT list(w ORDER BY pos) AS wv FROM w8)
        SELECT id, round(1.0/(1.0 + exp(-round(list_dot_product(x, wv), 12))), 10) AS score,
          round(1.0/(1.0 + exp(-round(list_dot_product(x, wv), 12))), 10) >= 0.5 AS keep
        FROM feat, waf"""),
      bench = true),

    // Language-ID confusion matrix — the evaluation row the q39 detector
    // was missing (a classifier without its confusion surface is not an
    // evaluated classifier; the NB family has q65, kNN has q29 — this
    // closes the lang-ID family the same way): predicted × actual counts
    // plus per-cell rate within the actual class. One join + one grouped
    // count; all integers until one ratio.
    QueryDef("q160_langid_confusion",
      (s, dir) => {
        val pred = graft.operators.TextStats.languageId(docs(s, dir))
          .select(col("doc_id"), col("pred_lang"))
        val truth = docs(s, dir).select(col("doc_id"), col("lang"))
        val cells = pred.join(truth, "doc_id")
          .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        val rowTot = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_actual"))
        cells.join(rowTot, "lang")
          .select(col("lang"), col("pred_lang"), col("n"),
            round(col("n").cast(org.apache.spark.sql.types.DoubleType) /
              col("n_actual").cast(org.apache.spark.sql.types.DoubleType), 8).as("rate"))
      },
      oracle = Some {
        val scoreCols = TextStats.langMarkers.map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"CAST(SUM(CASE WHEN term IN ($list) THEN 1 ELSE 0 END) AS BIGINT) AS s_$lang"
        }.mkString(",\n          ")
        val bestExpr = TextStats.langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val predExpr = TextStats.langMarkers.map { case (l, _) =>
          s"WHEN s_$l = best AND best > 0 THEN '$l'"
        }.mkString("CASE ", " ", " ELSE 'und' END")
        s"""
        WITH ${Text.toksCte},
        scored AS (
          SELECT doc_id,
          $scoreCols
          FROM toks GROUP BY 1),
        pred AS (
          SELECT doc_id, $predExpr AS pred_lang
          FROM (SELECT *, $bestExpr AS best FROM scored) b),
        cells AS (
          SELECT d.lang, p.pred_lang, COUNT(*) AS n
          FROM pred p JOIN documents d ON d.doc_id = p.doc_id
          GROUP BY 1, 2),
        rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1)
        SELECT c.lang, c.pred_lang, c.n,
          round(CAST(c.n AS DOUBLE) / CAST(rt.n_actual AS DOUBLE), 8) AS rate
        FROM cells c JOIN rt ON rt.lang = c.lang"""
      },
      bench = true),

    // Calibration (reliability) bins of the q97 logistic filter — the
    // evaluation a probability-emitting quality gate needs before its
    // scores can be thresholded or mixed: per fixed-width score bin
    // (floor(score·200), clamp 199 — 0.005-wide, fine enough to resolve
    // this filter's tight score band; no global sort), the count, the mean
    // predicted probability (exact DECIMAL over the 10-dp scores), and
    // the ACTUAL positive rate (integer ratio). Deciles where mean_pred
    // tracks actual_rate are where the filter's probabilities mean what
    // they claim. One grouped pass downstream of the trained scorer.
    QueryDef("q155_lr_calibration",
      (s, dir) => {
        // pinned: feeds trainer, scorer and the y-join
        val feats = graft.Caching.pin(lrFeatures(s, dir))
        val w = graft.ml.Logistic.train(feats, lr = 1.0, iterations = 8)
        graft.ml.Logistic.score(feats, w)
          .join(feats.select(col("id"), col("y")), "id")
          .select(least(floor(col("score") * lit(200.0d)).cast(org.apache.spark.sql.types.LongType),
            lit(199L)).as("bin"), col("score"), col("y"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("score").cast(org.apache.spark.sql.types.DecimalType(30, 10))), 8)
              .cast(org.apache.spark.sql.types.DoubleType).as("sum_pred"),
            sum(col("y").cast(org.apache.spark.sql.types.LongType)).as("n_pos"))
          .select(col("bin"), col("n"),
            round(col("sum_pred") / col("n").cast(org.apache.spark.sql.types.DoubleType), 8)
              .as("mean_pred"),
            round(col("n_pos").cast(org.apache.spark.sql.types.DoubleType) /
              col("n").cast(org.apache.spark.sql.types.DoubleType), 8).as("actual_rate"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        ${lrCtes(4, "1.0", 8)},
        waf AS (SELECT list(w ORDER BY pos) AS wv FROM w8),
        scored AS (
          SELECT f.id, round(1.0/(1.0 + exp(-round(list_dot_product(f.x, wv), 12))), 10) AS score,
            f.y
          FROM feat f, waf),
        binned AS (
          SELECT least(CAST(floor(score * CAST(200 AS DOUBLE)) AS BIGINT), 199) AS bin, score, y
          FROM scored),
        agg AS (
          SELECT bin, COUNT(*) AS n,
            CAST(round(SUM(CAST(score AS DECIMAL(30,10))), 8) AS DOUBLE) AS sum_pred,
            CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos
          FROM binned GROUP BY 1)
        SELECT bin, n, round(sum_pred / CAST(n AS DOUBLE), 8) AS mean_pred,
          round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 8) AS actual_rate
        FROM agg"""),
      bench = true),

    // Duplicate CLUSTERS from near-dup PAIRS: connected components (min-label
    // propagation, graft.graph.Graphs.connectedComponents) over the q33
    // capped-Jaccard pair graph; every doc gets the min doc_id of its
    // component, singletons label themselves. The oracle replays the same
    // pair CTEs and closes them with a recursive transitive closure — the
    // CC fixpoint is the unique per-vertex min-reachable id, so the
    // iterative Spark loop and the recursive SQL agree exactly.
    QueryDef("q70_dup_clusters",
      (s, dir) => dupClusterAssignment(s, dir),
      oracle = Some(s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes
        SELECT doc_id, cluster_id FROM clusters"""),
      bench = true), // iterative CC in the headline run (VERDICT r5 Next #7)

    // Soft dedup — duplication-aware LOSS WEIGHTS instead of deletion:
    // every doc keeps its row but carries weight 1/|cluster| (integer
    // millionths), so a near-dup cluster contributes ONE document's worth
    // of gradient regardless of how many copies the crawl found — the
    // down-weighting alternative to q72's purge that soft-dedup pipelines
    // deploy when deletion is too blunt (boilerplate-heavy but unique-tail
    // docs). Composes the q70 cluster assignment with one cluster-keyed
    // size count; Σ weight_e6 ≈ 1e6 · (effective corpus size) falls out
    // for free downstream. No new shuffle beyond q70's CC rounds.
    QueryDef("q191_soft_dedup_weights",
      (s, dir) => {
        val cl = dupClusterAssignment(s, dir)
        val cs = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        cl.join(cs, "cluster_id")
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            expr("1000000 div cluster_size").as("weight_e6"))
      },
      oracle = Some(s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes,
        cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
               FROM clusters GROUP BY 1)
        SELECT c.doc_id, c.cluster_id, cs.cluster_size,
          1000000 // cs.cluster_size AS weight_e6
        FROM clusters c JOIN cs USING (cluster_id)"""),
      bench = true),

    // Within-document repetition signals (the Gopher-style quality gates a
    // pretraining pipeline runs at scan speed): word-bigram duplicate
    // fraction and top-bigram concentration per doc. Array-native bigrams
    // (zip of the token array with its own tail) — no self-join, no window;
    // docs with < 2 tokens produce no row (explode of the empty shingle set)
    // on both engines.
    QueryDef("q71_repetition_stats",
      (s, dir) => {
        import graft.functions.Exprs
        import org.apache.spark.sql.types.{DoubleType, LongType}
        // tokens in their OWN projection (the HOF-CSE contract): shingles
        // references its argument three times, and inlining tokens(text)
        // into the transform lambda re-tokenizes once PER BIGRAM POSITION
        docs(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(Exprs.shingles(col("toks"), 2)).as("bigram"))
          .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt")).cast(LongType).as("n_bigrams"),
            count(lit(1)).cast(LongType).as("n_distinct"),
            max(col("cnt")).cast(LongType).as("top_cnt"))
          .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
            round((col("n_bigrams") - col("n_distinct")).cast(DoubleType) /
              col("n_bigrams").cast(DoubleType), 6).as("dup_frac"),
            round(col("top_cnt").cast(DoubleType) /
              col("n_bigrams").cast(DoubleType), 6).as("top_frac"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        bg AS (
          SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM seq) g),
        bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
        SELECT doc_id,
          CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
          CAST(COUNT(*) AS BIGINT) AS n_distinct,
          round(CAST(SUM(cnt) - COUNT(*) AS DOUBLE)/CAST(SUM(cnt) AS DOUBLE), 6) AS dup_frac,
          round(CAST(MAX(cnt) AS DOUBLE)/CAST(SUM(cnt) AS DOUBLE), 6) AS top_frac
        FROM bc GROUP BY 1""")),

    // The purge step a dedup pipeline actually ships: keep one representative
    // (the cluster-min doc) per duplicate cluster, report survivors and
    // removals per language. Composes q70's cluster assignment — the oracle
    // composes the identical CTEs, so the pairs→clusters→purge chain is
    // verified end to end.
    QueryDef("q72_dedup_purge",
      (s, dir) => {
        docs(s, dir).select(col("doc_id"), col("lang"))
          .join(dupClusterAssignment(s, dir), "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L)).as("n_kept"))
          .select(col("lang"), col("n_docs"), col("n_kept"),
            (col("n_docs") - col("n_kept")).as("n_removed"))
      },
      oracle = Some(s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes
        SELECT d.lang,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        FROM documents d JOIN clusters c USING (doc_id)
        GROUP BY 1""")),

    // Quality-aware dedup purge — q72 with the representative CHOSEN, not
    // defaulted: within each duplicate cluster keep the best-quality doc
    // (tie → min doc_id) instead of keep-first, the RefinedWeb/FineWeb
    // posture ("keep the longest/cleanest copy"). The card quantifies what
    // the choice buys: per lang, how many clusters change representative
    // and the kept-set mean quality under both policies (best ≥ first by
    // construction). Rep selection is a plain grouped max over a
    // (quality, −doc_id) struct — map-side combined, no window, no new
    // shuffle beyond q72's cluster chain.
    QueryDef("q220_dedup_keep_best",
      (s, dir) => {
        val d = docs(s, dir)
        val clus = dupClusterAssignment(s, dir)
        val qv = TextStats.quality(d)
          .select(col("doc_id"), round(col("quality"), 6).as("q"))
        val m = clus.join(qv, "doc_id")
          .join(d.select(col("doc_id"), col("lang")), "doc_id")
        val best = m.groupBy(col("cluster_id"))
          .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("b"))
          .select(col("cluster_id"), (-col("b.nid")).as("best_id"),
            col("b.q").as("qb"))
        val firstQ = m.filter(col("doc_id") === col("cluster_id"))
          .select(col("cluster_id"), col("lang"), col("q").as("qf"))
        firstQ.join(best, "cluster_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(when(col("best_id") =!= col("cluster_id"), 1L).otherwise(0L))
              .as("n_rep_changed"),
            round(Exprs.dsum(col("qf"), 6) / count(lit(1)).cast("double"), 6)
              .as("mean_q_first"),
            round(Exprs.dsum(col("qb"), 6) / count(lit(1)).cast("double"), 6)
              .as("mean_q_best"))
      },
      oracle = Some {
        val stopList = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes,
        toks AS (
          SELECT doc_id, term FROM (
            SELECT doc_id,
              unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +')) AS term
            FROM documents) u
          WHERE term <> ''),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_distinct,
            CAST(SUM(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
          FROM toks GROUP BY 1),
        qv AS (
          SELECT doc_id,
            round(CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) * 0.4 +
              CAST(least(n_tokens, 100) AS DOUBLE)/100.0 * 0.4 +
              (1.0 - CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.2, 6) AS q
          FROM per_doc),
        m AS (
          SELECT c.doc_id, c.cluster_id, d.lang, qv.q
          FROM clusters c JOIN qv USING (doc_id) JOIN documents d USING (doc_id)),
        best AS (
          SELECT cluster_id, doc_id AS best_id, q AS qb FROM (
            SELECT cluster_id, doc_id, q,
              row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) AS rn
            FROM m) z WHERE rn = 1),
        firstq AS (
          SELECT cluster_id, lang, q AS qf FROM m WHERE doc_id = cluster_id)
        SELECT f.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN b.best_id <> f.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rep_changed,
          round(CAST(SUM(CAST(f.qf AS DECIMAL(30,6))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS mean_q_first,
          round(CAST(SUM(CAST(b.qb AS DECIMAL(30,6))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS mean_q_best
        FROM firstq f JOIN best b USING (cluster_id)
        GROUP BY 1"""
      },
      bench = true),

    // Context-window truncation card: for candidate context lengths, how
    // many documents exceed the window and what fraction of corpus tokens
    // a hard truncation would discard — the planning table behind every
    // max_seq_len decision (the complement of q82/q202's packing view:
    // packing asks how to fill windows, this asks what a window costs).
    // One tokenize scan + a 3-row broadcast; all-integer arithmetic.
    QueryDef("q221_context_truncation",
      (s, dir) => {
        val lens = s.createDataFrame(Seq(32L, 64L, 96L).map(Tuple1(_))).toDF("ctx_len")
        val n = docs(s, dir).select(Exprs.tokens(col("text")).as("tk"))
          .select(size(col("tk")).cast("long").as("n"))
          .filter(col("n") > 0)
        n.crossJoin(broadcast(lens))
          .groupBy(col("ctx_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n") > col("ctx_len"), 1L).otherwise(0L)).as("n_truncated"),
            sum(greatest(col("n") - col("ctx_len"), lit(0L))).as("tokens_lost"),
            sum(col("n")).as("total_tokens"))
          .select(col("ctx_len"), col("n_docs"), col("n_truncated"),
            col("tokens_lost"), col("total_tokens"),
            expr("(1000000 * tokens_lost) div total_tokens").as("lost_ppm"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        nn AS (SELECT CAST(len(tk) AS BIGINT) AS n FROM seq WHERE len(tk) > 0),
        ks(ctx_len) AS (VALUES (32), (64), (96))
        SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN n > ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
          CAST(SUM(greatest(n - ctx_len, 0)) AS BIGINT) AS tokens_lost,
          CAST(SUM(n) AS BIGINT) AS total_tokens,
          (1000000 * CAST(SUM(greatest(n - ctx_len, 0)) AS BIGINT)) // CAST(SUM(n) AS BIGINT)
            AS lost_ppm
        FROM nn CROSS JOIN ks GROUP BY 1"""),
      bench = true),

    // Dedup threshold-sensitivity sweep — the table an operator reads
    // before picking a similarity cutoff: pair count and affected-doc count
    // at each candidate Jaccard threshold, off ONE pass of the q33 pair
    // kernel (candidates generated once at the lowest threshold, bucketed
    // by conditional filter — never re-paired per threshold). Thresholds
    // carry their ppm labels as literals so no float→int conversion exists
    // on either engine (DuckDB CAST rounds where Spark truncates).
    QueryDef("q222_dedup_threshold_sweep",
      (s, dir) => {
        val th = s.createDataFrame(Seq((0.05d, 50000L), (0.1d, 100000L),
          (0.2d, 200000L), (0.4d, 400000L))).toDF("t", "t_ppm")
        val pairs = Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.05,
          maxShingleDf = Some(64))
        val pt = pairs.crossJoin(broadcast(th)).filter(col("jaccard") >= col("t"))
        val np = pt.groupBy(col("t_ppm")).agg(count(lit(1)).as("n_pairs"))
        val nd = pt.select(col("t_ppm"),
            explode(array(col("doc_a"), col("doc_b"))).as("d")).distinct()
          .groupBy(col("t_ppm")).agg(count(lit(1)).as("n_dup_docs"))
        th.select(col("t_ppm"))
          .join(broadcast(np), Seq("t_ppm"), "left")
          .join(broadcast(nd), Seq("t_ppm"), "left")
          .select(col("t_ppm"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
      },
      oracle = Some(s"""$shCte,
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        shc AS (SELECT sh.* FROM sh JOIN dfreq USING (shingle) WHERE df <= 64),
        csizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY 1),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shc a JOIN shc b
            ON a.shingle = b.shingle AND a.block = b.block AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        prs AS (
          SELECT doc_a, doc_b,
            CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
          FROM common
          JOIN csizes sa ON sa.doc_id = doc_a
          JOIN csizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05),
        th(t, t_ppm) AS (VALUES (0.05e0, 50000), (0.1e0, 100000),
          (0.2e0, 200000), (0.4e0, 400000)),
        pt AS (SELECT th.t_ppm, doc_a, doc_b FROM prs CROSS JOIN th
               WHERE jaccard >= th.t),
        np AS (SELECT t_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pt GROUP BY 1),
        nd AS (SELECT t_ppm, CAST(COUNT(*) AS BIGINT) AS n_dup_docs FROM (
          SELECT DISTINCT t_ppm, d FROM (
            SELECT t_ppm, doc_a AS d FROM pt UNION ALL SELECT t_ppm, doc_b FROM pt) u) z
          GROUP BY 1)
        SELECT CAST(th.t_ppm AS BIGINT) AS t_ppm,
          COALESCE(np.n_pairs, 0) AS n_pairs,
          COALESCE(nd.n_dup_docs, 0) AS n_dup_docs
        FROM th LEFT JOIN np USING (t_ppm) LEFT JOIN nd USING (t_ppm)"""),
      bench = true),

    // Pairwise Jensen–Shannon divergence between sources over the unigram
    // distribution — the corpus-comparison matrix behind source-mixing
    // decisions (which sources are near-duplicates of each other, which
    // add genuinely new text). The distribution DIMENSION is fixed at any
    // corpus scale: the global top-1024 terms (TakeOrderedAndProject, the
    // q217 posture) plus one __other__ tail bucket per source, so the
    // pairwise stage is |sources|²/2 × 1025 rows — bounded — while the
    // only corpus-sized stages are two map-side-combined censuses.
    // Add-one smoothing over the 1025 buckets keeps every term in both
    // supports; probabilities and per-term contributions are 12-dp
    // integer-count ratios, sums DECIMAL-laddered — full hash match.
    QueryDef("q223_source_divergence",
      (s, dir) => {
        val d = docs(s, dir)
        val census = d.select(col("source"), explode(Exprs.tokens(col("text"))).as("term"))
          .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        val tot = census.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
        val top = graft.Caching.pin(census
          .groupBy(col("term")).agg(sum(col("cnt")).as("g"))
          .orderBy(col("g").desc, col("term").asc).limit(1024)
          .select(col("term")))
        val inTop = census.join(broadcast(top), "term")
        val covered = inTop.groupBy(col("source")).agg(sum(col("cnt")).as("cov"))
        val grid = tot.crossJoin(broadcast(top))
          .join(inTop, Seq("source", "term"), "left")
          .select(col("source"), col("term"),
            coalesce(col("cnt"), lit(0L)).as("c"), col("n_s"))
        val other = tot.join(covered, Seq("source"), "left")
          .select(col("source"), lit("__other__").as("term"),
            (col("n_s") - coalesce(col("cov"), lit(0L))).as("c"), col("n_s"))
        val dd = org.apache.spark.sql.types.DoubleType
        val dist = grid.unionByName(other)
          .select(col("source"), col("term"),
            round((col("c") + 1).cast(dd) / (col("n_s") + 1025).cast(dd), 12).as("p"))
        val pa = col("a.p"); val pb = col("b.p")
        val tc = round(lit(0.5d) * (pa * log(lit(2d) * pa / (pa + pb)) +
          pb * log(lit(2d) * pb / (pa + pb))), 12)
        dist.as("a").join(dist.as("b"),
            col("a.term") === col("b.term") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(round(Exprs.dsum(tc, 12), 6).as("js"))
      },
      oracle = Some("""
        WITH toks2 AS (
          SELECT source, term FROM (
            SELECT source,
              unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +')) AS term
            FROM documents) u
          WHERE term <> ''),
        census AS MATERIALIZED (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM toks2 GROUP BY 1, 2),
        tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_s FROM census GROUP BY 1),
        top AS MATERIALIZED (SELECT term FROM (
          SELECT term, row_number() OVER (ORDER BY SUM(cnt) DESC, term ASC) AS rn
          FROM census GROUP BY term) z WHERE rn <= 1024),
        intop AS (SELECT c.* FROM census c JOIN top USING (term)),
        covered AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS cov FROM intop GROUP BY 1),
        grid AS (
          SELECT t.source, tp.term, COALESCE(i.cnt, 0) AS c, t.n_s
          FROM tot t CROSS JOIN top tp
          LEFT JOIN intop i ON i.source = t.source AND i.term = tp.term),
        oth AS (
          SELECT t.source, '__other__' AS term, t.n_s - COALESCE(cv.cov, 0) AS c, t.n_s
          FROM tot t LEFT JOIN covered cv USING (source)),
        dist AS (
          SELECT source, term,
            round(CAST(c + 1 AS DOUBLE) / CAST(n_s + 1025 AS DOUBLE), 12) AS p
          FROM (SELECT * FROM grid UNION ALL SELECT * FROM oth) u)
        SELECT a.source AS source_a, b.source AS source_b,
          round(CAST(SUM(CAST(
            round(0.5e0 * (a.p * ln(2e0 * a.p / (a.p + b.p)) +
              b.p * ln(2e0 * b.p / (a.p + b.p))), 12)
            AS DECIMAL(30,12))) AS DOUBLE), 6) AS js
        FROM dist a JOIN dist b ON a.term = b.term AND a.source < b.source
        GROUP BY 1, 2"""),
      bench = true),

    // Rank-biased overlap (Webber et al. 2010) as a SPLIT-HALF STABILITY
    // card for the perplexity ranker: train the q90 char-trigram LM twice
    // on disjoint halves (even / odd doc_ids), score ALL docs under both
    // models (out-of-model trigrams take the add-one floor — the
    // StreamingCcnetGate rule), and measure RBO between the two top-100
    // most-fluent lists at top-weighted truncation depths. High RBO ⇒
    // yesterday's thresholds survive a model refit; the ranking-level
    // complement of q204's binary-gate κ. (A first draft compared the
    // quality and ppl rankers instead — hash-matched with ALL-ZERO
    // overlaps, the q218 consistency-vs-coverage trap on a degenerate
    // design; split-half stability is informative by construction.)
    // Both top-100 lists come from TakeOrderedAndProject; every later
    // stage runs on 100-row frames (depth grid, overlaps, the p^{d−1}
    // cumulative sum) — bounded at any corpus scale. Weights round pow()
    // at 12 dp, partial sums ride the DECIMAL ladder: full hash match.
    QueryDef("q224_ranker_agreement",
      (s, dir) => {
        val d = docs(s, dir)
        val clean = d
          .select(col("doc_id"), col("lang"),
            array_join(Exprs.tokens(col("text")), " ").as("clean"))
          .filter(length(col("clean")) >= 3)
        val tris = graft.Caching.pin(clean.select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(1, length(clean) - 2), i -> substring(clean, i, 3))")).as("tg")))
        val dd = org.apache.spark.sql.types.DoubleType
        def pplUnder(parity: Int): org.apache.spark.sql.DataFrame = {
          val m = tris.filter(col("doc_id") % 2 === parity)
            .groupBy(col("lang"), col("tg")).agg(count(lit(1)).as("cnt"))
          val t = m.groupBy(col("lang"))
            .agg(sum(col("cnt")).as("total"), count(lit(1)).as("dd"))
          val probs = m.join(t, "lang").select(col("lang"), col("tg"),
            round(log((col("cnt") + 1).cast(dd) /
              (col("total") + col("dd")).cast(dd)), 10).as("logp"))
          val floor = t.select(col("lang"),
            round(log(lit(1.0d) / (col("total") + col("dd")).cast(dd)), 10).as("fl"))
          tris.join(broadcast(probs), Seq("lang", "tg"), "left")
            .join(broadcast(floor), Seq("lang"))
            .select(col("doc_id"), coalesce(col("logp"), col("fl")).as("lp"))
            .groupBy(col("doc_id"))
            .agg(round(exp(-Exprs.dsum(col("lp"), 10) /
              count(lit(1)).cast(dd)), 6).as("ppl"))
        }
        def top100(ppl: org.apache.spark.sql.DataFrame, rank: String) = {
          val t = graft.Caching.pin(
            ppl.orderBy(col("ppl").asc, col("doc_id").asc).limit(100))
          t.withColumn(rank, row_number().over(
            Window.orderBy(col("ppl").asc, col("doc_id").asc)).cast("long"))
            .select(col("doc_id"), col(rank))
        }
        val j = top100(pplUnder(0), "rs")
          .join(top100(pplUnder(1), "rt"), Seq("doc_id"), "full_outer")
        val depths = s.createDataFrame((1L to 100L).map(Tuple1(_))).toDF("depth")
        val ov = depths.crossJoin(broadcast(j))
          .filter(col("rs") <= col("depth") && col("rt") <= col("depth"))
          .groupBy(col("depth")).agg(count(lit(1)).as("overlap"))
        val terms = depths.join(ov, Seq("depth"), "left")
          .select(col("depth"), coalesce(col("overlap"), lit(0L)).as("overlap"))
          .withColumn("w", round(pow(lit(0.9d), col("depth").cast(dd) - lit(1d)), 12))
          .withColumn("term", round(lit(0.1d) * col("w") * col("overlap").cast(dd) /
            col("depth").cast(dd), 12))
        val cum = terms.withColumn("rbo",
          round(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(30, 12)))
            .over(Window.orderBy(col("depth"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(dd), 6))
        cum.filter(col("depth").isin(10L, 25L, 50L, 100L))
          .select(col("depth"), col("overlap"),
            expr("(1000000 * overlap) div depth").as("agreement_ppm"), col("rbo"))
      },
      oracle = Some("""
        WITH cl AS (
          SELECT doc_id, lang,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS MATERIALIZED (
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i)),
        m0 AS MATERIALIZED (SELECT lang, tg, COUNT(*) AS cnt FROM tris WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        t0 AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM m0 GROUP BY 1),
        p0 AS (SELECT m.lang, m.tg, round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM m0 m JOIN t0 USING (lang)),
        f0 AS (SELECT lang, round(ln(1.0 / CAST(total + d AS DOUBLE)), 10) AS fl FROM t0),
        s0 AS (
          SELECT tr.doc_id,
            round(exp(-CAST(SUM(CAST(COALESCE(p.logp, f.fl) AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)), 6) AS ppl
          FROM tris tr LEFT JOIN p0 p ON p.lang = tr.lang AND p.tg = tr.tg
          JOIN f0 f ON f.lang = tr.lang
          GROUP BY 1),
        m1 AS MATERIALIZED (SELECT lang, tg, COUNT(*) AS cnt FROM tris WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        t1 AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM m1 GROUP BY 1),
        p1 AS (SELECT m.lang, m.tg, round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM m1 m JOIN t1 USING (lang)),
        f1 AS (SELECT lang, round(ln(1.0 / CAST(total + d AS DOUBLE)), 10) AS fl FROM t1),
        s1 AS (
          SELECT tr.doc_id,
            round(exp(-CAST(SUM(CAST(COALESCE(p.logp, f.fl) AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)), 6) AS ppl
          FROM tris tr LEFT JOIN p1 p ON p.lang = tr.lang AND p.tg = tr.tg
          JOIN f1 f ON f.lang = tr.lang
          GROUP BY 1),
        rq AS (SELECT doc_id, rs FROM (
          SELECT doc_id, CAST(row_number() OVER (ORDER BY ppl ASC, doc_id ASC) AS BIGINT) AS rs
          FROM s0) z WHERE rs <= 100),
        rp AS (SELECT doc_id, rt FROM (
          SELECT doc_id, CAST(row_number() OVER (ORDER BY ppl ASC, doc_id ASC) AS BIGINT) AS rt
          FROM s1) z WHERE rt <= 100),
        j AS (SELECT COALESCE(rq.doc_id, rp.doc_id) AS doc_id, rs, rt
          FROM rq FULL OUTER JOIN rp ON rq.doc_id = rp.doc_id),
        depths AS (SELECT CAST(UNNEST(generate_series(1, 100)) AS BIGINT) AS depth),
        ov AS (
          SELECT depth, CAST(COUNT(*) AS BIGINT) AS overlap
          FROM depths CROSS JOIN j WHERE rs <= depth AND rt <= depth
          GROUP BY 1),
        terms AS (
          SELECT d.depth, COALESCE(o.overlap, 0) AS overlap,
            round(0.1e0 * round(pow(0.9e0, CAST(d.depth AS DOUBLE) - 1e0), 12) *
              CAST(COALESCE(o.overlap, 0) AS DOUBLE) / CAST(d.depth AS DOUBLE), 12) AS term
          FROM depths d LEFT JOIN ov o USING (depth)),
        cum AS (
          SELECT depth, overlap,
            round(CAST(SUM(CAST(term AS DECIMAL(30,12)))
              OVER (ORDER BY depth ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE), 6) AS rbo
          FROM terms)
        SELECT depth, overlap, (1000000 * overlap) // depth AS agreement_ppm, rbo
        FROM cum WHERE depth IN (10, 25, 50, 100)"""),
      bench = true),

    // Greedy source selection by marginal coverage gain — the submodular
    // maximum-coverage greedy (Nemhauser/Wolsey/Fisher 1978 gives the
    // (1−1/e) guarantee) applied to "which sources should we ingest
    // first to maximize new text": each round picks the source adding the
    // most NOT-YET-COVERED trigram types (ties → source asc; zero-gain
    // sources stay pickable via the left join so every round emits).
    // Trigram types, not unigrams — the corpus's ~31-word vocabulary
    // makes unigram coverage degenerate after one pick (the q218/q224
    // informativeness lesson applied at design time). Shape: the distinct
    // (source, type) frame is Heaps-bounded and pinned; each greedy round
    // is one anti-join + grouped count + a |sources|-row argmax
    // (TakeOrderedAndProject) — rounds × census passes, no pair term.
    QueryDef("q225_source_selection",
      (s, dir) => {
        val st = graft.Caching.pin(docs(s, dir)
          .select(col("source"), Exprs.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("source"), explode(arrays_zip(
            expr("slice(tk, 1, size(tk) - 2)").as("w1"),
            expr("slice(tk, 2, size(tk) - 2)").as("w2"),
            expr("slice(tk, 3, size(tk) - 2)").as("w3"))).as("p"))
          .select(col("source"), concat(col("p.w1"), lit(" "), col("p.w2"),
            lit(" "), col("p.w3")).as("gram"))
          .distinct())
        val srcs = st.select(col("source")).distinct()
        val nu = st.agg(countDistinct(col("gram")).as("nu"))
        // Iteration state is the SHRINKING uncovered frame (st minus every
        // covered gram) instead of a growing covered-gram accumulator
        // (round 14): per-round gain is then a straight groupBy over uncov
        // — the old st-vs-covered anti-join is gone — and the per-round
        // update anti-joins against ONE pick's gram set instead of
        // re-distincting the whole covered union. Same greedy trajectory
        // row for row: uncov_r = st ANTI covered_r by construction, and
        // covered count = nu − |distinct grams in uncov|.
        var uncov = st
        var picked = srcs.limit(0)
        val rows = (1 to 5).map { r =>
          val remaining = srcs.join(picked, Seq("source"), "left_anti")
          val gcnt = uncov.groupBy(col("source")).agg(count(lit(1)).as("g"))
          val gains = remaining.join(gcnt, Seq("source"), "left")
            .select(col("source"), coalesce(col("g"), lit(0L)).as("gain"))
          // localCheckpoint, not pin: each round's frames embed the
          // previous round's (the anti-join), so an in-plan accumulator
          // grows the logical tree per round — measured 58 s cold at sf0.1
          // unpinned in the pre-r14 shape, and pinning OOM'd the 8g bench
          // driver on Catalyst plan size alone. Checkpointing cuts the
          // lineage: plans stay linear in rounds (the LSA/UnigramLm loop
          // discipline), the iteration state is 1-row/census-bounded.
          import graft.Par.ParOps
          val pick = gains.orderBy(col("gain").desc, col("source").asc).limit(1)
            .onePart.localCheckpoint(true)
          val pickGrams = uncov.join(pick.select(col("source")), "source")
            .select(col("gram"))
          uncov = uncov.join(pickGrams, Seq("gram"), "left_anti")
            .compacted.localCheckpoint(true)
          picked = picked.unionByName(pick.select(col("source")))
            .onePart.localCheckpoint(true)
          val ucnt = uncov.agg(countDistinct(col("gram")).as("u"))
          pick.crossJoin(broadcast(ucnt)).crossJoin(broadcast(nu))
            .select(lit(r.toLong).as("pick_round"), col("source"), col("gain"),
              (col("nu") - col("u")).as("covered"),
              expr("(1000000 * (nu - u)) div nu").as("coverage_ppm"))
        }
        rows.reduce(_ unionByName _)
      },
      oracle = Some {
        val prelude = """
        WITH seq AS (
          SELECT source, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        tg3 AS (
          SELECT source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
          FROM (SELECT source, tk, UNNEST(generate_series(1, len(tk) - 2)) AS i
                FROM seq WHERE len(tk) >= 3) z),
        st AS MATERIALIZED (SELECT DISTINCT source, gram FROM tg3),
        srcs AS (SELECT DISTINCT source FROM st),
        nu AS (SELECT CAST(COUNT(DISTINCT gram) AS BIGINT) AS nu FROM st)"""
        def roundCtes(r: Int): String = {
          val notPicked = if (r == 1) ""
            else s"WHERE source NOT IN (${(1 until r).map(i => s"SELECT source FROM p$i").mkString(" UNION ALL ")})"
          val notCovered = if (r == 1) "" else s"WHERE gram NOT IN (SELECT gram FROM c${r - 1})"
          val cPrev = if (r == 1) "" else s"SELECT gram FROM c${r - 1} UNION ALL "
          s"""rem$r AS (SELECT source FROM srcs $notPicked),
          gc$r AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS g FROM st $notCovered GROUP BY 1),
          g$r AS (SELECT s.source, COALESCE(gc.g, 0) AS gain
            FROM rem$r s LEFT JOIN gc$r gc USING (source)),
          p$r AS MATERIALIZED (SELECT source, gain FROM g$r ORDER BY gain DESC, source ASC LIMIT 1),
          c$r AS MATERIALIZED (SELECT DISTINCT gram FROM (
            ${cPrev}SELECT s.gram FROM st s JOIN p$r USING (source)) u),
          cc$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS covered FROM c$r)"""
        }
        val rounds = (1 to 5).map(roundCtes).mkString(",\n        ")
        val selects = (1 to 5).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS pick_round, p$r.source, p$r.gain, cc$r.covered,
            (1000000 * cc$r.covered) // nu.nu AS coverage_ppm FROM p$r, cc$r, nu""")
          .mkString("\n        UNION ALL\n        ")
        s"$prelude,\n        $rounds\n        $selects"
      },
      bench = true),

    // Benchmark decontamination (the n-gram overlap check training pipelines
    // run before a release, per GPT-3 appx C / Gopher appx: drop or flag train
    // docs sharing n-grams with an eval set). The "benchmark" slice here is
    // the deterministic doc_id % 97 == 0 subset; real use passes an external
    // benchmark table. Scale shape: the benchmark shingle set is eval-suite-
    // sized (≪ corpus — MBs, not TBs), so it broadcasts; the corpus side
    // dedups its shingles INSIDE each row (array_distinct — the first cut
    // reused Dedup.shingleSet, whose corpus-wide `.distinct()` showed up in
    // `.explain` as an avoidable full-corpus exchange), so the only wide
    // shuffle left is the doc_id-keyed overlap count.
    QueryDef("q73_decontamination",
      (s, dir) => {
        // shingle ROWS via shingleSet (tokens in their own projection, and
        // the explode child is a non-attribute expression so no inferred
        // size/isnotnull filter gets pushed back through the projections —
        // the round-6 probe caught the previous inline form re-tokenizing
        // per shingle position inside a pushed-down Filter predicate);
        // per-doc set sizes come from the rows, as the oracle always did
        val sh = graft.Caching.pin(
          Dedup.shingleSet(docs(s, dir), 3).select(col("doc_id"), col("shingle")))
        val bench = sh.filter(col("doc_id") % 97 === 0)
          .select(col("shingle")).distinct()
        val train = sh.filter(col("doc_id") % 97 =!= 0)
        val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val frac = col("n_shared").cast("double") / col("sz").cast("double")
        train.join(broadcast(bench), "shingle")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .join(sizes, "doc_id")
          .select(col("doc_id"), col("n_shared"), col("sz"),
            round(frac, 6).as("contam_frac"),
            (round(frac, 6) >= 0.5).as("contaminated"))
      },
      oracle = Some(s"""$shCte,
        bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
        tsz AS (SELECT doc_id, COUNT(*) AS sz FROM tr GROUP BY 1),
        shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM tr JOIN bsh USING (shingle) GROUP BY 1)
        SELECT doc_id, n_shared, sz,
          round(CAST(n_shared AS DOUBLE) / CAST(sz AS DOUBLE), 6) AS contam_frac,
          (round(CAST(n_shared AS DOUBLE) / CAST(sz AS DOUBLE), 6) >= 0.5) AS contaminated
        FROM shared JOIN tsz USING (doc_id)"""),
      bench = true), // broadcast-overlap decontamination in the headline run

    // PII redaction — the masking pass a corpus release runs before training
    // (emails + long digit runs here; the production pattern set is a config).
    // Pure per-row regexps in one scan stage (whole-stage codegen, no UDF, no
    // shuffle) — at 100 TB this runs at read throughput. The corpus is
    // synthetic and PII-free, so a deterministic enrichment (doc_id % 7 == 0
    // docs get a synthetic email + phone appended, mirrored in the oracle)
    // makes the redaction path actually fire rather than vacuously match.
    QueryDef("q74_pii_redaction",
      (s, dir) => {
        val t = concat(col("text"), when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com or call 555"),
            col("doc_id"), lit("0100"))).otherwise(lit("")))
        docs(s, dir).select(col("doc_id"), col("lang"),
          regexp_count(t, lit(TextStats.EmailRe)).cast("long").as("n_emails"),
          regexp_count(t, lit(TextStats.PhoneRe)).cast("long").as("n_phones"),
          TextStats.redactPii(t).as("redacted"))
      },
      oracle = Some("""
        WITH enr AS (
          SELECT doc_id, lang,
            text || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || doc_id || '@example.com or call 555' || doc_id || '0100'
              ELSE '' END AS t
          FROM documents)
        SELECT doc_id, lang,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t, '[0-9]{7,}')) AS BIGINT) AS n_phones,
          regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{7,}', '<PHONE>', 'g') AS redacted
        FROM enr""")),

    // Markup strip — the HTML cleanup pass a web-corpus pipeline runs first
    // (CCNet/RefinedWeb shape). The corpus is plain text, so the q74
    // pattern: deterministically wrap every 5th doc in markup (tags, a
    // script block, entities) so the strip demonstrably fires, then assert
    // the cleaned text and the removed-byte count. Script content must
    // VANISH while entity-decoded angle brackets must SURVIVE as text —
    // both orders are easy to get wrong silently, which is what the hash
    // pins down.
    QueryDef("q86_markup_strip",
      (s, dir) => {
        val wrapped = when(col("doc_id") % 5 === 0,
          concat(lit("<html><body class=\"c\"><p>"), col("text"),
            lit("</p><script>var a = 1;</script>&amp; more &lt;raw&gt; text</body></html>")))
          .otherwise(col("text"))
        docs(s, dir).select(col("doc_id"), wrapped.as("t"))
          .select(col("doc_id"), col("t"), TextStats.stripMarkup(col("t")).as("clean"))
          .select(col("doc_id"), col("clean"),
            (length(col("t")) - length(col("clean"))).cast("long").as("removed"))
      },
      oracle = Some("""
        WITH enr AS (
          SELECT doc_id,
            CASE WHEN doc_id % 5 = 0
              THEN '<html><body class="c"><p>' || text ||
                   '</p><script>var a = 1;</script>&amp; more &lt;raw&gt; text</body></html>'
              ELSE text END AS t
          FROM documents),
        st AS (
          SELECT doc_id, t,
            trim(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(
                regexp_replace(
                  regexp_replace(t, '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
                  '<[^>]+>', ' ', 'g'),
                '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
              '\s+', ' ', 'g')) AS clean
          FROM enr)
        SELECT doc_id, clean,
          CAST(length(t) - length(clean) AS BIGINT) AS removed
        FROM st""")),

    // Sequence packing for training batches: docs are packed greedily (in
    // doc_id order) into token-budget bins, the concat-then-chunk assignment
    // every LLM data loader performs. Packing is inherently order-sequential,
    // so the running sum is windowed over bounded (lang, shard) partitions —
    // shard = doc_id div 64 here, a source-file/day key in production — which
    // keeps every window partition small and parallel (the two-phase-rank
    // lesson from A4: never a global-order window over corpus-sized data).
    QueryDef("q75_token_packing",
      (s, dir) => {
        val d = docs(s, dir).select(col("lang"),
          floor(col("doc_id") / 64).cast("long").as("shard"),
          col("doc_id"),
          size(Exprs.tokens(col("text"))).cast("long").as("n_tok"))
        val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("bin", floor((sum(col("n_tok")).over(w) - col("n_tok")) / 256.0).cast("long"))
          .groupBy(col("lang"), col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, lang, CAST(floor(doc_id / 64) AS BIGINT) AS shard,
            CAST(len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents),
        cum AS (
          SELECT lang, shard, n_tok,
            SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          FROM toks)
        SELECT lang, shard, CAST(floor((c - n_tok) / 256.0) AS BIGINT) AS bin,
          COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM cum GROUP BY 1, 2, 3""")),

    // Substring-level duplication coverage (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better": duplicated SPANS matter,
    // not just duplicated documents): per doc, the fraction of its distinct
    // 10-gram spans that also occur in at least one other document. Two
    // linear shuffles — span-df count and the df join back — both keyed on
    // the span; per-doc span dedup is row-local (array_distinct), the q73
    // lesson. The reference for span length is the paper's 50-token window
    // scaled to this corpus's 10-99-token docs.
    QueryDef("q76_dup_spans",
      (s, dir) => {
        // two projections (the HOF-CSE contract — see q71/q73)
        val sp = docs(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(array_distinct(Exprs.shingles(col("toks"), 10))).as("g"))
        val dfreq = sp.groupBy(col("g")).agg(count(lit(1)).as("df"))
        val frac = col("n_dup").cast("double") / col("n_spans").cast("double")
        sp.join(dfreq, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_spans"), col("n_dup"),
            round(frac, 6).as("dup_frac"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        sp AS (
          SELECT DISTINCT doc_id, array_to_string(tk[i:i+9], ' ') AS g
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 9)) AS i FROM seq) x),
        dfreq AS (SELECT g, COUNT(*) AS df FROM sp GROUP BY 1)
        SELECT doc_id, COUNT(*) AS n_spans,
          CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
        FROM sp JOIN dfreq USING (g) GROUP BY 1""")),

    // Deterministic stratified sampling — the data-mixing primitive (keep
    // language L at rate r_L). The keep decision is a pure per-row hash
    // coin (portable h60 of a salted doc_id), so the sample is reproducible
    // across engines, runs, and partitionings: no RNG state, no
    // sampleBy/seed dependence, and re-running on a grown corpus keeps
    // every previously-kept doc. One scan, zero shuffles for the filter;
    // the per-lang census is one count shuffle.
    QueryDef("q77_stratified_sample",
      (s, dir) => {
        val rate = when(col("lang") === "en", 800L).otherwise(500L) // per-mille
        val coin = Exprs.h60(concat(lit("smp:"), col("doc_id"))) % 1000L
        docs(s, dir).filter(coin < rate)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
      },
      oracle = Some("""
        SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc
        FROM documents
        WHERE CAST('0x' || substr(md5('smp:' || doc_id), 1, 15) AS BIGINT) % 1000
              < CASE WHEN lang = 'en' THEN 800 ELSE 500 END
        GROUP BY 1""")),

    // Domain-mixture report — the per-source composition + reweighting table
    // a data-mixing pipeline computes before sampling (DoReMi-style domain
    // weights against a uniform target here; production passes learned
    // targets). mix_weight = target_share / actual_token_share: > 1 means
    // the source is under-represented and gets up-sampled. Shape: one
    // per-source aggregation (sources ≪ corpus: partial agg collapses
    // map-side) + a broadcast of the 1-row total — nothing corpus-sized
    // shuffles twice, and the token count is a per-row expression.
    QueryDef("q78_source_mix",
      (s, dir) => {
        val d = docs(s, dir).select(col("source"),
          size(Exprs.tokens(col("text"))).cast("long").as("n_tok"))
        val agg = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        val tot = agg.agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("n_src"))
        agg.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("n_tokens").cast("double") / col("tot").cast("double"), 6)
              .as("token_share"),
            round(col("tot").cast("double") / (col("n_src") * col("n_tokens")).cast("double"), 6)
              .as("mix_weight"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT source,
            CAST(len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents),
        agg AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
                FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot, COUNT(*) AS n_src FROM agg)
        SELECT source, n_docs, n_tokens,
          round(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS token_share,
          round(CAST(tot AS DOUBLE) / CAST(n_src * n_tokens AS DOUBLE), 6) AS mix_weight
        FROM agg, tot""")),

    // Embedding-space decontamination — the q73/q92 semantics a third way:
    // instead of shingle overlap (q73) or Bloom membership (q92), a corpus
    // item is contaminated when its EMBEDDING sits near a benchmark vector —
    // the paraphrase-leak case n-gram overlap misses. Composes the exact
    // top-k operator (q37's geometry): the benchmark side is broadcast
    // (eval-suite-sized, the q73 posture) and the per-doc best match partial-
    // aggregates map-side, so |corpus|·1 rows reach the shuffle, never
    // |corpus|·|bench|.
    QueryDef("q99_embedding_decontam",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val bench = emb.filter(col("vec_id") % 25 === 0)
        val corpus = emb.filter(col("vec_id") % 25 =!= 0)
        Similarity.bruteTopK(corpus, bench, k = 1)
          .filter(col("sim") >= 0.3)
          .select(col("q_id").as("doc_vec_id"), col("n_id").as("bench_vec_id"),
            col("sim"))
      },
      oracle = Some("""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        bench AS (SELECT * FROM emb WHERE vec_id % 25 = 0),
        corpus AS (SELECT * FROM emb WHERE vec_id % 25 <> 0),
        sims AS (
          SELECT c.vec_id AS q_id, b.vec_id AS n_id,
            round(CASE WHEN sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(b.e, b.e)) = 0
              THEN 0.0
              ELSE list_dot_product(c.e, b.e) /
                   (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(b.e, b.e))) END, 6) AS sim
          FROM corpus c JOIN bench b ON c.vec_id <> b.vec_id)
        SELECT q_id AS doc_vec_id, n_id AS bench_vec_id, sim FROM (
          SELECT q_id, n_id, sim,
            row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
          FROM sims) r
        WHERE rk = 1 AND sim >= 0.3"""),
      bench = true),

    // Within-document repetition PURGE — the action pair to q71's
    // repetition REPORT (the q78→q98 pattern): Gopher-style removal of
    // repeated spans inside a document, row-local by construction —
    // `array_distinct` keeps each chunk's first occurrence, so there is no
    // shuffle at all before the output; the op runs at scan speed on any
    // corpus size. The driver corpus has little organic span repetition,
    // so every 9th doc is replaced by one 8-token sentence repeated five
    // times (the crawler duplicated-body artifact) plus a doc-unique
    // marker: the purge must collapse 5 identical chunks to 1.
    QueryDef("q102_doc_repetition_purge",
      (s, dir) => {
        val rep5 = Seq.fill(5)(RepSentence).mkString(" ")
        val t = when(col("doc_id") % 9 === 2,
          concat_ws(" ", lit(rep5), concat(lit("marker"), col("doc_id"))))
          .otherwise(col("text"))
        val toks = docs(s, dir).select(col("doc_id"), Exprs.tokens(t).as("tk"))
        toks.select(col("doc_id"), LineDedup.chunkTokens(col("tk"), 8).as("chunks"))
          .select(col("doc_id"), col("chunks"),
            array_distinct(col("chunks")).as("kept"))
          .select(col("doc_id"),
            size(col("chunks")).cast("long").as("n_chunks"),
            size(col("kept")).cast("long").as("n_kept"),
            (size(col("chunks")) - size(col("kept"))).cast("long").as("n_removed"),
            array_join(col("kept"), " ").as("clean_text"))
      },
      oracle = Some(s"""
        WITH enr AS (
          SELECT doc_id, CASE WHEN doc_id % 9 = 2
            THEN '${Seq.fill(5)(RepSentence).mkString(" ")} marker' || doc_id
            ELSE text END AS t
          FROM documents),
        seq AS (
          -- empty tokens FILTERED (unlike q91's trim-split form): a doc that
          -- normalizes to '' must yield ZERO chunks, matching Exprs.tokens —
          -- the unfiltered split would emit [''] → one phantom chunk
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(t), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                        x -> x <> '') AS tk
          FROM enr),
        ch AS (
          SELECT doc_id,
            list_transform(range(CAST(ceil(len(tk) / 8.0) AS BIGINT)),
              i -> array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ')) AS l
          FROM seq),
        ded AS (
          SELECT doc_id, line, MIN(i) AS first_i, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(l) AS line,
                  unnest(generate_series(1, len(l))) AS i FROM ch)
          GROUP BY doc_id, line)
        SELECT doc_id,
          CAST(SUM(cnt) AS BIGINT) AS n_chunks,
          COUNT(*) AS n_kept,
          CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_removed,
          string_agg(line, ' ' ORDER BY first_i) AS clean_text
        FROM ded GROUP BY doc_id"""),
      bench = true),

    // int8-quantized similarity — the storage-side scale lever: per-vector
    // symmetric quantization (exactly replayable integer codes — the
    // encoding is deterministic, only the similarity is approximate) and a
    // corpus-wide error report of quantized vs float cosine over capped
    // within-label pairs (the q36 block posture). A hash-matched row on
    // BOTH similarity columns plus the per-label error aggregate: the
    // engine knows precisely what the 4× storage saving costs in cosine
    // fidelity, and a quantizer regression moves max_abs_err and fails the
    // row.
    QueryDef("q101_quantized_cosine",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        val q = e.withColumn("qv",
          Similarity.quantizeInt8(col("v")).cast("array<double>"))
        val w = Window.partitionBy(col("label")).orderBy(col("vec_id").asc)
        // norms per ROW before the self-join: one dot per pair per kernel
        // instead of three — sims bit-identical (Exprs.cosinePre)
        val capped = q.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10000).drop("rn")
          .withColumn("vn", Exprs.vnorm(col("v")))
          .withColumn("qn", Exprs.vnorm(col("qv")))
        val err = round(abs(
          round(Exprs.cosinePre(Exprs.dot(col("a.v"), col("b.v")),
            col("a.vn"), col("b.vn")), 6) -
          round(Exprs.cosinePre(Exprs.dot(col("a.qv"), col("b.qv")),
            col("a.qn"), col("b.qn")), 6)), 6)
        capped.as("a").join(capped.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.label").as("label"), err.as("abs_err"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_pairs"),
            max(col("abs_err")).as("max_abs_err"),
            round(Exprs.davg(col("abs_err"), 10), 8).as("avg_abs_err"))
      },
      oracle = Some("""
        WITH emb AS (
          SELECT vec_id, label, v, CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
            ELSE list_transform(v, x -> CAST(CAST(round(x / s * 127.0, 0) AS BIGINT) AS DOUBLE))
            END AS qv
          FROM (
            SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) AS s
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b)),
        capped AS (
          SELECT vec_id, label, v, qv FROM (
            SELECT *, row_number() OVER (PARTITION BY label ORDER BY vec_id ASC) AS rn
            FROM emb) z
          WHERE rn <= 10000),
        pairs AS (
          SELECT a.label,
            round(abs(
              round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0
                THEN 0.0 ELSE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END, 6) -
              round(CASE WHEN sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv)) = 0
                THEN 0.0 ELSE list_dot_product(a.qv, b.qv) /
                  (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) END, 6)), 6) AS abs_err
          FROM capped a JOIN capped b ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT label, COUNT(*) AS n_pairs, MAX(abs_err) AS max_abs_err,
          round(CAST(SUM(CAST(abs_err AS DECIMAL(30,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 8) AS avg_abs_err
        FROM pairs GROUP BY label"""),
      bench = true),

    // The composed batch curation pass — q64's successor built from the
    // round-6 web-corpus stages: markup strip (q86) → PII redaction (q74) →
    // minimum-token gate → keep-first exact dedup. Same chain
    // [[graft.streaming.StreamingCuration]] runs on a stream; here the
    // dedup survivor is pinned to min doc_id per cleaned content so the
    // whole pipeline is hash-matchable (streaming's dropDuplicates keeps
    // the arrival-order winner — the documented divergence). Stages reuse
    // the q86/q74 deterministic enrichments so each observably fires —
    // including the dedup: the driver corpus has ZERO exact duplicates
    // (q32 is all singletons), so every 50th doc is replaced by one fixed
    // boilerplate page (the q91 injection pattern) that must collapse to a
    // single min-id survivor with n_copies = the flood size. Everything
    // before the final groupBy is per-row scan work; the dedup is one
    // hash-shuffle on the cleaned content.
    QueryDef("q100_curation_e2e",
      (s, dir) => {
        val wrapped = when(col("doc_id") % 5 === 0,
          concat(lit("<html><body class=\"c\"><p>"), col("text"),
            lit("</p><script>var a = 1;</script>&amp; more &lt;raw&gt; text</body></html>")))
          .otherwise(col("text"))
        val withPii = concat(wrapped, when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com or call 555"),
            col("doc_id"), lit("0100"))).otherwise(lit("")))
        val withBoiler = when(col("doc_id") % 50 === 1,
          lit("<p>All rights reserved contact admin@example.com for details</p>"))
          .otherwise(withPii)
        docs(s, dir).select(col("doc_id"), withBoiler.as("t"))
          .withColumn("clean",
            TextStats.redactPii(TextStats.stripMarkup(col("t"))))
          .withColumn("n_tok", size(Exprs.tokens(col("clean"))).cast("long"))
          .filter(col("n_tok") >= 5)
          .groupBy(col("clean"))
          .agg(min(col("doc_id")).as("doc_id"), min(col("n_tok")).as("n_tok"),
            count(lit(1)).as("n_copies"))
          .select(col("doc_id"), col("n_tok"), col("n_copies"))
      },
      oracle = Some("""
        WITH enr AS (
          SELECT doc_id,
            CASE WHEN doc_id % 50 = 1
              THEN '<p>All rights reserved contact admin@example.com for details</p>'
              ELSE
                (CASE WHEN doc_id % 5 = 0
                  THEN '<html><body class="c"><p>' || text ||
                       '</p><script>var a = 1;</script>&amp; more &lt;raw&gt; text</body></html>'
                  ELSE text END) ||
                (CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || doc_id || '@example.com or call 555' || doc_id || '0100'
                  ELSE '' END)
            END AS t
          FROM documents),
        st AS (
          SELECT doc_id,
            trim(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(
                regexp_replace(
                  regexp_replace(t, '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
                  '<[^>]+>', ' ', 'g'),
                '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
              '\s+', ' ', 'g')) AS stripped
          FROM enr),
        red AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(stripped,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '[0-9]{7,}', '<PHONE>', 'g') AS clean
          FROM st),
        tok AS (
          SELECT doc_id, clean,
            CAST(len(list_filter(
              string_split_regex(regexp_replace(lower(clean), '[^a-z0-9 ]', ' ', 'g'), ' +'),
              x -> x <> '')) AS BIGINT) AS n_tok
          FROM red),
        gated AS (SELECT * FROM tok WHERE n_tok >= 5)
        SELECT MIN(doc_id) AS doc_id, MIN(n_tok) AS n_tok, COUNT(*) AS n_copies
        FROM gated GROUP BY clean"""),
      bench = true),

    // Mixture REBALANCE — q78 reports the mixture, this row enforces one:
    // per-source down-sampling rates computed FROM the data (uniform target
    // share, achievable total bounded by the scarcest source: quota_s =
    // min_s n_s, rate_s = quota/n_s in exact ppm integer arithmetic),
    // applied with the q77 deterministic hash coin. Sampling is therefore
    // reproducible across engines AND stable under corpus growth (a doc's
    // keep/drop never depends on partitioning or row order). Shape: one
    // source-keyed agg (map-side collapse) + a source-count broadcast + a
    // per-row coin against the broadcast rate — scan-shaped, nothing
    // corpus-sized shuffles twice. Statistical quotas by design (per-mille
    // coin ⇒ binomial counts); an exact-quota variant would use the A4
    // two-phase rank over (source, coin) instead.
    QueryDef("q98_mix_rebalance",
      (s, dir) => {
        val d = docs(s, dir).select(col("source"), col("doc_id"))
        val agg = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = agg.agg(min(col("n_docs")).as("min_docs"))
        val rates = agg.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            least(lit(1000000L), expr("(1000000 * min_docs) DIV n_docs")).as("rate_ppm"))
        val sampled = d.join(broadcast(rates), "source")
          .filter(Exprs.h60(concat(lit("mix:"), col("doc_id"))) % 1000000L < col("rate_ppm"))
        sampled.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
          .join(rates, "source")
          .select(col("source"), col("n_docs"), col("rate_ppm"),
            col("n_sampled"), col("first_doc"))
      },
      oracle = Some("""
        WITH agg AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        tot AS (SELECT MIN(n_docs) AS min_docs FROM agg),
        rates AS (SELECT source, n_docs,
            CAST(least(1000000, (1000000 * min_docs) // n_docs) AS BIGINT) AS rate_ppm
          FROM agg, tot),
        sampled AS (
          SELECT d.source, d.doc_id FROM documents d JOIN rates r ON d.source = r.source
          WHERE CAST('0x' || substr(md5('mix:' || doc_id), 1, 15) AS BIGINT) % 1000000
                < r.rate_ppm)
        SELECT r.source, r.n_docs, r.rate_ppm,
          COUNT(*) AS n_sampled, MIN(s.doc_id) AS first_doc
        FROM sampled s JOIN rates r ON s.source = r.source
        GROUP BY r.source, r.n_docs, r.rate_ppm"""),
      bench = true),

    // Temperature-based mixture sampling — the mC4/PaLM partial flatten
    // between q98's two extremes (natural sampling keeps every source at
    // rate 1; q98's equalize caps every source at the scarcest): target
    // share p_s ∝ share_s^α, applied as keep-rates normalized so the
    // scarcest source keeps everything — which at α = 1/2 collapses to
    // rate_s = √(n_min/n_s), BETWEEN q98's n_min/n_s and 1. α = 1/2 is the
    // deliberately portable temperature: IEEE-754 sqrt is CORRECTLY
    // ROUNDED (unlike ln/pow, which cost q135 a 1e-8 drift at sf0.1), so
    // the ppm rates are bit-identical across engines with no rounding
    // ladder at all — integer counts → one exact divide → exact sqrt →
    // exact ×1e6 → floor. Same shape as q98: source census (map-side
    // collapse) + 1-row broadcast + per-row md5 coin (salt "tmix:").
    QueryDef("q196_temperature_mix",
      (s, dir) => {
        val d = docs(s, dir).select(col("source"), col("doc_id"))
        val agg = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = agg.agg(min(col("n_docs")).as("min_docs"))
        val rates = agg.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            floor(lit(1000000.0d) *
              sqrt(col("min_docs").cast("double") / col("n_docs").cast("double")))
              .cast(org.apache.spark.sql.types.LongType).as("rate_ppm"))
        val sampled = d.join(broadcast(rates), "source")
          .filter(Exprs.h60(concat(lit("tmix:"), col("doc_id"))) % 1000000L < col("rate_ppm"))
        sampled.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
          .join(rates, "source")
          .select(col("source"), col("n_docs"), col("rate_ppm"),
            col("n_sampled"), col("first_doc"))
      },
      oracle = Some("""
        WITH agg AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        tot AS (SELECT MIN(n_docs) AS min_docs FROM agg),
        rates AS (SELECT source, n_docs,
            CAST(floor(1000000.0 * sqrt(CAST(min_docs AS DOUBLE) / CAST(n_docs AS DOUBLE))) AS BIGINT) AS rate_ppm
          FROM agg, tot),
        sampled AS (
          SELECT d.source, d.doc_id FROM documents d JOIN rates r ON d.source = r.source
          WHERE CAST('0x' || substr(md5('tmix:' || doc_id), 1, 15) AS BIGINT) % 1000000
                < r.rate_ppm)
        SELECT r.source, r.n_docs, r.rate_ppm,
          COUNT(*) AS n_sampled, MIN(s.doc_id) AS first_doc
        FROM sampled s JOIN rates r ON s.source = r.source
        GROUP BY r.source, r.n_docs, r.rate_ppm"""),
      bench = true),

    // Data-budget / epoch-accounting card (Muennighoff et al., NeurIPS
    // 2023 "Scaling Data-Constrained Language Models"): given the q196
    // temperature keep-rates and a token budget of 2× the corpus, how many
    // epochs over the sampled mix does training take, how many times is
    // each source's unique data repeated, and which sources blow through
    // the paper's ~4-epoch diminishing-returns bound. One tokenize scan +
    // a |sources|-row rollup; every ratio is integer-millionth DIV
    // arithmetic (the q135 ln-ulp lesson: no float ratio in the ladder —
    // the one sqrt is IEEE-correctly-rounded, the q196 contract). At 100
    // TB this is a metadata-only query: the census is one map-side-
    // combined count, everything after is a broadcast-sized frame.
    QueryDef("q198_data_budget",
      (s, dir) => {
        val d = docs(s, dir)
        val perSrcTok = graft.operators.TextPipeline
          .tokenize(d, keep = Seq("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
        val base = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .join(perSrcTok, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_tok"), lit(0L)).as("n_tok"))
        val minD = base.agg(min(col("n_docs")).as("min_docs"))
        val rated = base.crossJoin(broadcast(minD))
          .select(col("source"), col("n_docs"), col("n_tok"),
            floor(lit(1000000.0d) *
              sqrt(col("min_docs").cast("double") / col("n_docs").cast("double")))
              .cast(org.apache.spark.sql.types.LongType).as("rate_ppm"))
          .withColumn("tok_per_epoch", expr("(rate_ppm * n_tok) DIV 1000000"))
        val tot = rated.agg(sum(col("tok_per_epoch")).as("w_total"),
          sum(col("n_tok")).as("tok_total"))
        // n_tok/w_total CAN be zero (a source whose docs all tokenize empty):
        // DuckDB's // raises division-by-zero where Spark DIV yields NULL —
        // the q201 engine-parity guard, applied on BOTH sides (ADVICE r10).
        rated.crossJoin(broadcast(tot))
          .withColumn("epochs", expr(
            "CASE WHEN w_total > 0 THEN (2 * tok_total + w_total - 1) DIV w_total ELSE 0 END"))
          .withColumn("tokens_seen", expr("epochs * tok_per_epoch"))
          .withColumn("rep_ppm", expr(
            "CASE WHEN n_tok > 0 THEN (1000000 * tokens_seen) DIV n_tok ELSE 0 END"))
          .withColumn("over_4epoch", col("rep_ppm") > lit(4000000L))
          .select(col("source"), col("n_docs"), col("n_tok"), col("rate_ppm"),
            col("tok_per_epoch"), col("epochs"), col("tokens_seen"),
            col("rep_ppm"), col("over_4epoch"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        tc AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY 1),
        base AS (
          SELECT d.source, COUNT(*) AS n_docs,
            CAST(SUM(COALESCE(tc.nt, 0)) AS BIGINT) AS n_tok
          FROM documents d LEFT JOIN tc USING (doc_id) GROUP BY 1),
        mind AS (SELECT MIN(n_docs) AS min_docs FROM base),
        rated AS (
          SELECT source, n_docs, n_tok,
            CAST(floor(1000000.0 * sqrt(CAST(min_docs AS DOUBLE) / CAST(n_docs AS DOUBLE))) AS BIGINT) AS rate_ppm
          FROM base, mind),
        r2 AS (SELECT source, n_docs, n_tok, rate_ppm,
            (rate_ppm * n_tok) // 1000000 AS tok_per_epoch FROM rated),
        tot AS (SELECT CAST(SUM(tok_per_epoch) AS BIGINT) AS w_total,
            CAST(SUM(n_tok) AS BIGINT) AS tok_total FROM r2),
        r3 AS (SELECT r2.*,
          CASE WHEN w_total > 0 THEN (2 * tok_total + w_total - 1) // w_total
               ELSE 0 END AS epochs
          FROM r2, tot)
        SELECT source, n_docs, n_tok, rate_ppm, tok_per_epoch, epochs,
          epochs * tok_per_epoch AS tokens_seen,
          CASE WHEN n_tok > 0 THEN (1000000 * epochs * tok_per_epoch) // n_tok
               ELSE 0 END AS rep_ppm,
          CASE WHEN n_tok > 0 THEN (1000000 * epochs * tok_per_epoch) // n_tok
               ELSE 0 END > 4000000 AS over_4epoch
        FROM r3"""),
      bench = true),

    // Exact n-gram decontamination with per-benchmark ATTRIBUTION (the
    // GPT-3 appendix-C posture: a training doc is contaminated if ANY
    // exact n-gram — 13 there, 8 here on shorter synthetic docs — also
    // appears in an eval set; Brown et al. 2020). q73 gates on fractional
    // 3-shingle overlap; this row answers the different production
    // question "WHICH benchmark leaked into which doc, and how much":
    // per contaminated doc the distinct matching grams, the distinct
    // benchmark docs hit, and the first one. The corpus has no natural
    // 8-gram cross-doc repeats (probed: zero), so two eval sentences are
    // planted deterministically (doc_id % 13 / % 7 — the q74/q100
    // synthetic-enrichment pattern), putting them in BOTH the benchmark
    // slice (doc_id % 97 = 0; doc 0 always, 1261/2522/3783 and the % 679
    // ladder at sf0.1) and ~7-14 % of training docs. The benchmark gram
    // table is fixed-size at any corpus scale → broadcast (the q73
    // contract); the probe side is one scan.
    QueryDef("q199_exact_ngram_decontam",
      (s, dir) => {
        val e1 = " held out benchmark question answer pairs must never leak into training"
        val e2 = " the standardized test prompt appears verbatim in this document for evaluation"
        val d2 = docs(s, dir).withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 13 === 0, lit(e1)).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(e2)).otherwise(lit(""))))
        val sh = graft.Caching.pin(
          Dedup.shingleSet(d2, 8).select(col("doc_id"), col("shingle")))
        val benchGrams = sh.filter(col("doc_id") % 97 === 0)
          .select(col("shingle"), col("doc_id").as("bench_doc"))
        sh.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(benchGrams), "shingle")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("shingle")).as("n_hit_grams"),
            countDistinct(col("bench_doc")).as("n_bench_docs"),
            min(col("bench_doc")).as("first_bench_doc"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(
              text ||
              CASE WHEN doc_id % 13 = 0 THEN ' held out benchmark question answer pairs must never leak into training' ELSE '' END ||
              CASE WHEN doc_id % 7 = 0 THEN ' the standardized test prompt appears verbatim in this document for evaluation' ELSE '' END
            ), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        g8 AS (
          SELECT DISTINCT doc_id,
            tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS shingle
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM seq) u),
        bg AS (SELECT shingle, doc_id AS bench_doc FROM g8 WHERE doc_id % 97 = 0),
        h AS (
          SELECT t.doc_id, t.shingle, bg.bench_doc
          FROM g8 t JOIN bg USING (shingle) WHERE t.doc_id % 97 <> 0)
        SELECT doc_id, COUNT(DISTINCT shingle) AS n_hit_grams,
          COUNT(DISTINCT bench_doc) AS n_bench_docs,
          MIN(bench_doc) AS first_bench_doc
        FROM h GROUP BY 1"""),
      bench = true),

    // Contrastive triplet construction (the SBERT/DPR/SimCSE training-data
    // step): for every anchor of a fixed minibatch sample (vec_id % 50),
    // positive = its most-similar vector in the SAME k-means cell (the
    // SemDeDup blocking — semantic neighbors co-cluster), hard negative =
    // its most-similar vector in a DIFFERENT cell (the near-miss across
    // the decision boundary, the q179 signal), plus the triplet margin.
    // The kernel is |minibatch|·n with anchors broadcast — the q179
    // bounded-anchor posture; at 100 TB the corpus side routes through
    // the IVF/PQ index exactly as q164 evidences. Oracle replays the full
    // deterministic k-means (q95's unrolled CTEs) + both argmaxes.
    QueryDef("q200_triplet_mining",
      (s, dir) => tripletMining(s, dir, col("vec_id") % 50 === 0),
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${kmeansCtes(8, 3)},
        anch AS (SELECT vec_id, v, cid FROM af WHERE vec_id % 50 = 0),
        tsims AS (
          SELECT a.vec_id AS q_id, a.cid AS q_cid, b.vec_id AS n_id, b.cid AS n_cid,
            round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0
              THEN 0.0
              ELSE list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END, 6) AS sim
          FROM anch a JOIN af b ON a.vec_id <> b.vec_id),
        pos AS (SELECT q_id, n_id AS pos_id, sim AS pos_sim FROM (
            SELECT q_id, n_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
            FROM tsims WHERE q_cid = n_cid) p WHERE rk = 1),
        neg AS (SELECT q_id, n_id AS neg_id, sim AS neg_sim FROM (
            SELECT q_id, n_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
            FROM tsims WHERE q_cid <> n_cid) p WHERE rk = 1)
        SELECT p.q_id, pos_id, pos_sim, neg_id, neg_sim,
          round(pos_sim - neg_sim, 6) AS margin
        FROM pos p JOIN neg n ON p.q_id = n.q_id"""),
      bench = true),

    // q200 in its deployment sampling form (VERDICT r10 #5): a FIXED-SIZE
    // anchor minibatch — the 64 lowest salted-md5 vectors (salt "ta:",
    // bottom-k by hash, ties on vec_id; the q208 panel discipline) instead
    // of a vec_id residue. q200's %-residue anchors GROW with the corpus,
    // so its |anchors|·n kernel is quietly quadratic; a real contrastive
    // miner draws a bounded minibatch per step, making the kernel 64·n —
    // linear in the corpus. Same k-means blocking, same argmaxes, same
    // broadcast geometry; the panel ids are a plan-time constant (bounded
    // 64-row collect).
    QueryDef("q209_triplet_mining_sampled",
      (s, dir) => {
        val panel = Tables(s, dir, "embeddings").select(col("vec_id"))
          .orderBy(Exprs.h60(concat(lit("ta:"), col("vec_id"))).asc, col("vec_id").asc)
          .limit(64).collect().map(_.getLong(0)).toSeq
        tripletMining(s, dir, col("vec_id").isin(panel: _*))
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${kmeansCtes(8, 3)},
        anch AS (SELECT a.vec_id, a.v, a.cid FROM af a
          JOIN (SELECT vec_id FROM e
            ORDER BY CAST('0x' || substr(md5('ta:' || vec_id), 1, 15) AS BIGINT) ASC,
              vec_id ASC
            LIMIT 64) p ON p.vec_id = a.vec_id),
        tsims AS (
          SELECT a.vec_id AS q_id, a.cid AS q_cid, b.vec_id AS n_id, b.cid AS n_cid,
            round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0
              THEN 0.0
              ELSE list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END, 6) AS sim
          FROM anch a JOIN af b ON a.vec_id <> b.vec_id),
        pos AS (SELECT q_id, n_id AS pos_id, sim AS pos_sim FROM (
            SELECT q_id, n_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
            FROM tsims WHERE q_cid = n_cid) p WHERE rk = 1),
        neg AS (SELECT q_id, n_id AS neg_id, sim AS neg_sim FROM (
            SELECT q_id, n_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
            FROM tsims WHERE q_cid <> n_cid) p WHERE rk = 1)
        SELECT p.q_id, pos_id, pos_sim, neg_id, neg_sim,
          round(pos_sim - neg_sim, 6) AS margin
        FROM pos p JOIN neg n ON p.q_id = n.q_id"""),
      bench = true),

    // ExactSubstr corpus-QA card (Lee et al. 2021 §4): the fraction of each
    // document covered by ≥8-token passages appearing verbatim in ANOTHER
    // document — the signal the suffix-array dedup pass removes, here as a
    // token-n-gram dataflow with gaps-and-islands span merge (a shared
    // 30-token passage reports as ONE 30-token span, not 23 overlapping
    // grams). Completes the ExactSubstr triptych: q76 counts which DISTINCT
    // shingles are shared (no positions), q183 LOCATES pairwise passages
    // (pair-keyed diagonal islands, df-capped so hot grams don't blow up the
    // position join), and this row is the per-document COVERAGE card — how
    // many contiguous duplicated regions, how many tokens they cover, the
    // longest one — with NO pair term at all, so it stays lossless (no df
    // cap needed: a gram in a million docs is still one dup-set row) and
    // strictly corpus-linear: one scan → gram-keyed hash groupBy → equi
    // back-join → per-doc window. This is the number that decides whether
    // the dedup pass is worth running. The sf0.01 corpus carries ~1k
    // naturally duplicated cross-doc 8-grams, so the card is non-trivial
    // without enrichment.
    QueryDef("q210_duplicated_spans",
      (s, dir) => Dedup.duplicatedSpans(docs(s, dir), 8),
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        base AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM seq),
        pg AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
            tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS gram
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM base) u),
        dup AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        hit AS (SELECT doc_id, pos FROM pg JOIN dup USING (gram)),
        isl AS (
          SELECT doc_id, pos,
            SUM(CASE WHEN prev IS NOT NULL AND pos - prev <= 8 THEN 0 ELSE 1 END)
              OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM (SELECT doc_id, pos,
                  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM hit) t),
        sp AS (SELECT doc_id, island, MAX(pos) - MIN(pos) + 8 AS covered
               FROM isl GROUP BY 1, 2),
        card AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(covered) AS dup_tokens,
                 MAX(covered) AS max_span FROM sp GROUP BY 1)
        SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
          CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_spans,
          CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          CAST(COALESCE(c.max_span, 0) AS BIGINT) AS max_span,
          CAST(CASE WHEN b.n_tokens > 0
            THEN (1000000 * COALESCE(c.dup_tokens, 0)) // b.n_tokens
            ELSE 0 END AS BIGINT) AS dup_frac_ppm
        FROM base b LEFT JOIN card c USING (doc_id)"""),
      bench = true),

    // Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken 2003 — MOSS):
    // the document-fingerprinting rung between exact-hash dedup (q32) and
    // MinHash (q34). Window-min selection thins the gram stream to ~2/(w+1)
    // with a HARD guarantee (any shared run of ≥ w+k-1 = 7 tokens yields a
    // shared fingerprint), so the inverted-index join runs on a provably
    // sparse index — where q33's shingle join carries every gram, this one
    // carries ~40 % of them at the same detection floor. Hash is the
    // md5-derived h60, so DuckDB replays the whole pipeline bit-for-bit.
    QueryDef("q211_winnowing_overlap",
      (s, dir) => Dedup.winnowedOverlapPairs(docs(s, dir), k = 4, w = 4,
        minShared = 2L),
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        pg AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
            CAST('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] ||
              ' ' || tk[i+3]), 1, 15) AS BIGINT) AS h,
            COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 3)) AS i FROM seq) u),
        fpw AS (
          SELECT doc_id, pos, n_grams,
            min(h) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          FROM pg),
        fps AS (SELECT doc_id, fp FROM fpw WHERE pos <= n_grams - 3 GROUP BY 1, 2),
        sz AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
        pr AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_shared_fp
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        SELECT doc_a, doc_b, n_shared_fp,
          CAST((1000000 * n_shared_fp) // LEAST(sa.n_fp, sb.n_fp) AS BIGINT)
            AS containment_ppm
        FROM pr JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b"""),
      bench = true),

    // Blocklist phrase scan — the Aho–Corasick use-case every web-corpus
    // pipeline ships (C4's "bad words" pass, RefinedWeb's URL/phrase
    // blocklists): count every occurrence of every blocklist phrase in one
    // pass over each document. The automaton is a plan-time constant inside
    // functions.MultiPatternCount, so the whole scan is zero-shuffle
    // regardless of list size; only the ≤|phrases| per-phrase partials
    // reach the exchange. Phrases sharing prefixes/words ("table table" vs
    // "table table part") exercise the fail-link paths; zero-hit phrases
    // stay in the card via the left join from the phrase dim. Counts are
    // overlapping-match counts (the AC match set) — the oracle replays
    // them positionally, so a lossy automaton cannot hash-match.
    QueryDef("q213_blocklist_scan",
      (s, dir) => {
        val phrases = Curation.blocklistPhrases
        val dim = s.createDataFrame(phrases.zipWithIndex.map { case (p, i) => (i, p) })
          .toDF("pid", "phrase")
        val hits = docs(s, dir)
          .select(col("doc_id"),
            graft.functions.MultiPatternCount(lower(col("text")), phrases).as("c"))
          .select(col("doc_id"), posexplode(col("c")).as(Seq("pid", "n")))
          .filter(col("n") > 0)
          .groupBy(col("pid"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_occ"))
        dim.join(broadcast(hits), Seq("pid"), "left")
          .select(col("phrase"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_occ"), lit(0L)).as("n_occ"))
      },
      oracle = Some(s"""
        WITH ph(phrase) AS (VALUES ${Curation.blocklistPhrases.map(p => s"('$p')").mkString(", ")}),
        cl AS (SELECT doc_id, lower(text) AS t FROM documents),
        cand AS (SELECT doc_id, phrase, t FROM cl CROSS JOIN ph WHERE contains(t, phrase)),
        pos AS (SELECT doc_id, phrase, t,
          UNNEST(generate_series(1, length(t) - length(phrase) + 1)) AS i FROM cand),
        hit AS (
          SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n
          FROM pos WHERE substr(t, i, length(phrase)) = phrase GROUP BY 1, 2),
        agg AS (
          SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS n_occ
          FROM hit GROUP BY 1)
        SELECT p.phrase, COALESCE(a.n_docs, CAST(0 AS BIGINT)) AS n_docs,
          COALESCE(a.n_occ, CAST(0 AS BIGINT)) AS n_occ
        FROM ph p LEFT JOIN agg a USING (phrase)"""),
      bench = true),

    // Corpus-diversity card: per-source mean self-BLEU-2 (Zhu et al. 2018)
    // against a fixed 64-doc hash-selected reference panel — high self-BLEU
    // = low diversity = a mode-collapsed or boilerplate-heavy source, the
    // generation-side complement of the dedup family. Fixed-panel posture
    // per q208/q209 (panel·n kernel, never n²); reference n-gram maxima and
    // lengths broadcast; the only corpus-sized exchanges are the two
    // map-side-combined gram counts. All precisions are integer-count
    // ratios off the hash-selected panel, so every per-doc score (and the
    // DECIMAL-laddered source means) hash-match the replayed oracle.
    QueryDef("q214_self_bleu",
      (s, dir) => {
        val d = docs(s, dir)
        val sb = graft.operators.TextStats.selfBleu(d, panelSize = 64)
        sb.join(d.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("bleu2") === 0d, 1L).otherwise(0L)).as("n_zero"),
            round(graft.functions.Exprs.dsum(col("bleu2"), 6) /
              count(lit(1)).cast("double"), 6).as("mean_bleu2"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id, source, list_filter(string_split_regex(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        base AS (SELECT doc_id, source, tk FROM seq WHERE len(tk) >= 2),
        pan AS MATERIALIZED (
          SELECT doc_id, tk FROM base
          ORDER BY CAST('0x' || substr(md5('sb:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) ASC,
            doc_id ASC
          LIMIT 64),
        cand AS (SELECT doc_id, tk FROM base
          WHERE doc_id NOT IN (SELECT doc_id FROM pan)),
        pu AS (SELECT doc_id, UNNEST(tk) AS gram FROM pan),
        rg1 AS MATERIALIZED (SELECT gram, MAX(c) AS mc FROM (
          SELECT doc_id, gram, COUNT(*) AS c FROM pu GROUP BY 1, 2) z GROUP BY 1),
        pb AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS gram
          FROM (SELECT doc_id, tk, UNNEST(generate_series(1, len(tk) - 1)) AS i FROM pan) z),
        rg2 AS MATERIALIZED (SELECT gram, MAX(c) AS mc FROM (
          SELECT doc_id, gram, COUNT(*) AS c FROM pb GROUP BY 1, 2) z GROUP BY 1),
        cu AS (SELECT doc_id, UNNEST(tk) AS gram FROM cand),
        cg1 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM cu GROUP BY 1, 2),
        p1 AS (SELECT doc_id,
            CAST(SUM(LEAST(c, COALESCE(mc, 0))) AS BIGINT) AS num1,
            CAST(SUM(c) AS BIGINT) AS den1
          FROM cg1 LEFT JOIN rg1 USING (gram) GROUP BY 1),
        cb AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS gram
          FROM (SELECT doc_id, tk, UNNEST(generate_series(1, len(tk) - 1)) AS i FROM cand) z),
        cg2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM cb GROUP BY 1, 2),
        p2 AS (SELECT doc_id,
            CAST(SUM(LEAST(c, COALESCE(mc, 0))) AS BIGINT) AS num2,
            CAST(SUM(c) AS BIGINT) AS den2
          FROM cg2 LEFT JOIN rg2 USING (gram) GROUP BY 1),
        clen AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS cl FROM cand),
        rlen AS (SELECT CAST(len(tk) AS BIGINT) AS rl FROM pan),
        eff AS (SELECT doc_id, cl, rl FROM (
          SELECT c.doc_id, c.cl, r.rl,
            row_number() OVER (PARTITION BY c.doc_id
              ORDER BY abs(r.rl - c.cl) ASC, r.rl ASC) AS rn
          FROM clen c CROSS JOIN rlen r) t WHERE rn = 1),
        sc AS (
          SELECT p1.doc_id,
            CASE WHEN p1.num1 = 0 OR p2.num2 = 0 THEN 0e0 ELSE
              round((CASE WHEN e.cl >= e.rl THEN 1e0
                ELSE round(exp(1e0 - CAST(e.rl AS DOUBLE) / CAST(e.cl AS DOUBLE)), 12) END) *
                exp((round(ln(CAST(p1.num1 AS DOUBLE) / CAST(p1.den1 AS DOUBLE)), 12) +
                     round(ln(CAST(p2.num2 AS DOUBLE) / CAST(p2.den2 AS DOUBLE)), 12)) / 2e0), 6)
            END AS bleu
          FROM p1 JOIN p2 USING (doc_id) JOIN eff e USING (doc_id))
        SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN s.bleu = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          round(CAST(SUM(CAST(s.bleu AS DECIMAL(30,6))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS mean_bleu2
        FROM sc s JOIN base b USING (doc_id) GROUP BY 1"""),
      bench = true),

    // CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020 §4.3):
    // per-language perplexity TERCILES are the mixing knob CCNet feeds
    // downstream ("head" = most-fluent third). The textbook ntile would
    // single-partition each language's corpus-sized window — the classic
    // scale-killer — so this row is DEPLOYMENT-shaped: tercile thresholds
    // come from a fixed 768-doc hash panel (TakeOrderedAndProject, the
    // q208 posture; CCNet itself fits thresholds on a held-out sample),
    // ranked within the 768-row pinned frame only, then every doc buckets
    // by one broadcast threshold join — zero corpus-sized sorts. A lang
    // absent from the panel buckets as 'unsampled' (kept deterministic on
    // both engines via the left join).
    QueryDef("q215_ccnet_buckets",
      (s, dir) => {
        val ppl = TextStats.charLmPerplexity(docs(s, dir))
          .select(col("doc_id"), col("lang"), col("ppl"))
        val samp = graft.Caching.pin(ppl
          .orderBy(Exprs.h60(concat(lit("cc:"), col("doc_id"))).asc, col("doc_id").asc)
          .limit(768))
        val wr = Window.partitionBy(col("lang"))
          .orderBy(col("ppl").asc, col("doc_id").asc)
        val ranked = samp
          .withColumn("rn", row_number().over(wr))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
        val th = ranked.groupBy(col("lang")).agg(
          max(when(col("rn") === expr("(n + 2) div 3"), col("ppl"))).as("t1"),
          max(when(col("rn") === expr("(2 * n + 2) div 3"), col("ppl"))).as("t2"))
        val bucket = when(col("t1").isNull, lit("unsampled"))
          .when(col("ppl") <= col("t1"), lit("head"))
          .when(col("ppl") <= col("t2"), lit("middle"))
          .otherwise(lit("tail"))
        ppl.join(broadcast(th), Seq("lang"), "left")
          .select(col("lang"), bucket.as("bucket"), col("ppl"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("ppl")).as("min_ppl"), max(col("ppl")).as("max_ppl"),
            round(Exprs.davg(col("ppl"), 6), 6).as("mean_ppl"))
      },
      oracle = Some("""
        WITH cl AS (
          SELECT doc_id, lang,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS (
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i)),
        model AS (SELECT lang, tg, COUNT(*) AS cnt FROM tris GROUP BY 1, 2),
        tot AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM model GROUP BY 1),
        probs AS (
          SELECT m.lang, m.tg,
            round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM model m JOIN tot USING (lang)),
        pplt AS (
          SELECT t.doc_id, t.lang,
            round(exp(-CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)), 6) AS ppl
          FROM tris t JOIN probs p ON p.lang = t.lang AND p.tg = t.tg
          GROUP BY 1, 2),
        samp AS MATERIALIZED (
          SELECT doc_id, lang, ppl FROM pplt
          ORDER BY CAST('0x' || substr(md5('cc:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) ASC,
            doc_id ASC
          LIMIT 768),
        rk AS (
          SELECT lang, ppl,
            row_number() OVER (PARTITION BY lang ORDER BY ppl ASC, doc_id ASC) AS rn,
            COUNT(*) OVER (PARTITION BY lang) AS n
          FROM samp),
        th AS (
          SELECT lang,
            MAX(CASE WHEN rn = (n + 2) // 3 THEN ppl END) AS t1,
            MAX(CASE WHEN rn = (2 * n + 2) // 3 THEN ppl END) AS t2
          FROM rk GROUP BY 1),
        b AS (
          SELECT p.lang,
            CASE WHEN t.t1 IS NULL THEN 'unsampled'
                 WHEN p.ppl <= t.t1 THEN 'head'
                 WHEN p.ppl <= t.t2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
            p.ppl
          FROM pplt p LEFT JOIN th t USING (lang))
        SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
          MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl,
          round(CAST(SUM(CAST(ppl AS DECIMAL(30,6))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS mean_ppl
        FROM b GROUP BY 1, 2"""),
      bench = true),

    // Character-distribution Shannon entropy — the cheapest degenerate-text
    // signal in the quality family (repeated-char boilerplate and binary
    // junk sit near 0 nats; prose sits near ln|alphabet|), run BEFORE any
    // tokenizer. Entirely row-local (chars, alphabet, counts, and the
    // entropy fold are array expressions over the row's own text): zero
    // exchanges, the operator rides the scan — the q211 winnowMins posture.
    QueryDef("q216_char_entropy",
      (s, dir) => TextStats.charEntropy(docs(s, dir)),
      oracle = Some("""
        WITH cl AS (
          SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 1),
        ch AS (SELECT doc_id, clean,
          list_transform(generate_series(1, length(clean)),
            i -> substr(clean, CAST(i AS INTEGER), 1)) AS chars
          FROM cl2),
        di AS (SELECT doc_id, clean, chars,
          list_sort(list_distinct(chars)) AS dist FROM ch),
        en AS (SELECT doc_id, length(clean) AS L, len(dist) AS A,
          list_reduce(list_transform(dist, c ->
            round(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE) *
              ln(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE)), 12)),
            (a, b) -> a + b) AS s
          FROM di)
        SELECT doc_id, CAST(L AS BIGINT) AS n_chars, CAST(A AS BIGINT) AS n_alphabet,
          round(round(ln(CAST(L AS DOUBLE)), 12) - s / CAST(L AS DOUBLE), 6) AS entropy
        FROM en"""),
      bench = true),

    // Filter-attrition funnel (the table every curation paper publishes —
    // FineWeb fig. 1, RefinedWeb tab. 2): the q184 Gopher rules + a lang
    // gate + keep-first exact dedup applied SEQUENTIALLY, reporting per
    // stage how many docs enter, how many each stage removes, and the
    // removal rate — the ops view that tells you which filter is doing
    // the work. Each doc is assigned its FIRST failing stage in one pass
    // (the rules are per-doc integer flags; dedup ranks only among docs
    // surviving stages 1-5, true sequential semantics), so the funnel is
    // a 6-row rollup over one tokenize scan — no per-stage re-filtering.
    // removed_ppm is integer DIV with an n_in > 0 guard on BOTH engines
    // (DuckDB // 0 errors where Spark DIV yields null — parity trap).
    QueryDef("q201_attrition_funnel",
      (s, dir) => {
        import graft.functions.Exprs
        val base = docs(s, dir)
          .select(col("doc_id"), col("lang"), Exprs.tokens(col("text")).as("toks"))
        val pc = base.select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        val st = pc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("ndis"),
            max(col("c")).as("topc"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(length(col("term")) * col("c")).as("sumlen"))
        val perDoc = base
          .select(col("doc_id"), col("lang"),
            md5(array_join(col("toks"), " ")).as("h"))
          .join(st, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("h"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("ndis"), lit(0L)).as("ndis"),
            coalesce(col("topc"), lit(0L)).as("topc"),
            coalesce(col("hapax"), lit(0L)).as("hapax"),
            coalesce(col("sumlen"), lit(0L)).as("sumlen"))
          .withColumn("fail_pre",
            when(col("lang") =!= "en", 1L)
              .when(col("n") < 30, 2L)
              .when(col("sumlen") < lit(4L) * col("n") ||
                col("sumlen") > lit(5L) * col("n"), 3L)
              .when(lit(100L) * col("topc") > lit(15L) * col("n"), 4L)
              .when(lit(5L) * col("hapax") < col("ndis"), 5L))
        val dupW = Window.partitionBy(col("h")).orderBy(col("doc_id").asc)
        val staged = perDoc.filter(col("fail_pre").isNull)
          .withColumn("rn", row_number().over(dupW))
          .select(col("doc_id"), when(col("rn") > 1, 6L).as("fail"))
          .unionByName(perDoc.filter(col("fail_pre").isNotNull)
            .select(col("doc_id"), col("fail_pre").as("fail")))
        val removed = staged.filter(col("fail").isNotNull)
          .groupBy(col("fail").as("stage")).agg(count(lit(1)).as("rm"))
        val total = staged.agg(count(lit(1)).as("n_total"))
        val names = array(lit("1_lang_en"), lit("2_min_tokens"),
          lit("3_mean_word_len"), lit("4_top_term_share"),
          lit("5_hapax_ratio"), lit("6_exact_dedup"))
        val s6 = docs(s, dir).sparkSession.range(1, 7)
          .select(col("id").as("stage"), element_at(names, col("id").cast("int")).as("stage_name"))
        val cumW = Window.orderBy(col("stage").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        s6.join(removed, Seq("stage"), "left")
          .select(col("stage"), col("stage_name"),
            coalesce(col("rm"), lit(0L)).as("n_removed"))
          .crossJoin(broadcast(total))
          .withColumn("n_in",
            col("n_total") - coalesce(sum(col("n_removed")).over(cumW), lit(0L)))
          .withColumn("n_out", col("n_in") - col("n_removed"))
          .withColumn("removed_ppm",
            when(col("n_in") > 0, expr("(1000000 * n_removed) DIV n_in"))
              .otherwise(lit(0L)))
          .select(col("stage"), col("stage_name"), col("n_in"),
            col("n_removed"), col("n_out"), col("removed_ppm"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        pc AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS ndis,
            CAST(MAX(c) AS BIGINT) AS topc,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
            CAST(SUM(LEN(term) * c) AS BIGINT) AS sumlen
          FROM pc GROUP BY 1),
        perdoc AS (
          SELECT d.doc_id, d.lang,
            md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h,
            COALESCE(st.n, 0) AS n, COALESCE(st.ndis, 0) AS ndis,
            COALESCE(st.topc, 0) AS topc, COALESCE(st.hapax, 0) AS hapax,
            COALESCE(st.sumlen, 0) AS sumlen
          FROM documents d LEFT JOIN st USING (doc_id)),
        pre AS (
          SELECT doc_id, h,
            CASE WHEN lang <> 'en' THEN 1
                 WHEN n < 30 THEN 2
                 WHEN sumlen < 4 * n OR sumlen > 5 * n THEN 3
                 WHEN 100 * topc > 15 * n THEN 4
                 WHEN 5 * hapax < ndis THEN 5 END AS fail_pre
          FROM perdoc),
        staged AS (
          SELECT doc_id, CAST(fail_pre AS BIGINT) AS fail FROM pre WHERE fail_pre IS NOT NULL
          UNION ALL
          SELECT doc_id,
            CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id ASC) > 1
                 THEN CAST(6 AS BIGINT) END AS fail
          FROM pre WHERE fail_pre IS NULL),
        removed AS (SELECT fail AS stage, CAST(COUNT(*) AS BIGINT) AS rm
          FROM staged WHERE fail IS NOT NULL GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM staged),
        s6 AS (SELECT CAST(g AS BIGINT) AS stage,
            CASE g WHEN 1 THEN '1_lang_en' WHEN 2 THEN '2_min_tokens'
                   WHEN 3 THEN '3_mean_word_len' WHEN 4 THEN '4_top_term_share'
                   WHEN 5 THEN '5_hapax_ratio' ELSE '6_exact_dedup' END AS stage_name
          FROM unnest(generate_series(1, 6)) AS t(g)),
        fun AS (
          SELECT s6.stage, s6.stage_name, COALESCE(removed.rm, 0) AS n_removed, n_total
          FROM s6 LEFT JOIN removed ON removed.stage = s6.stage, tot),
        f2 AS (
          SELECT stage, stage_name, n_removed,
            CAST(n_total - COALESCE(SUM(n_removed) OVER (ORDER BY stage ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in
          FROM fun)
        SELECT stage, stage_name, n_in, n_removed, n_in - n_removed AS n_out,
          CASE WHEN n_in > 0 THEN (1000000 * n_removed) // n_in ELSE 0 END AS removed_ppm
        FROM f2"""),
      bench = true),

    // Sequence-packing efficiency card: the q175 stage-6 greedy 256-token
    // binning applied to the raw corpus, rolled up per language into the
    // numbers a training team actually budgets — bins produced, padding
    // tokens wasted in underfull bins (ppm of slot capacity), and the
    // bins/tokens that OVERFLOW the context (a doc longer than 256 keeps
    // its bin, the q175 greedy-window contract). Packing waste is a
    // direct multiplier on training cost, which is why FIM/packed-
    // pretraining papers report exactly this table. One tokenize scan +
    // one (lang, shard)-partitioned window — no global sort; all ratios
    // integer DIV.
    QueryDef("q202_packing_efficiency",
      (s, dir) => {
        val d = docs(s, dir)
        val nd = graft.operators.TextPipeline.tokenize(d)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val pd = d.select(col("doc_id"), col("lang"),
            floor(col("doc_id") / 64).cast(org.apache.spark.sql.types.LongType).as("shard"))
          .join(nd, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("shard"),
            coalesce(col("n"), lit(0L)).cast(org.apache.spark.sql.types.LongType).as("n_tok"))
        val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bins = pd.withColumn("bin",
            floor((sum(col("n_tok")).over(w) - col("n_tok")) / 256.0)
              .cast(org.apache.spark.sql.types.LongType))
          .groupBy(col("lang"), col("shard"), col("bin"))
          .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("bt"))
        bins.groupBy(col("lang"))
          .agg(sum(col("nd")).as("n_docs"), sum(col("bt")).as("n_tokens"),
            count(lit(1)).as("n_bins"),
            sum(greatest(lit(0L), lit(256L) - col("bt"))).as("n_pad"),
            sum(when(col("bt") > 256L, 1L).otherwise(0L)).as("n_overflow_bins"),
            sum(greatest(lit(0L), col("bt") - lit(256L))).as("overflow_tokens"))
          .withColumn("pad_ppm", expr("(1000000 * n_pad) DIV (256 * n_bins)"))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_bins"),
            col("n_pad"), col("pad_ppm"), col("n_overflow_bins"),
            col("overflow_tokens"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        tc AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        pd AS (
          SELECT d.doc_id, d.lang, CAST(floor(d.doc_id / 64) AS BIGINT) AS shard,
            CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_tok
          FROM documents d LEFT JOIN tc USING (doc_id)),
        binned AS (
          SELECT lang, shard,
            CAST(floor((SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 256.0) AS BIGINT) AS bin,
            n_tok
          FROM pd),
        bins AS (
          SELECT lang, shard, bin, CAST(COUNT(*) AS BIGINT) AS nd,
            CAST(SUM(n_tok) AS BIGINT) AS bt
          FROM binned GROUP BY 1, 2, 3)
        SELECT lang, CAST(SUM(nd) AS BIGINT) AS n_docs,
          CAST(SUM(bt) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_bins,
          CAST(SUM(GREATEST(0, 256 - bt)) AS BIGINT) AS n_pad,
          (1000000 * CAST(SUM(GREATEST(0, 256 - bt)) AS BIGINT)) // (256 * COUNT(*)) AS pad_ppm,
          CAST(SUM(CASE WHEN bt > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_bins,
          CAST(SUM(GREATEST(0, bt - 256)) AS BIGINT) AS overflow_tokens
        FROM bins GROUP BY 1"""),
      bench = true),

    // Quality-signal ranking power: exact AUC (Mann–Whitney U) of the
    // char-LM perplexity as a detector of Gopher-rule failures — the
    // measurement that tells you whether the cheap model-based signal
    // RANKS bad docs above good ones before you pick its gate threshold.
    // Exact rank statistic with average-rank tie handling, kept integral
    // by the ×2 trick: U2 = Σ_values np·(2·nn_below + nn_at); AUC =
    // U2 / (2·np·nn), emitted as integer millionths. The cumulative rank
    // count is a TWO-LEVEL prefix sum over the distinct-score census —
    // bucket-partitioned windows plus a broadcast bucket-offset frame —
    // so no single-partition window ever sees a corpus-scaling frame.
    QueryDef("q203_signal_auc",
      (s, dir) => {
        import graft.functions.Exprs
        val d = docs(s, dir)
        val ppl = TextStats.charLmPerplexity(d).select(col("doc_id"), col("ppl"))
        val pc = d.select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        val keep = pc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("ndis"),
            max(col("c")).as("topc"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(length(col("term")) * col("c")).as("sumlen"))
          .select(col("doc_id"),
            (col("n") >= 30 &&
              col("sumlen") >= lit(4L) * col("n") &&
              col("sumlen") <= lit(5L) * col("n") &&
              lit(100L) * col("topc") <= lit(15L) * col("n") &&
              lit(5L) * col("hapax") >= col("ndis")).as("keep"))
        val scored = ppl.join(keep, "doc_id")
          .select(col("ppl"), when(!col("keep"), 1L).otherwise(0L).as("y"))
        val cen = scored.groupBy(col("ppl"))
          .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
        // two-level exclusive prefix sum (guide §2.4) instead of a global
        // single-partition window over the distinct-ppl census (which grows
        // with the corpus): a monotone value bucket (1/64-wide in ppl-space,
        // so ≤ 15625 distinct 6-dp ppl values per bucket — a hard bound)
        // keys a partitioned window; the per-bucket totals cumsum on the
        // value-bounded offsets frame and broadcast back. Integer sums —
        // nn_below is identical row for row to the global-window form.
        // pinned: the bucketed census feeds BOTH the in-bucket window and
        // the offsets branch — without the pin the whole upstream ppl
        // pipeline would run once per branch (census-sized, scale-safe)
        val bk = graft.Caching.pin(
          cen.withColumn("bkt", floor(col("ppl") * lit(64.0d)).cast("long")))
        val inBkt = bk.withColumn("nn_in", coalesce(sum(col("nn")).over(
          Window.partitionBy(col("bkt")).orderBy(col("ppl").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val offs = bk.groupBy(col("bkt")).agg(sum(col("nn")).as("t"))
          .withColumn("off", coalesce(sum(col("t")).over(
            Window.orderBy(col("bkt").asc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("bkt"), col("off"))
        inBkt.join(broadcast(offs), "bkt")
          .withColumn("nn_below", col("off") + col("nn_in"))
          .agg(sum(expr("np * (2 * nn_below + nn)")).as("u2"),
            sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
          .select(lit("ppl_vs_gopher").as("signal"),
            col("n_pos"), col("n_neg"), col("u2"),
            when(col("n_pos") > 0 && col("n_neg") > 0,
              expr("(1000000 * u2) DIV (2 * n_pos * n_neg)"))
              .otherwise(lit(0L)).as("auc_ppm"))
      },
      oracle = Some(s"""
        WITH cl AS (
          SELECT doc_id, lang,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS (
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i)),
        model AS (SELECT lang, tg, COUNT(*) AS cnt FROM tris GROUP BY 1, 2),
        tot AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM model GROUP BY 1),
        probs AS (
          SELECT m.lang, m.tg,
            round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM model m JOIN tot USING (lang)),
        sc AS (
          SELECT t.doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) AS s
          FROM tris t JOIN probs p ON p.lang = t.lang AND p.tg = t.tg
          GROUP BY 1),
        pplv AS (SELECT doc_id, round(exp(-s/n_tri), 6) AS ppl FROM sc),
        ${Text.toksCte},
        pc AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS ndis,
            CAST(MAX(c) AS BIGINT) AS topc,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
            CAST(SUM(LEN(term) * c) AS BIGINT) AS sumlen
          FROM pc GROUP BY 1),
        kp AS (
          SELECT doc_id,
            (n >= 30 AND sumlen >= 4 * n AND sumlen <= 5 * n AND
             100 * topc <= 15 * n AND 5 * hapax >= ndis) AS keep
          FROM st),
        scored AS (
          SELECT p.ppl, CASE WHEN NOT k.keep THEN 1 ELSE 0 END AS y
          FROM pplv p JOIN kp k USING (doc_id)),
        cen AS (
          SELECT ppl, CAST(SUM(y) AS BIGINT) AS np,
            CAST(SUM(1 - y) AS BIGINT) AS nn
          FROM scored GROUP BY 1),
        cum AS (
          SELECT np, nn,
            CAST(COALESCE(SUM(nn) OVER (ORDER BY ppl ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nn_below
          FROM cen),
        agg AS (
          SELECT CAST(SUM(np * (2 * nn_below + nn)) AS BIGINT) AS u2,
            CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg
          FROM cum)
        SELECT 'ppl_vs_gopher' AS signal, n_pos, n_neg, u2,
          CASE WHEN n_pos > 0 AND n_neg > 0
               THEN (1000000 * u2) // (2 * n_pos * n_neg) ELSE 0 END AS auc_ppm
        FROM agg"""),
      bench = true),

    // Inter-gate agreement (Cohen's kappa): do the rule-based Gopher gate
    // and the model-based perplexity gate (q175's ppl ≤ 213) agree beyond
    // chance? The data-ops number that says whether a second gate adds
    // information or just re-labels the first. Exact integer form:
    // κ = (n·agree − pe_num) / (n² − pe_num) with
    // pe_num = A1·B1 + (n−A1)·(n−B1), emitted as millionths with the
    // degenerate-marginal guard (pe = 1 ⇒ κ := 0) on BOTH engines.
    QueryDef("q204_gate_agreement",
      (s, dir) => {
        import graft.functions.Exprs
        val d = docs(s, dir)
        val ppl = TextStats.charLmPerplexity(d)
          .select(col("doc_id"), (col("ppl") <= lit(213.0d)).as("gate_b"))
        val pc = d.select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        val keep = pc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("ndis"),
            max(col("c")).as("topc"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(length(col("term")) * col("c")).as("sumlen"))
          .select(col("doc_id"),
            (col("n") >= 30 &&
              col("sumlen") >= lit(4L) * col("n") &&
              col("sumlen") <= lit(5L) * col("n") &&
              lit(100L) * col("topc") <= lit(15L) * col("n") &&
              lit(5L) * col("hapax") >= col("ndis")).as("gate_a"))
        ppl.join(keep, "doc_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("gate_a") && col("gate_b"), 1L).otherwise(0L)).as("n11"),
            sum(when(col("gate_a") && !col("gate_b"), 1L).otherwise(0L)).as("n10"),
            sum(when(!col("gate_a") && col("gate_b"), 1L).otherwise(0L)).as("n01"),
            sum(when(!col("gate_a") && !col("gate_b"), 1L).otherwise(0L)).as("n00"))
          .withColumn("pe_num",
            expr("(n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)"))
          .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            expr("(1000000 * (n11 + n00)) DIV n").as("po_ppm"),
            expr("(1000000 * pe_num) DIV (n * n)").as("pe_ppm"),
            when(expr("n * n - pe_num") > 0,
              expr("(1000000 * (n * (n11 + n00) - pe_num)) DIV (n * n - pe_num)"))
              .otherwise(lit(0L)).as("kappa_ppm"))
      },
      oracle = Some(s"""
        WITH cl AS (
          SELECT doc_id, lang,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS (
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i)),
        model AS (SELECT lang, tg, COUNT(*) AS cnt FROM tris GROUP BY 1, 2),
        tot AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM model GROUP BY 1),
        probs AS (
          SELECT m.lang, m.tg,
            round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM model m JOIN tot USING (lang)),
        sc AS (
          SELECT t.doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) AS s
          FROM tris t JOIN probs p ON p.lang = t.lang AND p.tg = t.tg
          GROUP BY 1),
        gb AS (SELECT doc_id, round(exp(-s/n_tri), 6) <= 213.0 AS gate_b FROM sc),
        ${Text.toksCte},
        pc AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS ndis,
            CAST(MAX(c) AS BIGINT) AS topc,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
            CAST(SUM(LEN(term) * c) AS BIGINT) AS sumlen
          FROM pc GROUP BY 1),
        ga AS (
          SELECT doc_id,
            (n >= 30 AND sumlen >= 4 * n AND sumlen <= 5 * n AND
             100 * topc <= 15 * n AND 5 * hapax >= ndis) AS gate_a
          FROM st),
        cells AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN gate_a AND gate_b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(SUM(CASE WHEN gate_a AND NOT gate_b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN NOT gate_a AND gate_b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN NOT gate_a AND NOT gate_b THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM gb JOIN ga USING (doc_id)),
        k AS (
          SELECT *, (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
          FROM cells)
        SELECT n, n11, n10, n01, n00,
          (1000000 * (n11 + n00)) // n AS po_ppm,
          (1000000 * pe_num) // (n * n) AS pe_ppm,
          CASE WHEN n * n - pe_num > 0
               THEN (1000000 * (n * (n11 + n00) - pe_num)) // (n * n - pe_num)
               ELSE 0 END AS kappa_ppm
        FROM k"""),
      bench = true),

    // Per-source distribution drift by EXACT two-sample Kolmogorov–Smirnov
    // (the non-binned companion to q154's PSI): each source's token-count
    // distribution against the rest of the corpus — D = max |F_s − F_rest|
    // evaluated on the full step grid, entirely in integer
    // cross-multiplication (|cum_s·n_rest − cum_rest·n_s| over the shared
    // denominator n_s·n_rest), reported as millionths with the argmax
    // step value. The grid is sources × distinct token counts — census-
    // bounded — and every cumulative window is a TWO-LEVEL prefix sum
    // ((source,)bucket-partitioned ≤1024-row windows + broadcast bucket
    // offsets, the q203 posture), so no window partition scales with the
    // census. The card that catches a feed whose length profile shifted
    // even when its PSI buckets stayed flat.
    QueryDef("q205_ks_drift",
      (s, dir) => {
        val d = docs(s, dir)
        val nd = graft.operators.TextPipeline.tokenize(d)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val docTok = d.select(col("doc_id"), col("source"))
          .join(nd, Seq("doc_id"), "left")
          .select(col("source"), coalesce(col("n"), lit(0L)).as("v"))
        val cen = docTok.groupBy(col("source"), col("v"))
          .agg(count(lit(1)).as("c"))
        val values = cen.select(col("v")).distinct()
        val srcN = cen.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
        val nAll = srcN.agg(sum(col("n_s")).as("n_all"))
        // corpus-wide cumulative counts on the census grid: a TWO-LEVEL
        // prefix sum (guide §2.4, the q203 posture) — the 1024-wide value
        // bucket (shiftright is monotone on the non-negative counts) keys a
        // partitioned window with ≤1024 rows per partition, and the
        // per-bucket totals cumsum on the small offsets frame
        // pinned: feeds both the offsets branch and the in-bucket window
        val ac = graft.Caching.pin(
          cen.groupBy(col("v")).agg(sum(col("c")).as("c_all"))
            .withColumn("bkt", shiftright(col("v"), 10)))
        val acOffs = ac.groupBy(col("bkt")).agg(sum(col("c_all")).as("t"))
          .withColumn("off", coalesce(sum(col("t")).over(
            Window.orderBy(col("bkt").asc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("bkt"), col("off"))
        val allCum = ac.withColumn("cum_in", sum(col("c_all"))
            .over(Window.partitionBy(col("bkt")).orderBy(col("v").asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(acOffs), "bkt")
          .select(col("v"), (col("off") + col("cum_in")).as("cum_all"))
        // full grid: every source at every step value
        val grid = srcN.crossJoin(values)
          .join(cen, Seq("source", "v"), "left")
          .select(col("source"), col("n_s"), col("v"),
            coalesce(col("c"), lit(0L)).as("c"))
        // per-source CDF on the same two-level plan: (source, bucket)
        // partitions bound every window at 1024 rows regardless of how many
        // distinct counts the census holds; offsets cumsum per source over
        // the bucket-count-sized frame
        val gb = graft.Caching.pin(grid.withColumn("bkt", shiftright(col("v"), 10)))
        val srcOffs = gb.groupBy(col("source"), col("bkt")).agg(sum(col("c")).as("t"))
          .withColumn("off", coalesce(sum(col("t")).over(
            Window.partitionBy(col("source")).orderBy(col("bkt").asc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("bkt"), col("off"))
        val perSrcCum = gb.withColumn("cum_in", sum(col("c"))
            .over(Window.partitionBy(col("source"), col("bkt")).orderBy(col("v").asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(srcOffs), Seq("source", "bkt"))
          .withColumn("cum_s", col("off") + col("cum_in"))
          .join(allCum, "v")
          .crossJoin(broadcast(nAll))
          .select(col("source"), col("n_s"), col("v"),
            abs(col("cum_s") * (col("n_all") - col("n_s")) -
              (col("cum_all") - col("cum_s")) * col("n_s")).as("diff"))
        val best = perSrcCum.groupBy(col("source"), col("n_s"))
          .agg(max(col("diff")).as("max_diff"))
        val at = perSrcCum
          .select(col("source").as("src_a"), col("v"), col("diff"))
          .join(best.select(col("source").as("src_b"), col("max_diff")),
            col("src_a") === col("src_b") && col("diff") === col("max_diff"))
          .groupBy(col("src_a")).agg(min(col("v")).as("at_value"))
          .withColumnRenamed("src_a", "source")
        best.join(at, "source")
          .crossJoin(broadcast(nAll))
          .select(col("source"), col("n_s").as("n_docs"),
            when(col("n_s") > 0 && col("n_all") > col("n_s"),
              expr("(1000000 * max_diff) DIV (n_s * (n_all - n_s))"))
              .otherwise(lit(0L)).as("ks_ppm"),
            col("at_value"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        tc AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        dt AS (
          SELECT d.source, CAST(COALESCE(tc.n, 0) AS BIGINT) AS v
          FROM documents d LEFT JOIN tc USING (doc_id)),
        cen AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY 1, 2),
        vals AS (SELECT DISTINCT v FROM cen),
        srcn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cen GROUP BY 1),
        nall AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_all FROM srcn),
        allcum AS (
          SELECT v, CAST(SUM(SUM(c)) OVER (ORDER BY v ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
          FROM cen GROUP BY v),
        grid AS (
          SELECT s.source, s.n_s, vl.v, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
          FROM srcn s CROSS JOIN vals vl
          LEFT JOIN cen c ON c.source = s.source AND c.v = vl.v),
        pc AS (
          SELECT g.source, g.n_s, g.v,
            CAST(SUM(g.c) OVER (PARTITION BY g.source ORDER BY g.v ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
          FROM grid g),
        diffs AS (
          SELECT p.source, p.n_s, p.v,
            abs(p.cum_s * (n_all - p.n_s) - (a.cum_all - p.cum_s) * p.n_s) AS diff
          FROM pc p JOIN allcum a USING (v), nall),
        best AS (SELECT source, n_s, CAST(MAX(diff) AS BIGINT) AS max_diff
          FROM diffs GROUP BY 1, 2),
        at AS (
          SELECT d.source, MIN(d.v) AS at_value
          FROM diffs d JOIN best b ON b.source = d.source AND d.diff = b.max_diff
          GROUP BY 1)
        SELECT b.source, b.n_s AS n_docs,
          CASE WHEN b.n_s > 0 AND n_all > b.n_s
               THEN (1000000 * b.max_diff) // (b.n_s * (n_all - b.n_s))
               ELSE 0 END AS ks_ppm,
          at_value
        FROM best b JOIN at USING (source), nall"""),
      bench = true),

    // Deterministic train/val/test split manifest + stratification card:
    // the hash-coin split every data release ships (md5 coin on the doc
    // id, salt "split:", 98/1/1 by ppm thresholds — reproducible with no
    // rand() and stable under re-runs, the q77 coin discipline), audited
    // per (split, source): is each split's source mix within tolerance of
    // the corpus mix? abs_dev_ppm is the number a release checklist
    // thresholds. One scan + a |splits|·|sources|-row rollup; all shares
    // integer DIV.
    QueryDef("q206_split_manifest",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"))
          .withColumn("coin", Exprs.h60(concat(lit("split:"), col("doc_id"))) % 1000000L)
          .withColumn("split",
            when(col("coin") < 980000L, "train")
              .when(col("coin") < 990000L, "val")
              .otherwise("test"))
        val corpus = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
        val total = d.agg(count(lit(1)).as("n_all"))
        val splitTot = d.groupBy(col("split")).agg(count(lit(1)).as("n_split"))
        d.groupBy(col("split"), col("source")).agg(count(lit(1)).as("n_docs"))
          .join(splitTot, "split")
          .join(corpus, "source")
          .crossJoin(broadcast(total))
          .select(col("split"), col("source"), col("n_docs"),
            expr("(1000000 * n_docs) DIV n_split").as("share_ppm"),
            expr("(1000000 * n_src) DIV n_all").as("corpus_share_ppm"),
            abs(expr("(1000000 * n_docs) DIV n_split") -
              expr("(1000000 * n_src) DIV n_all")).as("abs_dev_ppm"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source,
            CAST('0x' || substr(md5('split:' || doc_id), 1, 15) AS BIGINT) % 1000000 AS coin
          FROM documents),
        sp AS (
          SELECT source,
            CASE WHEN coin < 980000 THEN 'train'
                 WHEN coin < 990000 THEN 'val' ELSE 'test' END AS split
          FROM d),
        corpus AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM sp GROUP BY 1),
        total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM sp),
        st AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_split FROM sp GROUP BY 1),
        cells AS (SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM sp GROUP BY 1, 2)
        SELECT c.split, c.source, c.n_docs,
          (1000000 * c.n_docs) // st.n_split AS share_ppm,
          (1000000 * corpus.n_src) // total.n_all AS corpus_share_ppm,
          abs((1000000 * c.n_docs) // st.n_split -
              (1000000 * corpus.n_src) // total.n_all) AS abs_dev_ppm
        FROM cells c
        JOIN st USING (split) JOIN corpus USING (source), total"""),
      bench = true),

    // Trainable BPE tokenizer (VERDICT r5 Next #2): merge training as the
    // distributed pair-count loop, encoding as a per-row expression over
    // the learned merge table. The oracle replays the SAME deterministic
    // algorithm — unrolled MATERIALIZED CTE rounds, argmax by (count desc,
    // pair asc), list_reduce greedy merge fold — so a hash match proves
    // both the training trajectory and the merge semantics end to end.
    QueryDef("q79_bpe_train",
      (s, dir) => {
        import s.implicits._
        Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
          .toDF("rank", "l", "r")
      },
      oracle = Some(bpeTrainSql(BpeMergeRounds) + s"""
        SELECT CAST(rank AS BIGINT) AS rank, l, r FROM merges""")),

    // Encode every document with the corpus-trained merges and count
    // subword tokens — what q75 packing / q78 mixing would consume in a
    // production pipeline. The Spark side encodes each doc independently
    // via the merge table (never touching the training state); the oracle
    // takes the OTHER path — the final training state IS the encoding of
    // every seen word, so it joins doc words to round-N state. Two
    // different computations agreeing on the hash is the point.
    // q75 re-pointed at REAL subword counts (VERDICT r5 "What's missing"
    // #2's follow-through): identical packing semantics, but the running
    // sum packs BPE token counts from the corpus-trained merges. Kept as
    // its own row so q75's whitespace-count oracle stays intact; the
    // oracle composes the full training chain with q75's window.
    QueryDef("q82_bpe_packing",
      (s, dir) => {
        val merges = Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
        val d = docs(s, dir).select(col("lang"),
          floor(col("doc_id") / 64).cast("long").as("shard"),
          col("doc_id"),
          coalesce(size(Bpe.encode(Exprs.tokens(col("text")), merges)), lit(0))
            .cast("long").as("n_tok"))
        val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("bin",
            floor((sum(col("n_tok")).over(w) - col("n_tok")) / 256.0).cast("long"))
          .groupBy(col("lang"), col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      },
      oracle = Some(bpeTrainSql(BpeMergeRounds) + s""",
        nb AS (SELECT t.doc_id, SUM(len(r.syms)) AS n
               FROM toks t JOIN r$BpeMergeRounds r ON t.word = r.word GROUP BY t.doc_id),
        pd AS (SELECT d.doc_id, d.lang, CAST(floor(d.doc_id / 64) AS BIGINT) AS shard,
                      CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_tok
               FROM documents d LEFT JOIN nb ON d.doc_id = nb.doc_id),
        cum AS (SELECT lang, shard, doc_id, n_tok,
                  SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
                FROM pd)
        SELECT lang, shard, CAST(floor((c - n_tok) / 256.0) AS BIGINT) AS bin,
          COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM cum GROUP BY 1, 2, 3""")),

    // Subword VOCABULARY with stable integer ids — what sequence packing
    // feeds a model: the BPE operator composed with the A4 two-phase
    // vocabulary rank (TextPipeline.vocab — no single-partition stage).
    // Two-path oracle again: Spark derives the vocabulary by ENCODING every
    // doc through the merge table; DuckDB reads the distinct symbols of the
    // final TRAINING state — equal because encoding reproduces the training
    // segmentation for every seen word.
    QueryDef("q83_bpe_vocab",
      (s, dir) => {
        val merges = Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
        val subwords = docs(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(explode(Bpe.encode(col("toks"), merges)).as("term"))
        TextPipeline.vocab(subwords)
          .select(col("term").as("subword"), col("idx").as("token_id"))
      },
      oracle = Some(bpeTrainSql(BpeMergeRounds) + s"""
        SELECT subword, row_number() OVER (ORDER BY subword) AS token_id
        FROM (SELECT DISTINCT unnest(syms) AS subword FROM r$BpeMergeRounds)""")),

    // The pipeline's terminal artifact: every document as its token-ID
    // sequence (q83's vocabulary applied to q80's encoding), rendered as a
    // comma-joined string so the cross-engine compare is exact. The id map
    // is genuinely plan-time-small — final-state symbols are bounded by
    // alphabet + numMerges, NOT by the corpus — so the lookup is a literal
    // map inside the per-row transform, no join. The oracle rebuilds the
    // sequences positionally from the training state (word position ×
    // symbol position), a third independent path through the same model.
    QueryDef("q84_bpe_ids",
      (s, dir) => {
        val merges = Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
        val vmap = TextPipeline.vocab(
            docs(s, dir)
              .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
              .select(explode(Bpe.encode(col("toks"), merges)).as("term")))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        val idMap = map(vmap.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        docs(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            array_join(transform(Bpe.encode(col("toks"), merges),
              s => element_at(idMap, s).cast("string")), ",").as("token_ids"))
      },
      oracle = Some(bpeTrainSql(BpeMergeRounds) + s""",
        toksp AS MATERIALIZED (
          SELECT doc_id, i AS pos, tk[i] AS word FROM (
            SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM (
              SELECT doc_id, list_filter(
                string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                t -> t <> '') AS tk FROM documents) raw) g),
        vocab AS MATERIALIZED (
          SELECT subword, row_number() OVER (ORDER BY subword) AS id
          FROM (SELECT DISTINCT unnest(syms) AS subword FROM r$BpeMergeRounds)),
        ids AS (
          SELECT t.doc_id, t.pos, u.j, v.id
          FROM toksp t
          JOIN r$BpeMergeRounds r ON t.word = r.word,
          UNNEST(generate_series(1, len(r.syms))) AS u(j)
          JOIN vocab v ON v.subword = r.syms[u.j]),
        iagg AS (SELECT doc_id, string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos, j) AS token_ids
                 FROM ids GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(a.token_ids, '') AS token_ids
        FROM documents d LEFT JOIN iagg a ON d.doc_id = a.doc_id""")),

    QueryDef("q80_bpe_encode",
      (s, dir) => {
        val merges = Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
        docs(s, dir).select(col("doc_id"),
          coalesce(size(Bpe.encode(Exprs.tokens(col("text")), merges)), lit(0))
            .cast("long").as("n_bpe"))
      },
      oracle = Some(bpeTrainSql(BpeMergeRounds) + s""",
        agg AS (SELECT t.doc_id, SUM(len(r.syms)) AS n
                FROM toks t JOIN r$BpeMergeRounds r ON t.word = r.word GROUP BY t.doc_id)
        SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""),
      bench = true), // train + encode end to end in the headline run

    // BPE decode roundtrip as a GATE: concatenating each doc's subwords
    // must reproduce the concatenation of its tokens byte-for-byte (merges
    // can regroup characters but never invent, drop, or cross-word-leak
    // them). Spark genuinely computes the comparison; the oracle pins the
    // expected verdict (the q50 invariant pattern) and hash-matches the
    // per-doc subword counts against its own training replay — so a
    // tokenizer regression fails the row from either side.
    QueryDef("q120_bpe_roundtrip",
      (s, dir) => {
        val merges = Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
        docs(s, dir).select(col("doc_id"), Exprs.tokens(col("text")).as("tks"))
          .select(col("doc_id"), col("tks"), Bpe.encode(col("tks"), merges).as("subs"))
          .select(col("doc_id"),
            coalesce(size(col("subs")), lit(0)).cast("long").as("n_subwords"),
            (concat_ws("", col("subs")) === concat_ws("", col("tks"))).as("roundtrip_ok"))
      },
      oracle = Some(bpeTrainSql(BpeMergeRounds) + s""",
        agg AS (SELECT t.doc_id, SUM(len(r.syms)) AS n
                FROM toks t JOIN r$BpeMergeRounds r ON t.word = r.word GROUP BY t.doc_id)
        SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_subwords,
          TRUE AS roundtrip_ok
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""),
      bench = true),

    // C4-style cross-document line dedup — boilerplate removal. The corpus
    // has no newlines, so "lines" are synthesized deterministically (the q74
    // enrichment pattern): width-12 token chunks of each doc, plus injected
    // boilerplate lines on every 3rd/5th doc so the cross-document removal
    // path demonstrably fires (the chunk lines are all but surely unique —
    // the injected lines are the duplicates, removed everywhere but their
    // first corpus occurrence). Keep-first + reassembly, all equi-key.
    QueryDef("q91_line_dedup",
      (s, dir) => {
        // tokens in their own projection (HOF-CSE contract — chunkTokens
        // references its argument once per span)
        val toks = docs(s, dir).select(col("doc_id"), Exprs.tokens(col("text")).as("tk"))
        val lines = concat(
          LineDedup.chunkTokens(col("tk"), 12),
          when(col("doc_id") % 3 === 0, array(lit(Boiler1)))
            .otherwise(array().cast("array<string>")),
          when(col("doc_id") % 5 === 0, array(lit(Boiler2)))
            .otherwise(array().cast("array<string>")))
        LineDedup.dedupLines(LineDedup.explodeLines(toks, lines))
      },
      oracle = Some(s"""
        WITH seq AS (
          SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        ch AS (
          SELECT doc_id, list_concat(list_concat(
            list_transform(range(CAST(ceil(len(tk) / 12.0) AS BIGINT)),
              i -> array_to_string(list_slice(tk, i*12 + 1, i*12 + 12), ' ')),
            CASE WHEN doc_id % 3 = 0 THEN ['$Boiler1'] ELSE CAST([] AS VARCHAR[]) END),
            CASE WHEN doc_id % 5 = 0 THEN ['$Boiler2'] ELSE CAST([] AS VARCHAR[]) END) AS l
          FROM seq),
        ln AS (
          SELECT doc_id, i - 1 AS line_no, l[i] AS line
          FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM ch)),
        f AS (
          SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
          FROM ln)
        SELECT doc_id, COUNT(*) AS n_lines,
          CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
          COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY line_no), '') AS clean_text
        FROM f GROUP BY doc_id"""),
      bench = true), // the C4 boilerplate pass in the headline run

    // Bloom-filter decontamination — the q73 semantics when the benchmark
    // set outgrows an exact broadcast set: membership via a plan-constant
    // m-bit filter (portable md5-derived positions, so DuckDB replays the
    // test bit-for-bit, deterministic false positives included). The probe
    // side is pure per-row work: ZERO joins/shuffles on the corpus until
    // the final per-doc aggregate.
    QueryDef("q92_bloom_decontam",
      (s, dir) => {
        val sh = graft.Caching.pin(
          Dedup.shingleSet(docs(s, dir), 3).select(col("doc_id"), col("shingle")))
        val bench = sh.filter(col("doc_id") % 97 === 0).select(col("shingle")).distinct()
        val words = Bloom.build(bench, BloomK, BloomBits)
        val hit = Bloom.containsAll(words, Bloom.positions(col("shingle"), BloomK, BloomBits))
        val frac = round(col("n_hits").cast("double") / col("n_shingles").cast("double"), 6)
        sh.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), hit.cast("long").as("hit"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"), sum(col("hit")).as("n_hits"))
          .select(col("doc_id"), col("n_shingles"), col("n_hits"),
            frac.as("hit_frac"), (frac >= 0.5).as("flagged"))
      },
      oracle = Some(s"""$shCte,
        bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        ks AS (SELECT unnest([0, 1, 2]) AS i),
        bits AS (SELECT DISTINCT CAST('0x' || substr(md5(i || ':' || shingle), 1, 15) AS BIGINT) % $BloomBits AS b
                 FROM bsh CROSS JOIN ks),
        tr AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
        trh AS (
          SELECT doc_id, shingle,
            (SUM(CASE WHEN CAST('0x' || substr(md5(i || ':' || shingle), 1, 15) AS BIGINT) % $BloomBits
                      IN (SELECT b FROM bits) THEN 1 ELSE 0 END) = $BloomK) AS hit
          FROM tr CROSS JOIN ks GROUP BY doc_id, shingle)
        SELECT doc_id, COUNT(*) AS n_shingles,
          CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          round(CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS hit_frac,
          (round(CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) >= 0.5) AS flagged
        FROM trh GROUP BY doc_id"""),
      bench = true), // zero-shuffle probe side in the headline run

    // IVF-PQ — the billion-scale ANN composition (Jégou et al. TPAMI'11
    // §V, the IVFADC system; the FAISS default architecture): coarse
    // k-means cells + PQ codebooks on the RESIDUALS + nprobe-cell ADC
    // probing, so a query touches ~nprobe/kCoarse of a 64×-compressed
    // index. Every stage is an already-green ladder (q110's k-means,
    // q124's per-subspace fits, q125's ADC fold) — this row proves the
    // COMPOSITION replays exactly, coarse assignment through probe list
    // through residual lookup tables.
    QueryDef("q164_ivfpq_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        graft.ml.Pq.ivfPqTopK(e.filter(col("vec_id") % 100 === 0), e,
          kCoarse = 8, coarseIter = 2, m = 4, kc = 8, pqIter = 2, nprobe = 2, k = 10)
      },
      oracle = Some(ivfpqSql(kCoarse = 8, cIter = 2, m = 4, sub = 16, kc = 8,
        pIter = 2, nprobe = 2, k = 10)),
      bench = true),

    // IVF-PQ + exact re-rank (TPAMI'11 §VII on the IVFADC path): the
    // probed-cell ADC shortlist (40 per query) prunes the corpus, true
    // L2 re-ranks just those rows — final exactness for a bounded read
    // on top of the ~nprobe/kCoarse index scan. Completes the IVF family
    // the way q126 completed flat ADC.
    QueryDef("q166_ivfpq_rerank",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        graft.ml.Pq.ivfPqRerankTopK(e.filter(col("vec_id") % 100 === 0), e,
          kCoarse = 8, coarseIter = 2, m = 4, kc = 8, pqIter = 2, nprobe = 2,
          shortlist = 40, k = 10)
      },
      oracle = Some(ivfpqSql(kCoarse = 8, cIter = 2, m = 4, sub = 16, kc = 8,
        pIter = 2, nprobe = 2, k = 40, fin = """,
        sl AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS rk
            FROM dist) z
          WHERE rk <= 40),
        tr AS (
          SELECT sl.q_id, sl.n_id,
            round(list_reduce(list_transform(range(1, len(qv.v) + 1),
              i -> (qv.v[i] - nv.v[i]) * (qv.v[i] - nv.v[i])), (x, y) -> x + y), 6) AS d2
          FROM sl JOIN e nv ON nv.vec_id = sl.n_id JOIN q qv ON qv.vec_id = sl.q_id)
        SELECT q_id, n_id, d2, rk FROM (
          SELECT q_id, n_id, d2,
            CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
          FROM tr) z
        WHERE rk <= 10""")),
      bench = true),

    // Retrieval-eval card for the IVF-PQ system (VERDICT r10 #4): q197
    // grades the sign-LSH ranking, but the 100 TB ANN story routes through
    // IVF-PQ (q164/q166) — a deployment evals THAT system. Same card
    // (recall@10 / MRR / hit@1, integer millionths), system side the exact
    // q164 chain, ground truth exact squared-L2 over the same fixed 1 %
    // query sample through the bounded heap. Both rankings tie-break
    // (d2 at 6 dp ASC, n_id ASC), so the card replays bit-exactly; its
    // recall_ppm is the standing IVF-PQ regression gate. At 100 TB the
    // truth kernel stays |sample|·n by design — the q37/q197 eval posture.
    QueryDef("q207_ivfpq_retrieval_eval",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val q = e.filter(col("vec_id") % 100 === 0)
        val sys = graft.ml.Pq.ivfPqTopK(q, e, kCoarse = 8, coarseIter = 2,
            m = 4, kc = 8, pqIter = 2, nprobe = 2, k = 10)
          .select(col("q_id"), col("n_id"), col("rk").as("srk"))
        val truth = graft.ml.Pq.bruteL2TopK(q, e, k = 10)
          .select(col("q_id"), col("n_id"), col("rk").as("trk"))
        retrievalEvalCard(sys, truth, "ivfpq_vs_exact", k = 10)
      },
      oracle = Some(ivfpqSql(kCoarse = 8, cIter = 2, m = 4, sub = 16, kc = 8,
        pIter = 2, nprobe = 2, k = 10, fin = """,
        sys AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM dist) z
          WHERE rk <= 10),
        tdist AS (
          SELECT q.vec_id AS q_id, e.vec_id AS n_id,
            round(list_reduce(list_transform(range(1, len(q.v) + 1),
              i -> (q.v[i] - e.v[i]) * (q.v[i] - e.v[i])), (x, y) -> x + y), 6) AS d2
          FROM q JOIN e ON e.vec_id <> q.vec_id),
        truth AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM tdist) t
          WHERE rk <= 10),
        nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM truth),
        hits AS (
          SELECT s.q_id, s.n_id, s.rk AS srk, t.rk AS trk
          FROM sys s JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id),
        nhits AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits),
        rr AS (
          SELECT CAST(COALESCE(SUM(COALESCE(1000000 // s.rk, 0)), 0) AS BIGINT) AS rr_sum
          FROM truth t LEFT JOIN sys s ON s.q_id = t.q_id AND s.n_id = t.n_id
          WHERE t.rk = 1),
        h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit1 FROM hits WHERE trk = 1 AND srk = 1)
        SELECT 'ivfpq_vs_exact' AS system, n_queries, n_hits,
          (1000000 * n_hits) // (n_queries * 10) AS recall_ppm,
          rr_sum // n_queries AS mrr_ppm,
          n_hit1,
          (1000000 * n_hit1) // n_queries AS hit1_ppm
        FROM nq, nhits, rr, h1""")),
      bench = true),

    // Per-source data card — the corpus-audit summary a curation run
    // publishes next to its output (counts, token volume, exact-dup rate,
    // language share): one tokenize scan feeding per-doc stats, the q32
    // content hash marking GLOBAL duplicates (a doc duplicated across
    // sources counts against every source holding a copy), then one
    // source-keyed rollup. All integer ratios; tokens and hash share one
    // projection (the HOF-CSE contract).
    QueryDef("q163_data_card",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val perDoc = docs(s, dir)
          .select(col("doc_id"), col("source"), col("lang"),
            Exprs.tokens(col("text")).as("tk"))
          .select(col("doc_id"), col("source"), col("lang"),
            size(col("tk")).cast("long").as("n_tokens"),
            md5(array_join(col("tk"), " ")).as("h"))
        val dupHashes = perDoc.groupBy(col("h")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select(col("h"))
        perDoc
          .join(dupHashes.withColumn("is_dup", lit(1L)), Seq("h"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_dup_docs"),
            round(col("n_dup_docs").cast(DoubleType) / col("n_docs").cast(DoubleType), 6)
              .as("dup_rate"),
            round(col("n_en").cast(DoubleType) / col("n_docs").cast(DoubleType), 6)
              .as("en_share"),
            round(col("n_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType), 6)
              .as("mean_tokens"))
      },
      oracle = Some(s"""
        WITH ${Text.toksCte},
        tc AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        norm AS (
          SELECT d.doc_id, d.source, d.lang, COALESCE(tc.n, 0) AS n_tokens,
            md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
          FROM documents d LEFT JOIN tc ON tc.doc_id = d.doc_id),
        duph AS (SELECT h FROM norm GROUP BY h HAVING COUNT(*) > 1),
        agg AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
            CAST(SUM(CASE WHEN duph.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
            CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
          FROM norm LEFT JOIN duph ON duph.h = norm.h
          GROUP BY 1)
        SELECT source, n_docs, n_tokens, n_dup_docs,
          round(CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
          round(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS en_share,
          round(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_tokens
        FROM agg"""),
      bench = true),

    // MMR diversity re-ranking (Carbonell & Goldstein, SIGIR 1998): each
    // query's brute top-20 shortlist greedily re-ranked to 8 results by
    // λ·rel − (1−λ)·max-sim-to-selected (λ = 0.7) — the post-ANN pass
    // that trades pure relevance for coverage. Every frame after the
    // shortlist is (|queries|·20)-bounded; the oracle unrolls all 8
    // greedy rounds with the shared 6-dp cosine ladder. The complement
    // (1−λ) is DERIVED identically in both engines (1.0 − 0.7 in IEEE
    // doubles — embedding a rounded 0.3 literal would hash-mismatch).
    QueryDef("q153_mmr_rerank",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        graft.operators.Similarity.mmrRerank(
          e.filter(col("vec_id") % 100 === 0), e, n = 20, k = 8, lambda = 0.7)
      },
      oracle = Some(mmrSql(n = 20, k = 8, lambda = "0.7")),
      bench = true),

    // Set-similarity join by PREFIX FILTERING (ICDE'06 / PPJoin) — the
    // third lossless blocking scheme beside q33's df-capped inverted index
    // and q34's banding. The ORACLE generates candidates the exhaustive
    // way (every shared-shingle pair, no prefix anywhere), so a green row
    // PROVES the prefix+length pruning drops no qualifying pair — the
    // q35/q55 proven-lossless pattern. Rare-first ordering pushes
    // boilerplate shingles out of prefixes, which is why this operator
    // needs no density cap where q33 does.
    QueryDef("q152_prefix_jaccard",
      (s, dir) => Dedup.prefixJaccardPairs(docs(s, dir), n = 3, threshold = 0.3),
      oracle = Some(s"""$shCte,
        csizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.block = b.block AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
          CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
        FROM common
        JOIN csizes sa ON sa.doc_id = doc_a
        JOIN csizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.3"""),
      bench = true),

    // DSIR importance weights (Xie et al., NeurIPS 2023): every doc scored
    // by how target-like (here: lang = 'en') its hashed unigram+bigram
    // distribution is — log w = Σ_b n_b·(ln p_tgt(b) − ln p_raw(b)) over
    // B = 1024 md5 buckets with add-one smoothing. Both models are B-row
    // frames (corpus-size-independent → broadcast); features build
    // row-locally; the weight agg rides the DECIMAL ladder. The oracle
    // replays the full chain: hashing, both models, λ, the per-doc fold.
    QueryDef("q135_dsir_weights",
      (s, dir) => graft.operators.Dsir.importanceWeights(
        docs(s, dir), col("lang") === "en", buckets = 1024),
      oracle = Some(s"""
        WITH $dsirCtes
        SELECT doc_id, n_feats, logw FROM w"""),
      bench = true),

    // The resampling half: Gumbel-top-k over the q135 weights — sampling
    // without replacement proportional to w(doc), the paper's selection
    // step — with the noise drawn from the deterministic md5 coin ladder
    // (q122's shape, Gumbel-transformed) and the k survivors pulled
    // through the bounded-heap TopK aggregate (shuffle volume k, never
    // corpus-sized; no Window).
    QueryDef("q136_dsir_resample",
      (s, dir) => graft.operators.Dsir.resampleTopK(
        docs(s, dir), col("lang") === "en", k = 100, buckets = 1024),
      oracle = Some(s"""
        WITH $dsirCtes,
        keyed AS (
          SELECT doc_id,
            round(logw + round(-ln(-ln(
              (CAST('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                + 0.5) / 281474976710656.0)), 10), 8) AS dsir_key
          FROM w)
        SELECT doc_id, round(dsir_key, 8) AS dsir_key FROM keyed
        QUALIFY row_number() OVER (ORDER BY dsir_key DESC, doc_id ASC) <= 100"""),
      bench = true),

    // ------------------------------------------------------------------
    // The pretraining-corpus CAPSTONE: every proven stage of the LLM data
    // pipeline chained end to end in ONE plan, verified as a whole —
    //   1. near-dup dedup: MinHash-LSH pairs → connected components →
    //      keep cluster representatives (q112's chain);
    //   2. decontamination: drop benchmark docs (doc_id % 97 == 0) and any
    //      doc sharing ≥ 50% of its trigram shingles with them (q73);
    //   3. quality gate: the q96-trained logistic scorer (full corpus =
    //      the gate's reference training set), keep score ≥ 0.5 (q97);
    //   4. mix rebalance: per-source ppm rates equalizing to the scarcest
    //      source AMONG SURVIVORS, applied by the portable hash coin (q98);
    //   5. tokenize: a unigram-LM tokenizer TRAINED ON THE FINAL MIX (the
    //      production order — the tokenizer sees the data it will encode),
    //      2 hard-EM rounds + Viterbi encode (q141/q142);
    //   6. pack: greedy 256-token bins over bounded (lang, shard) windows
    //      (q75's shape on real subword counts, the q82 pattern).
    // Output: the packing manifest (lang, shard, bin, n_docs, bin_tokens) —
    // every upstream stage determines the survivor set and its token
    // counts, so ANY stage deviating flips the hash. The oracle composes
    // the SAME stage CTEs the individual queries already pin green.
    QueryDef("q175_pretrain_pipeline",
      (s, dir) => {
        val d = docs(s, dir)
        // stage 1: MinHash dedup — cluster representatives survive
        val pairs = Dedup.minhashLshPairs(d, threshold = 0.05,
            portable = true, maxBucketSize = Some(64))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val comp = graft.graph.Graphs.connectedComponents(pairs)
          .withColumnRenamed("v", "doc_id")
        val kept1 = d.select(col("doc_id"), col("lang"), col("source"), col("text"))
          .join(comp, Seq("doc_id"), "left")
          .filter(coalesce(col("label"), col("doc_id")) === col("doc_id"))
          .drop("label")
        // stage 2: decontamination vs the benchmark slice (q73 semantics).
        // Pin the UN-projected shingle set: stage 1's minhashLshPairs pins
        // the plan-identical frame internally, and Caching refcounts by
        // canonicalized plan — so both stages share ONE corpus-sized
        // materialization instead of caching the shingle set twice (§1.2).
        val sh = graft.Caching.pin(Dedup.shingleSet(d, 3))
          .select(col("doc_id"), col("shingle"))
        val benchSh = sh.filter(col("doc_id") % 97 === 0)
          .select(col("shingle")).distinct()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(benchSh), "shingle")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .join(sizes, "doc_id")
          .filter(round(col("n_shared").cast("double") /
            col("sz").cast("double"), 6) >= 0.5)
          .select(col("doc_id"))
        val kept2 = kept1.filter(col("doc_id") % 97 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
        // stage 3: perplexity gate — the q90 char-trigram LM trained on the
        // full corpus (the gate's fixed reference set); keep docs at or
        // below the declared ppl threshold (213 keeps ~half the corpus at
        // both tested SFs — a two-sided gate, not a vacuous one; the q97
        // 0.5 logistic threshold kept NOTHING here, its score band being
        // 0.43-0.45 on this synthetic corpus)
        val qual = TextStats.charLmPerplexity(d)
          .filter(col("ppl") <= lit(213.0d))
          .select(col("doc_id"))
        // NOT pinned despite two consumers (rate census + sampling filter):
        // the frame carries the text column, and materializing it measured
        // slower than recomputing the cheap join branches inside fin's one
        // materializing job — the pinned survivor frame below is the
        // recomputation bound that matters
        val kept3 = kept2.join(qual, "doc_id")
        // stage 4: mix rebalance over the survivor census (q98 semantics)
        val agg3 = kept3.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot3 = agg3.agg(min(col("n_docs")).as("min_docs"))
        val rates = agg3.crossJoin(broadcast(tot3))
          .select(col("source"),
            least(lit(1000000L), expr("(1000000 * min_docs) DIV n_docs")).as("rate_ppm"))
        // the survivor frame is consumed three times downstream (tokenizer
        // corpus, per-doc token counts, packing base) — pin it so the whole
        // upstream chain (LSH pairs, components, shingles, char-LM) runs
        // ONCE, not once per consumer
        val fin = graft.Caching.pin(kept3.join(broadcast(rates), "source")
          .filter(Exprs.h60(concat(lit("mix:"), col("doc_id"))) % 1000000L < col("rate_ppm"))
          .select(col("doc_id"), col("lang"), col("text")))
        // stage 5: unigram-LM tokenizer trained on the final mix, Viterbi
        // encode of its word table (2 EM rounds + encode pass = q142)
        val pieces = graft.operators.UnigramLm.encodePieces(fin,
          maxWordLen = 12, maxPieceLen = 4, rounds = 2)
        val npw = pieces.groupBy(col("word")).agg(count(lit(1)).as("np"))
        val nd = graft.operators.TextPipeline.tokenize(fin)
          .join(broadcast(npw), col("term") === col("word"))
          .groupBy(col("doc_id")).agg(sum(col("np")).as("n"))
        // stage 6: pack into 256-token bins over (lang, shard) windows
        val pd = fin.select(col("doc_id"), col("lang"),
            floor(col("doc_id") / 64).cast("long").as("shard"))
          .join(nd, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("shard"),
            coalesce(col("n"), lit(0L)).cast("long").as("n_tok"))
        val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pd.withColumn("bin",
            floor((sum(col("n_tok")).over(w) - col("n_tok")) / 256.0).cast("long"))
          .groupBy(col("lang"), col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      },
      oracle = Some(s"""WITH RECURSIVE $shCteBody,
        $minhashPairsCtes,
        und2 AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                 UNION SELECT doc_b, doc_a FROM mh_pairs),
        reach2(a, b) AS (
          SELECT a, b FROM und2
          UNION
          SELECT r.a, u.b FROM reach2 r JOIN und2 u ON r.b = u.a),
        mclusters AS (
          SELECT d.doc_id,
            CAST(CASE WHEN m.mn IS NULL OR d.doc_id < m.mn THEN d.doc_id ELSE m.mn END AS BIGINT)
              AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT a AS doc_id, MIN(b) AS mn FROM reach2 GROUP BY 1) m USING (doc_id)),
        dd AS (SELECT doc_id FROM mclusters WHERE doc_id = cluster_id),
        bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        cshared AS (
          SELECT s.doc_id, COUNT(*) AS n_shared FROM sh s JOIN bsh USING (shingle)
          WHERE s.doc_id % 97 <> 0 GROUP BY 1),
        contam AS (
          SELECT c.doc_id FROM cshared c JOIN sizes z USING (doc_id)
          WHERE round(CAST(n_shared AS DOUBLE) / CAST(sz AS DOUBLE), 6) >= 0.5),
        ${Text.toksCte},
        cl AS (
          SELECT doc_id, lang,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM documents),
        cl2 AS (SELECT * FROM cl WHERE length(clean) >= 3),
        tris AS (
          SELECT doc_id, lang, substr(clean, CAST(i AS INTEGER), 3) AS tg
          FROM cl2, unnest(generate_series(1, length(clean) - 2)) AS g(i)),
        clmodel AS (SELECT lang, tg, COUNT(*) AS cnt FROM tris GROUP BY 1, 2),
        cltot AS (SELECT lang, SUM(cnt) AS total, COUNT(*) AS d FROM clmodel GROUP BY 1),
        clprobs AS (
          SELECT m.lang, m.tg,
            round(ln((cnt + 1) / CAST(total + d AS DOUBLE)), 10) AS logp
          FROM clmodel m JOIN cltot USING (lang)),
        clsc AS (
          SELECT t.doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) AS s
          FROM tris t JOIN clprobs p ON p.lang = t.lang AND p.tg = t.tg
          GROUP BY 1),
        qual AS (
          SELECT doc_id FROM clsc WHERE round(exp(-s/n_tri), 6) <= 213.0),
        k3 AS (
          SELECT d.doc_id, d.lang, d.source FROM documents d
          JOIN dd USING (doc_id)
          JOIN qual USING (doc_id)
          LEFT JOIN contam c USING (doc_id)
          WHERE d.doc_id % 97 <> 0 AND c.doc_id IS NULL),
        agg3 AS (SELECT source, COUNT(*) AS n_docs FROM k3 GROUP BY 1),
        tot3 AS (SELECT MIN(n_docs) AS min_docs FROM agg3),
        rates3 AS (SELECT source,
            CAST(least(1000000, (1000000 * min_docs) // n_docs) AS BIGINT) AS rate_ppm
          FROM agg3, tot3),
        final AS (
          SELECT k.doc_id, k.lang FROM k3 k JOIN rates3 r USING (source)
          WHERE CAST('0x' || substr(md5('mix:' || k.doc_id), 1, 15) AS BIGINT) % 1000000
                < r.rate_ppm),
        utoks AS (SELECT t.doc_id, t.term FROM toks t JOIN final f USING (doc_id)),
        ${Text.unigramBody(rounds = 3, lastRoundSegOnly = true, tokSource = "utoks")},
        npw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np FROM seg3 GROUP BY 1),
        nd AS (SELECT u.doc_id, SUM(np) AS n FROM utoks u
               JOIN npw ON u.term = npw.word GROUP BY 1),
        pd AS (
          SELECT f.doc_id, f.lang, CAST(floor(f.doc_id / 64) AS BIGINT) AS shard,
            CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_tok
          FROM final f LEFT JOIN nd ON f.doc_id = nd.doc_id),
        cum AS (
          SELECT lang, shard, doc_id, n_tok,
            SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          FROM pd)
        SELECT lang, shard, CAST(floor((c - n_tok) / 256.0) AS BIGINT) AS bin,
          COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM cum GROUP BY 1, 2, 3"""),
      bench = true),

    // Hashed-feature quality classifier — the fastText shape (Joulin et
    // al. 2016, "Bag of Tricks for Efficient Text Classification"), the
    // classifier family CCNet/RefinedWeb actually deploy for quality/
    // domain gating: unigrams+bigrams hashed into B buckets (the hashing
    // trick — DSIR's exact feature space, q135's ladder), per-doc
    // occurrence counts normalized to frequencies, and a logistic head
    // trained by the q96 full-batch GD. Where q96/q97's four ENGINEERED
    // features top out at a 0.43-0.45 score band, the hashed features let
    // the model key on actual vocabulary. Shape at scale: the feature
    // frame is (docs · B)-sparse with dense (B+1)-vectors built ROW-LOCALLY
    // from a per-doc count map; training shuffles n·(B+1) gradient terms
    // per round, map-side combined onto B+1 cells; scoring is one
    // broadcast. The ENTIRE chain — hashing, normalization, every GD
    // round, the sigmoid — replays as CTEs. Output: per-doc score,
    // prediction, truth, correctness (an evaluated classifier, q160's
    // stance).
    QueryDef("q176_hashed_lr_filter",
      (s, dir) => {
        // pinned: the hashed-feature pipeline (tokenize → hash → two grouped
        // passes → dense assembly) previously re-ran for the trainer, the
        // scorer AND the label join — three consumers, one materialization
        val feats = graft.Caching.pin(hashedLrFeats(s, dir))
        val wts = graft.ml.Logistic.train(feats, lr = 0.1, iterations = 16)
        scoredLrReport(feats, wts)
      },
      oracle = Some(s"""
        WITH $hashedFeatCtes,
        ${lrRoundCtes("feat", 257, "0.1", 16)},
        waf AS (SELECT list(w ORDER BY pos) AS wv FROM w16)
        $lrScoreSelect"""),
      bench = true),

    // Sampled-training variant of q176 — the PRODUCTION fastText posture
    // (CCNet/RefinedWeb train the quality gate on a small sample, then
    // score everything): the 16-round GD runs only on the docs whose
    // deterministic hash coin (the q77 sampler, salt "lrs:") lands under
    // 250/1000, and the trained head scores the FULL corpus. Same feature
    // pipeline, same rounding ladder, same output contract as q176 — the
    // difference is purely which rows enter the gradient. Shape at scale:
    // the per-round shuffle shrinks from n·(B+1) to (n/4)·(B+1) here and
    // to (sample/corpus)·n·(B+1) in production where the sample is fixed-
    // size and the corpus is 100 TB — training cost becomes corpus-
    // independent while scoring stays one broadcast pass. Contract: the
    // sample rate (250000 ppm) is a plan-time constant; the coin is
    // md5-portable so the training set is reproducible across engines,
    // runs, and corpus growth (previously sampled docs stay sampled).
    QueryDef("q195_sampled_lr_filter",
      (s, dir) => {
        // pinned like q176 — trainer sample, scorer and label join all read
        // the one materialized feature frame
        val feats = graft.Caching.pin(hashedLrFeats(s, dir))
        val train = feats.filter(
          Exprs.h60(concat(lit("lrs:"), col("id"))) % 1000L < 250L)
        val wts = graft.ml.Logistic.train(train, lr = 0.1, iterations = 16)
        scoredLrReport(feats, wts)
      },
      oracle = Some(s"""
        WITH $hashedFeatCtes,
        feat_tr AS MATERIALIZED (
          SELECT * FROM feat
          WHERE CAST('0x' || substr(md5('lrs:' || id), 1, 15) AS BIGINT) % 1000 < 250),
        ${lrRoundCtes("feat_tr", 257, "0.1", 16)},
        waf AS (SELECT list(w ORDER BY pos) AS wv FROM w16)
        $lrScoreSelect"""),
      bench = true),

    // Image perceptual-hash dedup — the multimodal twin of SimHash text
    // dedup (q35): every document gets a deterministic 16×16 synthetic
    // photo (groups of 5 docs share a base image; members 1–4 carry a
    // 3-pixel perturbation — the fixture, generated in-plan), the plan
    // encodes it through the REAL byte-level BMP writer, decodes it back
    // through the REAL BMP parser, and fingerprints the raster with the
    // 64-bit average hash (aHash: 8×8 block-luma vs image mean, exact
    // integer cross-multiplication — imagehash's classic algorithm).
    // Near-duplicates surface by 4×16-bit LSH banding + Hamming ≤ 10 on
    // band-colliding pairs only — never all-pairs. The oracle replays the
    // PIXEL arithmetic (formula → luma → blocks → bits → bands → Hamming)
    // but NOT the codec: any drift in encodeBmp, rasterBmp, or the hash
    // kernel flips the committed hash, so the byte-level round trip is
    // oracle-gated, not just spec-pinned. Shape at scale: hash is a
    // per-row scan product (decode batched per partition), candidates come
    // from 4 equi joins on (band, value), Hamming runs on collisions only;
    // production callers bound degenerate buckets exactly like q34's
    // maxBucketSize cap.
    QueryDef("q177_image_ahash_dedup",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val media = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
          val g = id / 5; val m = id % 5
          val rgb: Int => Int = { i =>
            val p = i / 3; val c = i % 3; val x = p % 16; val y = p / 16
            val v0 = ((g * 37 + x * 13 + y * 29 + c * 71 +
              g * (x + 2 * y + c)) % 256).toInt
            if (m > 0 && (x + 16 * y) % 97 == m) (v0 + 128) % 256 else v0
          }
          Multimodal.MediaRecord(id, "bmp",
            Multimodal.encodeBmp(16, 16, rgb), Map.empty)
        }
        val hv = Multimodal.imageAHash(media)
        val bands = hv.select(col("media_id"), explode(array(
            struct(lit(0L).as("t"), col("b0").as("bv")),
            struct(lit(1L).as("t"), col("b1").as("bv")),
            struct(lit(2L).as("t"), col("b2").as("bv")),
            struct(lit(3L).as("t"), col("b3").as("bv")))).as("b"))
          .select(col("media_id"), col("b.t").as("t"), col("b.bv").as("bv"))
        val cand = bands.as("ba").join(bands.as("bb"), Seq("t", "bv"))
          .filter(col("ba.media_id") < col("bb.media_id"))
          .select(col("ba.media_id").as("doc_a"), col("bb.media_id").as("doc_b"))
          .distinct()
        cand
          .join(hv.select(col("media_id").as("doc_a"),
            col("h_hi").as("hi_a"), col("h_lo").as("lo_a")), "doc_a")
          .join(hv.select(col("media_id").as("doc_b"),
            col("h_hi").as("hi_b"), col("h_lo").as("lo_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
              .cast(org.apache.spark.sql.types.LongType).as("hamming"))
          .filter(col("hamming") <= 10)
      },
      oracle = Some("""
        WITH ids AS (SELECT doc_id AS id, doc_id // 5 AS g, doc_id % 5 AS m FROM documents),
        px AS (
          SELECT id, g, m, p % 16 AS x, p // 16 AS y
          FROM ids, UNNEST(range(256)) AS tp(p)),
        lum AS (
          SELECT id, (x // 2) + 8 * (y // 2) AS bp,
            (299 * v0 + 587 * v1 + 114 * v2) // 1000 AS l
          FROM (
            SELECT id, x, y,
              MAX(CASE WHEN c = 0 THEN v END) AS v0,
              MAX(CASE WHEN c = 1 THEN v END) AS v1,
              MAX(CASE WHEN c = 2 THEN v END) AS v2
            FROM (
              SELECT id, x, y, c,
                CASE WHEN m > 0 AND (x + 16 * y) % 97 = m
                  THEN ((g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 + 128) % 256
                  ELSE (g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 END AS v
              FROM px, UNNEST([0, 1, 2]) AS tc(c)) ch
            GROUP BY id, x, y) pix),
        blocks AS (SELECT id, bp, CAST(SUM(l) AS BIGINT) AS bsum FROM lum GROUP BY 1, 2),
        tot AS (SELECT id, CAST(SUM(l) AS BIGINT) AS tsum FROM lum GROUP BY 1),
        bits AS (
          SELECT b.id, b.bp, CASE WHEN b.bsum * 64 > t.tsum THEN 1 ELSE 0 END AS bit
          FROM blocks b JOIN tot t ON b.id = t.id),
        halves AS (
          SELECT id,
            CAST(SUM(CASE WHEN bp < 32 THEN bit * (1::BIGINT << bp) ELSE 0 END) AS BIGINT) AS h_lo,
            CAST(SUM(CASE WHEN bp >= 32 THEN bit * (1::BIGINT << (bp - 32)) ELSE 0 END) AS BIGINT) AS h_hi
          FROM bits GROUP BY 1),
        bands AS (
          SELECT id, t, CASE t WHEN 0 THEN h_lo % 65536 WHEN 1 THEN h_lo // 65536
            WHEN 2 THEN h_hi % 65536 ELSE h_hi // 65536 END AS bv
          FROM halves, UNNEST([0, 1, 2, 3]) AS tt(t)),
        cand AS (
          SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
          FROM bands a JOIN bands b ON a.t = b.t AND a.bv = b.bv AND a.id < b.id)
        SELECT c.doc_a, c.doc_b,
          CAST(bit_count(xor(ha.h_hi, hb.h_hi)) + bit_count(xor(ha.h_lo, hb.h_lo)) AS BIGINT) AS hamming
        FROM cand c JOIN halves ha ON ha.id = c.doc_a JOIN halves hb ON hb.id = c.doc_b
        WHERE bit_count(xor(ha.h_hi, hb.h_hi)) + bit_count(xor(ha.h_lo, hb.h_lo)) <= 10"""),
      bench = true),

    // Hard-negative mining for contrastive encoder training (the SBERT/
    // DPR batch-mining step): for every anchor in the "minibatch" (every
    // 4th vector), the 3 most-cosine-similar vectors with a DIFFERENT
    // label — the near-misses that carry training signal where random
    // negatives carry none. Runs through the bounded heap (TopK.ranked)
    // (at most k rows per anchor reach the shuffle — the q62 scale shape),
    // with the label-mismatch predicate applied before scoring so
    // same-label pairs never enter the heap. At 100 TB the anchor set is
    // the minibatch (corpus-independent) and the corpus side routes
    // through IVF/PQ (q50/q164); this exact form is the baseline those
    // approximations are measured against. The fixed-minibatch claim is
    // not a promise: q209_triplet_mining_sampled IS this kernel with the
    // 64-anchor panel, and its ×10 probe measured 1.4× (near-linear) in
    // the round-11 bench — the scale story for this row is that measured
    // twin, not this full-anchor-set form.
    QueryDef("q179_hard_negatives",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.hardNegativeTopK(e.filter(col("vec_id") % 4 === 0), e, k = 3)
      },
      oracle = Some("""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT * FROM emb WHERE vec_id % 4 = 0),
        sims AS (
          SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS n_id,
            round(CASE WHEN sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) = 0
              THEN 0.0
              ELSE list_dot_product(q.e, c.e) /
                   (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) END, 6) AS sim
          FROM q CROSS JOIN emb c WHERE q.label <> c.label)
        SELECT q_id, q_label, n_id, sim, rk FROM (
          SELECT q_id, q_label, n_id, sim,
            CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
          FROM sims) s
        WHERE rk <= 3"""),
      bench = true),

    // WordPiece-style tokenizer trainer (Schuster & Nakajima, ICASSP
    // 2012 — the BERT tokenizer's objective, as the HuggingFace
    // `tokenizers` WordPiece trainer implements it), completing the
    // trainer trio: BPE merges by raw pair count (q79), unigram-LM prunes
    // by EM likelihood (q141/q145), WordPiece merges by the likelihood
    // ratio count(l,r)/(count(l)·count(r)) — a rare pair that always
    // co-occurs beats a frequent pair of independently-frequent symbols.
    // Same word-vocabulary-sized state and 1-row-per-round argmax as BPE;
    // each round adds ONE vocabulary-frame shuffle (the symbol census).
    // The score is a single double division of exact integers rounded to
    // 12 dp, so every round's argmax — the whole trajectory — replays
    // bit-identically as CTEs.
    QueryDef("q180_wordpiece_train",
      (s, dir) => {
        import s.implicits._
        Bpe.trainWordPiece(docs(s, dir), col("text"), BpeMergeRounds)
          .toDF("rank", "l", "r", "score")
      },
      oracle = Some(wordPieceSql(BpeMergeRounds) + s"""
        SELECT CAST(rank AS BIGINT) AS rank, l, r, score FROM merges"""),
      bench = true),

    // Training-order manifest: curriculum phases + a deterministic global
    // shuffle — the artifact that tells the trainer WHAT to read WHEN
    // (curriculum learning, Bengio et al. ICML 2009; every production run
    // also needs a reproducible permutation, not an RNG). Phase = FIXED
    // difficulty bands on n_chars (the q174 fixed-threshold stance — no
    // global quantile pass); within a phase, docs scatter to 16 shards by
    // the portable md5-60 coin and order by (hash, doc_id) — a
    // deterministic permutation both engines replay. The (phase, shard,
    // pos) triple is the manifest form real loaders consume (file +
    // offset). Shape at scale: one shuffle to (phase, shard) partitions
    // with a per-partition sort; the shard count is the parallelism knob
    // (thousands at 100 TB, so no partition outgrows a file), and no
    // global total order is ever materialized.
    QueryDef("q182_curriculum_order",
      (s, dir) => {
        val h = Exprs.h60(concat(lit("ord:"), col("doc_id")))
        val w = Window.partitionBy(col("phase"), col("shard"))
          .orderBy(col("hv").asc, col("doc_id").asc)
        docs(s, dir)
          .select(col("doc_id"),
            when(col("n_chars") < 200, 1L).when(col("n_chars") < 400, 2L)
              .otherwise(3L).as("phase"),
            (h % 16L).as("shard"), h.as("hv"))
          .withColumn("pos", row_number().over(w).cast(org.apache.spark.sql.types.LongType))
          .select(col("phase"), col("shard"), col("pos"), col("doc_id"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
            CASE WHEN n_chars < 200 THEN 1 WHEN n_chars < 400 THEN 2 ELSE 3 END AS phase,
            CAST('0x' || substr(md5('ord:' || doc_id), 1, 15) AS BIGINT) % 16 AS shard,
            CAST('0x' || substr(md5('ord:' || doc_id), 1, 15) AS BIGINT) AS hv
          FROM documents)
        SELECT CAST(phase AS BIGINT) AS phase, shard,
          CAST(row_number() OVER (PARTITION BY phase, shard
                                  ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS pos,
          doc_id
        FROM m"""),
      bench = true),

    // Shared-passage detection — the EXACT-SUBSTRING dedup signal (Lee et
    // al., ACL 2022 "Deduplicating Training Data Makes Language Models
    // Better") without the suffix array: where q76 counts which fixed
    // 8-grams are duplicated, this recovers the MAXIMAL shared runs — a
    // run of k consecutive shared 8-grams is a verbatim shared passage of
    // k+7 tokens, located by start offset in BOTH docs. Mechanism: the
    // df-capped inverted 8-gram index joins positions (doc_a, doc_b, pa,
    // pb); matches on one diagonal d = pa − pb are consecutive iff their
    // pa are — the classic gaps-and-islands grouping (island id = pa −
    // row_number per (pair, d)), so passages fall out of one bounded
    // window + one grouped min/count. Shape at scale: the only joins are
    // gram equi joins (hot grams df > 64 dropped — the q34/q76 cap
    // posture); windows partition by (pair, diagonal), bounded by shared
    // positions per pair, never corpus-sized.
    QueryDef("q183_shared_passages",
      (s, dir) => {
        import graft.functions.Exprs
        val lng = org.apache.spark.sql.types.LongType
        val sp = docs(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(col("doc_id"), posexplode(Exprs.shingles(col("toks"), 8)).as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1).cast(lng).as("p"), col("g"))
        val hot = sp.groupBy(col("g"))
          .agg(countDistinct(col("doc_id")).as("df")).filter(col("df") > 64)
        val cold = sp.join(hot.select(col("g")), Seq("g"), "left_anti")
        val pairs = cold.as("pa").join(cold.as("pb"), Seq("g"))
          .filter(col("pa.doc_id") < col("pb.doc_id"))
          .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"),
            col("pa.p").as("ppa"), col("pb.p").as("ppb"),
            (col("pa.p") - col("pb.p")).as("d"))
        val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("d"))
          .orderBy(col("ppa").asc)
        pairs
          .withColumn("isl", col("ppa") - row_number().over(w))
          .groupBy(col("doc_a"), col("doc_b"), col("d"), col("isl"))
          .agg(min(col("ppa")).as("start_a"), min(col("ppb")).as("start_b"),
            count(lit(1)).as("run_len"))
          .filter(col("run_len") >= 2)
          .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
            col("run_len"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        sp AS (
          SELECT doc_id, CAST(i AS BIGINT) AS p,
            array_to_string(tk[i:i+7], ' ') AS g
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM seq) u),
        hot AS (SELECT g FROM (
          SELECT g, COUNT(DISTINCT doc_id) AS df FROM sp GROUP BY 1) h WHERE df > 64),
        cold AS (SELECT * FROM sp ANTI JOIN hot USING (g)),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS ppa, b.p AS ppb,
            a.p - b.p AS d
          FROM cold a JOIN cold b ON a.g = b.g AND a.doc_id < b.doc_id),
        isl AS (
          SELECT doc_a, doc_b, d, ppa, ppb,
            ppa - row_number() OVER (PARTITION BY doc_a, doc_b, d ORDER BY ppa ASC) AS isl
          FROM pairs)
        SELECT doc_a, doc_b, MIN(ppa) AS start_a, MIN(ppb) AS start_b,
          COUNT(*) AS run_len
        FROM isl GROUP BY doc_a, doc_b, d, isl
        HAVING COUNT(*) >= 2"""),
      bench = true),

    // Gopher-style quality RULE BUNDLE (Rae et al. 2021, Appendix A —
    // the rule-list form production filters actually ship, vs q40's
    // single blended score): per-doc pass/fail flags for word-count
    // bounds, mean-word-length bounds, top-term share, and hapax share,
    // plus the conjunctive keep bit. Every threshold evaluates by integer
    // CROSS-MULTIPLICATION (mean length ≥ 4 ⟺ Σlen ≥ 4n; top share
    // ≤ 0.15 ⟺ 100·top ≤ 15n; hapax share ≥ 0.2 ⟺ 5·hapax ≥ distinct) —
    // no division, no float, so the gate replays exactly and a 100 TB run
    // can evaluate it in one scan + one (doc, term) count. The per-rule
    // flags are the point: a data card reports WHICH rule rejected how
    // much, not just how much was rejected.
    QueryDef("q184_quality_rules",
      (s, dir) => {
        import graft.functions.Exprs
        val pc = docs(s, dir)
          .select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        pc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("ndis"),
            max(col("c")).as("topc"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(length(col("term")) * col("c")).as("sumlen"))
          .select(col("doc_id"),
            (col("n") >= 30).as("r_len"),
            (col("sumlen") >= lit(4L) * col("n") &&
              col("sumlen") <= lit(5L) * col("n")).as("r_mwl"),
            (lit(100L) * col("topc") <= lit(15L) * col("n")).as("r_top"),
            (lit(5L) * col("hapax") >= col("ndis")).as("r_hapax"))
          .withColumn("keep",
            col("r_len") && col("r_mwl") && col("r_top") && col("r_hapax"))
      },
      oracle = Some(s"""
        WITH ${graft.queries.Text.toksCte},
        pc AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS ndis,
            CAST(MAX(c) AS BIGINT) AS topc,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
            CAST(SUM(LEN(term) * c) AS BIGINT) AS sumlen
          FROM pc GROUP BY 1),
        flags AS (
          SELECT doc_id,
            n >= 30 AS r_len,
            sumlen >= 4 * n AND sumlen <= 5 * n AS r_mwl,
            100 * topc <= 15 * n AS r_top,
            5 * hapax >= ndis AS r_hapax
          FROM st)
        SELECT doc_id, r_len, r_mwl, r_top, r_hapax,
          r_len AND r_mwl AND r_top AND r_hapax AS keep
        FROM flags"""),
      bench = true),

    // Cross-source leakage matrix — the data-card companion to
    // decontamination (q73): WHICH sources share verbatim content with
    // which, as a |sources|²-bounded overlap matrix over the trigram
    // shingle space (shared shingles + exact integer-millionths Jaccard).
    // A pretraining pipeline reads this to find mirror/scrape relations
    // between feeds before mixing. Shape at scale: the distinct
    // (source, shingle) projection collapses corpus volume to vocabulary
    // volume map-side; the self-join is shingle-keyed (df-capped at 64 —
    // a shingle in MOST sources separates nothing, the q34 posture);
    // output is |sources|² rows. The Jaccard is integer division
    // (1e6·common) DIV union — no float anywhere.
    QueryDef("q185_source_leakage",
      (s, dir) => {
        import graft.functions.Exprs
        val sh = docs(s, dir)
          .select(col("source"), Exprs.tokens(col("text")).as("toks"))
          .select(col("source"), explode(Exprs.shingles(col("toks"), 3)).as("sh"))
          .distinct()
        val hot = sh.groupBy(col("sh"))
          .agg(count(lit(1)).as("df")).filter(col("df") > 64)
        val cold = sh.join(hot.select(col("sh")), Seq("sh"), "left_anti")
        val sizes = cold.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val common = cold.as("x").join(cold.as("y"), Seq("sh"))
          .filter(col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), "src_a")
          .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), "src_b")
          .select(col("src_a"), col("src_b"), col("common"), col("sz_a"), col("sz_b"),
            expr("(1000000 * common) div (sz_a + sz_b - common)").as("jac_e6"))
      },
      oracle = Some(s"""
        WITH sq AS (
          SELECT doc_id, source,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
          FROM (SELECT source, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM sq) g),
        hot AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1) h WHERE df > 64),
        cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM cold GROUP BY 1),
        cm AS (
          SELECT x.source AS src_a, y.source AS src_b, CAST(COUNT(*) AS BIGINT) AS common
          FROM cold x JOIN cold y ON x.sh = y.sh AND x.source < y.source
          GROUP BY 1, 2)
        SELECT cm.src_a, cm.src_b, cm.common, sa.sz AS sz_a, sb.sz AS sz_b,
          (1000000 * cm.common) // (sa.sz + sb.sz - cm.common) AS jac_e6
        FROM cm JOIN sizes sa ON sa.source = cm.src_a
                JOIN sizes sb ON sb.source = cm.src_b"""),
      bench = true),

    // Content-defined chunking (CDC) dedup — the storage-dedup primitive
    // (Muthitacharoen et al., SOSP 2001 LBFS) applied to the token
    // stream: chunk boundaries fall AFTER any token whose portable hash
    // ≡ 0 (mod 8), so boundaries are a function of CONTENT, not offsets —
    // an insertion reshapes only the chunk it lands in, where q102's
    // fixed 8-token windows shift every downstream boundary. Per doc:
    // chunk count, corpus-duplicated chunk count (fingerprint df ≥ 2),
    // and the duplicated-token mass — the per-doc "how much of this doc
    // is boilerplate" number robust to splicing. Shape at scale: one
    // doc-partitioned prefix-sum window (doc-length-bounded), one
    // (doc, chunk) grouped fingerprint, one fingerprint census —
    // shuffles carry chunk fingerprints, never token streams.
    QueryDef("q186_cdc_chunks",
      (s, dir) => {
        import graft.functions.Exprs
        val lng = org.apache.spark.sql.types.LongType
        val tk = docs(s, dir)
          .select(col("doc_id"), posexplode(Exprs.tokens(col("text"))).as(Seq("p0", "term")))
          .select(col("doc_id"), (col("p0") + 1).cast(lng).as("p"), col("term"),
            when(Exprs.h60(concat(lit("cdc:"), col("term"))) % 8 === 0, 1L)
              .otherwise(0L).as("brk"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("p").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val fp = tk
          .withColumn("chunk", coalesce(sum(col("brk")).over(w), lit(0L)))
          .groupBy(col("doc_id"), col("chunk"))
          .agg(md5(array_join(transform(
              array_sort(collect_list(struct(col("p"), col("term")))),
              x => x.getField("term")), " ")).as("f"),
            count(lit(1)).as("ntok"))
        val df = fp.groupBy(col("f")).agg(countDistinct(col("doc_id")).as("d"))
        fp.join(df, "f")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("d") >= 2, 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("d") >= 2, col("ntok")).otherwise(0L)).as("dup_tokens"),
            sum(col("ntok")).as("tot_tokens"))
      },
      oracle = Some("""
        WITH sq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        tk AS (
          SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS term,
            CASE WHEN CAST('0x' || substr(md5('cdc:' || tk[i]), 1, 15) AS BIGINT) % 8 = 0
                 THEN 1 ELSE 0 END AS brk
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM sq) u),
        ch AS (
          SELECT doc_id, p, term,
            COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
          FROM tk),
        fp AS (
          SELECT doc_id, chunk, md5(string_agg(term, ' ' ORDER BY p)) AS f,
            CAST(COUNT(*) AS BIGINT) AS ntok
          FROM ch GROUP BY 1, 2),
        dfc AS (SELECT f, COUNT(DISTINCT doc_id) AS d FROM fp GROUP BY 1)
        SELECT doc_id, COUNT(*) AS n_chunks,
          CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          CAST(SUM(CASE WHEN d >= 2 THEN ntok ELSE 0 END) AS BIGINT) AS dup_tokens,
          CAST(SUM(ntok) AS BIGINT) AS tot_tokens
        FROM fp JOIN dfc USING (f) GROUP BY 1"""),
      bench = true),

    // Asymmetric CONTAINMENT pairs — the signal Jaccard structurally
    // misses (Broder 1997 distinguishes resemblance from containment): a
    // short doc pasted verbatim inside a long one scores near-zero
    // Jaccard (union is large) but containment |A∩B|/|A| ≈ 1. Same
    // df-capped trigram-shingle equi join as q33, but thresholded on
    // max(containment_a, containment_b) ≥ 0.5 with BOTH directions
    // reported as exact integer millionths — (1e6·common) DIV |side| —
    // so quote-heavy and template relations surface with their
    // directionality. No float; no all-pairs; the q34 cap posture.
    QueryDef("q187_containment_pairs",
      (s, dir) => {
        import graft.functions.Exprs
        val sh = docs(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(array_distinct(
            Exprs.shingles(col("toks"), 3))).as("sh"))
        val hot = sh.groupBy(col("sh"))
          .agg(count(lit(1)).as("df")).filter(col("df") > 64)
        val cold = sh.join(hot.select(col("sh")), Seq("sh"), "left_anti")
        val sizes = cold.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        cold.as("x").join(cold.as("y"), Seq("sh"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("common"), col("sz_a"), col("sz_b"),
            expr("(1000000 * common) div sz_a").as("cont_a_e6"),
            expr("(1000000 * common) div sz_b").as("cont_b_e6"))
          .filter(greatest(col("cont_a_e6"), col("cont_b_e6")) >= 500000L)
      },
      oracle = Some("""
        WITH sq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM sq) g),
        hot AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1) h WHERE df > 64),
        cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cold GROUP BY 1),
        cm AS (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
          FROM cold x JOIN cold y ON x.sh = y.sh AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT * FROM (
          SELECT cm.doc_a, cm.doc_b, cm.common, sa.sz AS sz_a, sb.sz AS sz_b,
            (1000000 * cm.common) // sa.sz AS cont_a_e6,
            (1000000 * cm.common) // sb.sz AS cont_b_e6
          FROM cm JOIN sizes sa ON sa.doc_id = cm.doc_a
                  JOIN sizes sb ON sb.doc_id = cm.doc_b) t
        WHERE greatest(cont_a_e6, cont_b_e6) >= 500000"""),
      bench = true),

    // Tokenizer fertility evaluation — the "which tokenizer do we ship"
    // data card: all THREE trained subword tokenizers (BPE q79, WordPiece
    // q180, unigram-LM q142) plus the whitespace baseline, each scored on
    // the same corpus for vocabulary size, total corpus tokens, fertility
    // (tokens per word, 1e-6 fixed-point) and compression (chars per
    // token) — the numbers that set context-window economics. Two-path
    // verification at full width: Spark derives every tokenizer's stats
    // by ENCODING the word table through the trained artifacts (merge
    // tables / Viterbi model); the oracle reads the final TRAINING states
    // of three composed CTE chains (bpeBody + wordPieceBody prefix-renamed
    // into one WITH, unigramBody on a re-termed token source) — equal
    // because encoding reproduces the training segmentation (the q80
    // principle, now ×3 in one query). All ratios are integer DIV — no
    // float. Unigram covers words of length ≤ 12 (its model's declared
    // domain) — its n_occ column says so rather than hiding it.
    QueryDef("q188_tokenizer_eval",
      (s, dir) => {
        import graft.functions.Exprs
        val words = graft.Caching.pin(docs(s, dir)
          .select(explode(Exprs.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
        val bpeM = Bpe.train(docs(s, dir), col("text"), BpeMergeRounds)
        val wpM = Bpe.trainWordPiece(docs(s, dir), col("text"), BpeMergeRounds)
          .map(m => Bpe.Merge(m.rank, m.l, m.r))
        def stats(name: String, frame: org.apache.spark.sql.DataFrame) = {
          // frame: (word, cnt, ps: array<string>)
          val a = frame.select(col("cnt"), explode(col("ps")).as("piece"))
            .agg(sum(col("cnt")).as("corpus_tokens"),
              countDistinct(col("piece")).as("vocab_pieces"))
          val b = frame.agg(sum(col("cnt")).as("n_occ"),
            sum(col("cnt") * length(col("word"))).as("n_chars"))
          a.crossJoin(b).select(lit(name).as("tokenizer"), col("n_occ"),
            col("corpus_tokens"), col("vocab_pieces"),
            expr("(1000000 * corpus_tokens) div n_occ").as("tokens_per_word_e6"),
            expr("(1000000 * n_chars) div corpus_tokens").as("chars_per_token_e6"))
        }
        val ws = stats("whitespace",
          words.select(col("word"), col("cnt"), array(col("word")).as("ps")))
        val bp = stats("bpe", words.select(col("word"), col("cnt"),
          Bpe.encode(array(col("word")), bpeM).as("ps")))
        val wp = stats("wordpiece", words.select(col("word"), col("cnt"),
          Bpe.encode(array(col("word")), wpM).as("ps")))
        val un = stats("unigram",
          graft.operators.UnigramLm.segment(docs(s, dir), maxWordLen = 12,
              maxPieceLen = 4, rounds = 2)
            .select(col("word"), col("cnt"), split(col("seg"), " ").as("ps")))
        ws.unionByName(bp).unionByName(wp).unionByName(un)
      },
      oracle = Some(s"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, t AS word FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
              t -> t <> '')) AS t FROM documents)),
        uterm AS (SELECT doc_id, word AS term FROM toks),
        ${bpeBody(BpeMergeRounds, "bp")},
        ${wordPieceBody(BpeMergeRounds, "wp")},
        ${graft.queries.Text.unigramBody(rounds = 3, lastRoundSegOnly = true,
          tokSource = "uterm")},
        wsw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        wss AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n_occ, CAST(SUM(cnt) AS BIGINT) AS corpus_tokens,
            CAST(COUNT(*) AS BIGINT) AS vocab_pieces,
            CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars
          FROM wsw),
        bps AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n_occ,
            CAST(SUM(cnt * len(syms)) AS BIGINT) AS corpus_tokens,
            (SELECT COUNT(DISTINCT s) FROM (SELECT unnest(syms) AS s FROM bpr$BpeMergeRounds)) AS vocab_pieces,
            CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars
          FROM bpr$BpeMergeRounds),
        wps AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n_occ,
            CAST(SUM(cnt * len(syms)) AS BIGINT) AS corpus_tokens,
            (SELECT COUNT(DISTINCT s) FROM (SELECT unnest(syms) AS s FROM wpr$BpeMergeRounds)) AS vocab_pieces,
            CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars
          FROM wpr$BpeMergeRounds),
        uns AS (
          SELECT CAST(SUM(w.cnt) AS BIGINT) AS n_occ,
            CAST(SUM(w.cnt * np.n_pieces) AS BIGINT) AS corpus_tokens,
            (SELECT COUNT(DISTINCT piece) FROM seg3) AS vocab_pieces,
            CAST(SUM(w.cnt * length(w.word)) AS BIGINT) AS n_chars
          FROM words w JOIN (SELECT word, COUNT(*) AS n_pieces FROM seg3 GROUP BY 1) np
            USING (word)),
        allr AS (
          SELECT 'whitespace' AS tokenizer, * FROM wss
          UNION ALL SELECT 'bpe', * FROM bps
          UNION ALL SELECT 'wordpiece', * FROM wps
          UNION ALL SELECT 'unigram', * FROM uns)
        SELECT tokenizer, n_occ, corpus_tokens, CAST(vocab_pieces AS BIGINT) AS vocab_pieces,
          (1000000 * corpus_tokens) // n_occ AS tokens_per_word_e6,
          (1000000 * n_chars) // corpus_tokens AS chars_per_token_e6
        FROM allr"""),
      bench = true),

    // Incremental image-index probing — the q88 asymmetric-ingest posture
    // on the q177 aHash family: images with doc_id % 10 = 7 are "today's
    // batch", the rest the EXISTING index. Only band keys carrying a
    // batch member generate candidates (batch×index and batch×batch;
    // index×index is never re-paired — the whole point of an incremental
    // posture), then the Hamming ≤ 10 gate and a pair_type label. This is
    // the batch analogue of StreamingImageDedup's per-arrival emit, and
    // the oracle replays the SAME banding with the candidate join
    // restricted to batch-probing rows, so the asymmetry itself is what
    // gets hash-checked.
    QueryDef("q189_incremental_image_dedup",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val media = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
          val g = id / 5; val m = id % 5
          val rgb: Int => Int = { i =>
            val p = i / 3; val c = i % 3; val x = p % 16; val y = p / 16
            val v0 = ((g * 37 + x * 13 + y * 29 + c * 71 +
              g * (x + 2 * y + c)) % 256).toInt
            if (m > 0 && (x + 16 * y) % 97 == m) (v0 + 128) % 256 else v0
          }
          Multimodal.MediaRecord(id, "bmp",
            Multimodal.encodeBmp(16, 16, rgb), Map.empty)
        }
        val hv = Multimodal.imageAHash(media)
        val bands = hv.select(col("media_id"), explode(array(
            struct(lit(0L).as("t"), col("b0").as("bv")),
            struct(lit(1L).as("t"), col("b1").as("bv")),
            struct(lit(2L).as("t"), col("b2").as("bv")),
            struct(lit(3L).as("t"), col("b3").as("bv")))).as("b"))
          .select(col("media_id"), col("b.t").as("t"), col("b.bv").as("bv"))
        val cand = bands.filter(col("media_id") % 10 === 7).as("ba")
          .join(bands.as("bb"), Seq("t", "bv"))
          .filter(col("ba.media_id") =!= col("bb.media_id"))
          .select(least(col("ba.media_id"), col("bb.media_id")).as("doc_a"),
            greatest(col("ba.media_id"), col("bb.media_id")).as("doc_b"))
          .distinct()
        cand
          .join(hv.select(col("media_id").as("doc_a"),
            col("h_hi").as("hi_a"), col("h_lo").as("lo_a")), "doc_a")
          .join(hv.select(col("media_id").as("doc_b"),
            col("h_hi").as("hi_b"), col("h_lo").as("lo_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
              .cast(org.apache.spark.sql.types.LongType).as("hamming"))
          .filter(col("hamming") <= 10)
          .withColumn("pair_type",
            when(col("doc_a") % 10 === 7 && col("doc_b") % 10 === 7,
              lit("batch_batch")).otherwise(lit("batch_index")))
      },
      oracle = Some("""
        WITH ids AS (SELECT doc_id AS id, doc_id // 5 AS g, doc_id % 5 AS m FROM documents),
        px AS (
          SELECT id, g, m, p % 16 AS x, p // 16 AS y
          FROM ids, UNNEST(range(256)) AS tp(p)),
        lum AS (
          SELECT id, (x // 2) + 8 * (y // 2) AS bp,
            (299 * v0 + 587 * v1 + 114 * v2) // 1000 AS l
          FROM (
            SELECT id, x, y,
              MAX(CASE WHEN c = 0 THEN v END) AS v0,
              MAX(CASE WHEN c = 1 THEN v END) AS v1,
              MAX(CASE WHEN c = 2 THEN v END) AS v2
            FROM (
              SELECT id, x, y, c,
                CASE WHEN m > 0 AND (x + 16 * y) % 97 = m
                  THEN ((g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 + 128) % 256
                  ELSE (g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 END AS v
              FROM px, UNNEST([0, 1, 2]) AS tc(c)) ch
            GROUP BY id, x, y) pix),
        blocks AS (SELECT id, bp, CAST(SUM(l) AS BIGINT) AS bsum FROM lum GROUP BY 1, 2),
        tot AS (SELECT id, CAST(SUM(l) AS BIGINT) AS tsum FROM lum GROUP BY 1),
        bits AS (
          SELECT b.id, b.bp, CASE WHEN b.bsum * 64 > t.tsum THEN 1 ELSE 0 END AS bit
          FROM blocks b JOIN tot t ON b.id = t.id),
        halves AS (
          SELECT id,
            CAST(SUM(CASE WHEN bp < 32 THEN bit * (1::BIGINT << bp) ELSE 0 END) AS BIGINT) AS h_lo,
            CAST(SUM(CASE WHEN bp >= 32 THEN bit * (1::BIGINT << (bp - 32)) ELSE 0 END) AS BIGINT) AS h_hi
          FROM bits GROUP BY 1),
        bands AS (
          SELECT id, t, CASE t WHEN 0 THEN h_lo % 65536 WHEN 1 THEN h_lo // 65536
            WHEN 2 THEN h_hi % 65536 ELSE h_hi // 65536 END AS bv
          FROM halves, UNNEST([0, 1, 2, 3]) AS tt(t)),
        cand AS (
          SELECT DISTINCT least(a.id, b.id) AS doc_a, greatest(a.id, b.id) AS doc_b
          FROM bands a JOIN bands b ON a.t = b.t AND a.bv = b.bv AND a.id <> b.id
          WHERE a.id % 10 = 7)
        SELECT c.doc_a, c.doc_b,
          CAST(bit_count(xor(ha.h_hi, hb.h_hi)) + bit_count(xor(ha.h_lo, hb.h_lo)) AS BIGINT) AS hamming,
          CASE WHEN c.doc_a % 10 = 7 AND c.doc_b % 10 = 7 THEN 'batch_batch'
               ELSE 'batch_index' END AS pair_type
        FROM cand c JOIN halves ha ON ha.id = c.doc_a JOIN halves hb ON hb.id = c.doc_b
        WHERE bit_count(xor(ha.h_hi, hb.h_hi)) + bit_count(xor(ha.h_lo, hb.h_lo)) <= 10""")),

    // The MULTIMODAL pipeline capstone — q175's composed-stages stance on
    // the image family, with TWO codec round trips oracle-gated: synth
    // photos → real BMP encode → real BMP decode → aHash band dedup
    // (q177) → keep-min purge (the q72 semantics on image pairs) → real
    // nearest-neighbor RESIZE to 4×4 (which re-encodes survivors as P6
    // PPM bytes) → real PPM decode → exact integer raster statistics
    // (channel + integer-luma sums). The oracle replays only the PIXEL
    // arithmetic (the resize is pure index arithmetic: output (x,y) reads
    // source (4x, 4y)), so BMP writer, BMP parser, PPM writer, and PPM
    // parser ALL sit inside the hash gate — a byte-level drift in any of
    // the four flips the committed hash. Shapes: the dedup is q177's band
    // join; the purge an anti join; resize + stats one narrow
    // per-partition map — nothing pixel-sized ever shuffles.
    QueryDef("q190_multimodal_pipeline",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val media = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
          val g = id / 5; val m = id % 5
          val rgb: Int => Int = { i =>
            val p = i / 3; val c = i % 3; val x = p % 16; val y = p / 16
            val v0 = ((g * 37 + x * 13 + y * 29 + c * 71 +
              g * (x + 2 * y + c)) % 256).toInt
            if (m > 0 && (x + 16 * y) % 97 == m) (v0 + 128) % 256 else v0
          }
          Multimodal.MediaRecord(id, "bmp",
            Multimodal.encodeBmp(16, 16, rgb), Map.empty)
        }
        val hv = Multimodal.imageAHash(media)
        val bands = hv.select(col("media_id"), explode(array(
            struct(lit(0L).as("t"), col("b0").as("bv")),
            struct(lit(1L).as("t"), col("b1").as("bv")),
            struct(lit(2L).as("t"), col("b2").as("bv")),
            struct(lit(3L).as("t"), col("b3").as("bv")))).as("b"))
          .select(col("media_id"), col("b.t").as("t"), col("b.bv").as("bv"))
        val purge = bands.as("ba").join(bands.as("bb"), Seq("t", "bv"))
          .filter(col("ba.media_id") < col("bb.media_id"))
          .select(col("ba.media_id").as("doc_a"), col("bb.media_id").as("doc_b"))
          .distinct()
          .join(hv.select(col("media_id").as("doc_a"),
            col("h_hi").as("hi_a"), col("h_lo").as("lo_a")), "doc_a")
          .join(hv.select(col("media_id").as("doc_b"),
            col("h_hi").as("hi_b"), col("h_lo").as("lo_b")), "doc_b")
          .filter(expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)") <= 10)
          .select(col("doc_b").as("media_id")).distinct()
        val survivors = media.toDF().join(purge, Seq("media_id"), "left_anti")
          .as[Multimodal.MediaRecord]
        val resized = Multimodal.resizeImages(survivors, 4, 4)
          .as[(Long, String, Array[Byte])]
          .map { case (id, _, img) => Multimodal.MediaRecord(id, "ppm", img, Map.empty) }
        Multimodal.rasterStats(resized)
          .select(col("media_id").as("doc_id"), col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("sum_luma"))
      },
      oracle = Some("""
        WITH ids AS (SELECT doc_id AS id, doc_id // 5 AS g, doc_id % 5 AS m FROM documents),
        px AS (
          SELECT id, g, m, p % 16 AS x, p // 16 AS y
          FROM ids, UNNEST(range(256)) AS tp(p)),
        lum AS (
          SELECT id, (x // 2) + 8 * (y // 2) AS bp,
            (299 * v0 + 587 * v1 + 114 * v2) // 1000 AS l
          FROM (
            SELECT id, x, y,
              MAX(CASE WHEN c = 0 THEN v END) AS v0,
              MAX(CASE WHEN c = 1 THEN v END) AS v1,
              MAX(CASE WHEN c = 2 THEN v END) AS v2
            FROM (
              SELECT id, x, y, c,
                CASE WHEN m > 0 AND (x + 16 * y) % 97 = m
                  THEN ((g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 + 128) % 256
                  ELSE (g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 END AS v
              FROM px, UNNEST([0, 1, 2]) AS tc(c)) ch
            GROUP BY id, x, y) pix),
        blocks AS (SELECT id, bp, CAST(SUM(l) AS BIGINT) AS bsum FROM lum GROUP BY 1, 2),
        tot AS (SELECT id, CAST(SUM(l) AS BIGINT) AS tsum FROM lum GROUP BY 1),
        bits AS (
          SELECT b.id, b.bp, CASE WHEN b.bsum * 64 > t.tsum THEN 1 ELSE 0 END AS bit
          FROM blocks b JOIN tot t ON b.id = t.id),
        halves AS (
          SELECT id,
            CAST(SUM(CASE WHEN bp < 32 THEN bit * (1::BIGINT << bp) ELSE 0 END) AS BIGINT) AS h_lo,
            CAST(SUM(CASE WHEN bp >= 32 THEN bit * (1::BIGINT << (bp - 32)) ELSE 0 END) AS BIGINT) AS h_hi
          FROM bits GROUP BY 1),
        bands AS (
          SELECT id, t, CASE t WHEN 0 THEN h_lo % 65536 WHEN 1 THEN h_lo // 65536
            WHEN 2 THEN h_hi % 65536 ELSE h_hi // 65536 END AS bv
          FROM halves, UNNEST([0, 1, 2, 3]) AS tt(t)),
        cand AS (
          SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
          FROM bands a JOIN bands b ON a.t = b.t AND a.bv = b.bv AND a.id < b.id),
        purge AS (
          SELECT DISTINCT c.doc_b AS id
          FROM cand c JOIN halves ha ON ha.id = c.doc_a JOIN halves hb ON hb.id = c.doc_b
          WHERE bit_count(xor(ha.h_hi, hb.h_hi)) + bit_count(xor(ha.h_lo, hb.h_lo)) <= 10),
        surv AS (SELECT id, g, m FROM ids ANTI JOIN purge USING (id)),
        rpx AS (
          SELECT id, g, m, 4 * (p % 4) AS x, 4 * (p // 4) AS y
          FROM surv, UNNEST(range(16)) AS tp(p)),
        rch AS (
          SELECT id, x, y,
            MAX(CASE WHEN c = 0 THEN v END) AS v0,
            MAX(CASE WHEN c = 1 THEN v END) AS v1,
            MAX(CASE WHEN c = 2 THEN v END) AS v2
          FROM (
            SELECT id, x, y, c,
              CASE WHEN m > 0 AND (x + 16 * y) % 97 = m
                THEN ((g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 + 128) % 256
                ELSE (g*37 + x*13 + y*29 + c*71 + g*(x + 2*y + c)) % 256 END AS v
            FROM rpx, UNNEST([0, 1, 2]) AS tc(c)) u
          GROUP BY id, x, y)
        SELECT id AS doc_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
          CAST(SUM(v0) AS BIGINT) AS sum_r, CAST(SUM(v1) AS BIGINT) AS sum_g,
          CAST(SUM(v2) AS BIGINT) AS sum_b,
          CAST(SUM((299 * v0 + 587 * v1 + 114 * v2) // 1000) AS BIGINT) AS sum_luma
        FROM rch GROUP BY 1"""),
      bench = true),

    // Per-source quality × dedup data card — the cross-family dashboard a
    // feed owner reads before mixing: for every source, document count,
    // q184-rule keep rate, exact-duplicate rate (md5 of the normalized
    // token stream, df ≥ 2), and token volume — rates as integer
    // millionths. One tokenize scan feeds all three signals (rule stats,
    // dup fingerprints, token counts); everything rolls up to a
    // |sources|-row frame map-side. The per-RULE failure attribution
    // lives in q184; this is the per-SOURCE rollup that tells you WHICH
    // feed to fix.
    QueryDef("q194_source_quality_card",
      (s, dir) => {
        import graft.functions.Exprs
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), Exprs.tokens(col("text")).as("toks"))
        val pc = base
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        val keep = pc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("ndis"),
            max(col("c")).as("topc"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(length(col("term")) * col("c")).as("sumlen"))
          .select(col("doc_id"), col("n"),
            (col("n") >= 30 &&
              col("sumlen") >= lit(4L) * col("n") &&
              col("sumlen") <= lit(5L) * col("n") &&
              lit(100L) * col("topc") <= lit(15L) * col("n") &&
              lit(5L) * col("hapax") >= col("ndis")).as("keep"))
        val fp = base.select(col("doc_id"), col("source"),
          md5(array_join(col("toks"), " ")).as("f"))
        val dfc = fp.groupBy(col("f")).agg(count(lit(1)).as("d"))
        fp.join(dfc, "f")
          .join(keep, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
            sum(when(col("d") >= 2, 1L).otherwise(0L)).as("n_dup"),
            sum(col("n")).as("n_tokens"))
          .select(col("source"), col("n_docs"), col("n_keep"), col("n_dup"),
            col("n_tokens"),
            expr("(1000000 * n_keep) div n_docs").as("keep_rate_e6"),
            expr("(1000000 * n_dup) div n_docs").as("dup_rate_e6"))
      },
      oracle = Some("""
        WITH sq AS (
          SELECT doc_id, source,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        pc AS (
          SELECT doc_id, term, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(tk) AS term FROM sq) u GROUP BY 1, 2),
        keepf AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
            (CAST(SUM(c) AS BIGINT) >= 30
             AND CAST(SUM(LEN(term) * c) AS BIGINT) >= 4 * CAST(SUM(c) AS BIGINT)
             AND CAST(SUM(LEN(term) * c) AS BIGINT) <= 5 * CAST(SUM(c) AS BIGINT)
             AND 100 * CAST(MAX(c) AS BIGINT) <= 15 * CAST(SUM(c) AS BIGINT)
             AND 5 * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) >= COUNT(*)) AS keep
          FROM pc GROUP BY 1),
        fp AS (SELECT doc_id, source, md5(array_to_string(tk, ' ')) AS f FROM sq),
        dfc AS (SELECT f, COUNT(*) AS d FROM fp GROUP BY 1)
        SELECT fp.source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          CAST(SUM(CASE WHEN dfc.d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          CAST(SUM(k.n) AS BIGINT) AS n_tokens,
          (1000000 * CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS keep_rate_e6,
          (1000000 * CAST(SUM(CASE WHEN dfc.d >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS dup_rate_e6
        FROM fp JOIN dfc USING (f) JOIN keepf k USING (doc_id)
        GROUP BY 1"""),
      bench = true),

    // Leakage-safe split assignment — the q206 hash-coin split applied at
    // the DUPLICATE-CLUSTER grain instead of the document grain: every
    // q70 connected component lands wholly in one split (coin on the
    // cluster id), so a near-duplicate of a test document can never sit
    // in train — the eval-contamination failure documented for several
    // public corpora (near-dup train/test leakage inflates benchmark
    // scores; splitting by cluster is the standard fix). The card audits
    // what the policy changes: per split, docs/clusters assigned,
    // `n_rescued` = docs whose naive DOC-level coin would have placed
    // them elsewhere (each one a potential leak closed), plus the global
    // count of clusters the naive split STRADDLES — the leaks the naive
    // policy would have shipped. 80/10/10 thresholds (not q206's 98/1/1)
    // keep the card informative at test SF: a non-representative dup
    // lands in a different naive split with prob 1 − Σp² = 0.34, so the
    // rescue counts are structurally non-zero (the q218/q224 zero-
    // information lesson applied at design time). Scale shape: q70's CC
    // rounds + one coin expression + a 3-row rollup — no new shuffle
    // beyond the cluster assignment it audits.
    QueryDef("q226_cluster_safe_split",
      (s, dir) => {
        def coin(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          Exprs.h60(concat(lit("split:"), c)) % 1000000L
        def lab(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(c < 800000L, "train").when(c < 900000L, "val").otherwise("test")
        val d = dupClusterAssignment(s, dir)
          .select(col("doc_id"), col("cluster_id"),
            lab(coin(col("cluster_id"))).as("split"),
            lab(coin(col("doc_id"))).as("d_split"))
        val leaky = d.groupBy(col("cluster_id"))
          .agg(countDistinct(col("d_split")).as("k"))
          .agg(sum(when(col("k") >= 2, 1L).otherwise(0L)).as("n_leaky_clusters"))
        d.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            sum(when(col("d_split") =!= col("split"), 1L).otherwise(0L))
              .as("n_rescued"))
          .crossJoin(broadcast(leaky))
      },
      oracle = Some(s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes,
        co AS (
          SELECT doc_id, cluster_id,
            CAST('0x' || substr(md5('split:' || cluster_id), 1, 15) AS BIGINT) % 1000000 AS ccoin,
            CAST('0x' || substr(md5('split:' || doc_id), 1, 15) AS BIGINT) % 1000000 AS dcoin
          FROM clusters),
        lab AS (
          SELECT doc_id, cluster_id,
            CASE WHEN ccoin < 800000 THEN 'train'
                 WHEN ccoin < 900000 THEN 'val' ELSE 'test' END AS split,
            CASE WHEN dcoin < 800000 THEN 'train'
                 WHEN dcoin < 900000 THEN 'val' ELSE 'test' END AS d_split
          FROM co),
        leaky AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky_clusters
          FROM (SELECT cluster_id FROM lab GROUP BY 1
                HAVING COUNT(DISTINCT d_split) >= 2) t)
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
          CAST(SUM(CASE WHEN d_split <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued,
          n_leaky_clusters
        FROM lab, leaky GROUP BY split, n_leaky_clusters"""),
      bench = true),

    // First-occurrence novelty — the temporal attribution the dedup cards
    // lack: scanning docs in doc_id order (the crawl-order proxy), what
    // fraction of each document's distinct 8-grams has never been seen
    // before? Dup copies score ~0, boilerplate-heavy docs score low, and
    // the per-doc `novelty_ppm` is the signal memorization/dedup
    // diagnostics plot as the "novel text" curve over a crawl (Lee et al.
    // 2022's dedup analysis popularized the view). Distinct from q199
    // (overlap vs a FIXED benchmark set) and q183/q210 (pairwise span
    // alignment): here every gram is attributed to its global first
    // holder in one census. Scale shape: gram-keyed min-combining
    // aggregate (map-side partial min) + a gram-keyed join back + doc-
    // keyed rollup — two content-keyed shuffles, linear in corpus gram
    // count, no pair term; the same cost class as the q199 decontam scan.
    QueryDef("q228_first_seen_novelty",
      (s, dir) => {
        val sh = graft.Caching.pin(
          Dedup.shingleSet(docs(s, dir), 8).select(col("doc_id"), col("shingle")))
        val first = sh.groupBy(col("shingle"))
          .agg(min(col("doc_id")).as("first_doc"))
        sh.join(first, "shingle")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_first"))
          .select(col("doc_id"), col("n_grams"), col("n_first"),
            expr("(1000000 * n_first) div n_grams").as("novelty_ppm"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        g8 AS (
          SELECT DISTINCT doc_id,
            tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS shingle
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM seq) u),
        fo AS (SELECT shingle, MIN(doc_id) AS first_doc FROM g8 GROUP BY 1)
        SELECT g8.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN fo.first_doc = g8.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
          (1000000 * CAST(SUM(CASE WHEN fo.first_doc = g8.doc_id THEN 1 ELSE 0 END) AS BIGINT))
            // COUNT(*) AS novelty_ppm
        FROM g8 JOIN fo USING (shingle) GROUP BY 1"""),
      bench = true),

    // MinHash-banding recall card — the dedup-side analog of the q197/q207
    // retrieval-eval cards: of the pairs the exact capped-Jaccard dedup
    // (q33, the honest reference kernel) finds, how many does the shipped
    // banded pipeline (q34, the 100 TB deploy kernel) surface, by
    // similarity bucket — the measured banding S-curve, next to its
    // analytic prediction 1−(1−j^4)^8 at each bucket midpoint (Broder's
    // LSH collision bound; ppm literals precomputed once and embedded
    // IDENTICALLY in both engines, so no cross-engine pow()). Expected
    // physics: ~0 recall below j≈0.3, ~1 above j≈0.7 — quantifying
    // exactly which near-dups banding trades away, the number a dedup
    // operator needs before choosing (bands, rows). Scale shape: both
    // kernels are the shipped capped/banded plans (linear by the density
    // caps); the card adds one pair-keyed left join + a ≤10-row rollup.
    QueryDef("q229_lsh_dedup_recall",
      (s, dir) => {
        val d = docs(s, dir)
        val exact = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.05,
            maxShingleDf = Some(64))
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
        val found = Dedup.minhashLshPairs(d, threshold = 0.05, portable = true,
            maxBucketSize = Some(64))
          .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
        val expectPpm = (0 to 9).map { b =>
          val lo = math.max(0.05, b / 10.0); val hi = (b + 1) / 10.0
          val m = (lo + hi) / 2
          b.toLong -> math.round(1e6 * (1 - math.pow(1 - math.pow(m, 4), 8)))
        }
        val expectCol = expectPpm.foldLeft(lit(null).cast("long")) {
          case (acc, (b, p)) => when(col("bucket") === b, lit(p)).otherwise(acc)
        }
        exact
          .withColumn("bucket", least(floor(col("jaccard") * 10), lit(9))
            .cast(org.apache.spark.sql.types.LongType))
          .join(found, Seq("doc_a", "doc_b"), "left")
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_found"))
          .select(col("bucket"), col("n_exact"), col("n_found"),
            expr("(1000000 * n_found) div n_exact").as("recall_ppm"),
            expectCol.as("expect_ppm"))
      },
      oracle = Some {
        val expectCase = (0 to 9).map { b =>
          val lo = math.max(0.05, b / 10.0); val hi = (b + 1) / 10.0
          val m = (lo + hi) / 2
          s"WHEN bucket = $b THEN ${math.round(1e6 * (1 - math.pow(1 - math.pow(m, 4), 8)))}"
        }.mkString(" ")
        s"""WITH RECURSIVE $shCteBody,
        $jaccardPairsCtes,
        $minhashPairsCtes,
        ej AS (
          SELECT doc_a, doc_b,
            CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS j
          FROM common
          JOIN csizes sa ON sa.doc_id = doc_a
          JOIN csizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05),
        bk AS (
          SELECT LEAST(CAST(FLOOR(j * 10) AS BIGINT), 9) AS bucket,
            CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM ej LEFT JOIN (SELECT DISTINCT doc_a, doc_b FROM mh_pairs) mh
            USING (doc_a, doc_b))
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_exact,
          CAST(SUM(hit) AS BIGINT) AS n_found,
          (1000000 * CAST(SUM(hit) AS BIGINT)) // COUNT(*) AS recall_ppm,
          CAST(CASE $expectCase END AS BIGINT) AS expect_ppm
        FROM bk GROUP BY 1"""
      },
      bench = true),

    // Partition-pruned scan — the third leg of the layout trio (q133
    // z-order cells, q227 hash buckets, here DIRECTORY partitions):
    // documents persisted `partitionBy(lang)` (one directory per
    // language, the Hive layout every 100 TB lakehouse table uses for its
    // coarse axis), then a lang-filtered rollup whose predicate never
    // touches row data — it prunes whole directories at PLANNING time.
    // BucketingSpec pins the contract: the scan's partitionFilters carry
    // the lang predicate, dataFilters do NOT, and exactly one of the five
    // partition directories is read — at 100 TB the difference between
    // scanning 20 TB and 100 TB before the first row moves. Oracle reads
    // the ORIGINAL unpartitioned parquet — the round-trip through the
    // partitioned layout (including lang's value→directory→value trip)
    // provably changes nothing.
    QueryDef("q230_partition_pruned_scan",
      (s, dir) => {
        // md5-keyed + exit-cleaned scratch (ADVICE r12, VERDICT r12 #7)
        val base = graft.Scratch.dir("graft_part_", dir)
        docs(s, dir).write.mode("overwrite").partitionBy("lang").parquet(base)
        s.read.parquet(base)
          .filter(col("lang") === "en")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast(org.apache.spark.sql.types.LongType))
              .as("sum_chars"))
      },
      oracle = Some("""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE lang = 'en' GROUP BY 1"""),
      bench = true),

    // Quality-signal correlation matrix — the feature-redundancy audit a
    // quality-classifier design starts from (two signals at |r|≈1 carry
    // one signal's information; q224 measured RANK agreement of two
    // rankers, this measures LINEAR redundancy across the raw signal
    // set): exact Pearson r over four per-doc signals — token count,
    // mean word length, distinct-token ratio, raw char count — computed
    // from ONE moment aggregate (14 decimal-exact sums, map-side
    // combined, the q01 dsum discipline so summation order cannot leak
    // into the hash) and expanded to the 6 pairs. Zero-variance pairs
    // yield NULL via the same guard on both engines. Docs with zero
    // tokens drop out of the signal frame on both engines (no tokens ⇒
    // no stats row). Scale shape: one tokenize scan + a 1-row moment
    // frame — the card costs what the scan costs.
    QueryDef("q231_signal_correlations",
      (s, dir) => {
        val dbl = org.apache.spark.sql.types.DoubleType
        val pc = docs(s, dir)
          .select(col("doc_id"), col("n_chars"),
            explode(Exprs.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("n_chars"), col("term"))
          .agg(count(lit(1)).as("c"))
        val st = pc.groupBy(col("doc_id"), col("n_chars"))
          .agg(sum(col("c")).as("n"),
            sum(length(col("term")) * col("c")).as("chars"),
            count(lit(1)).as("ndis"))
          .select(col("n").cast(dbl).as("a"),
            (col("chars").cast(dbl) / col("n").cast(dbl)).as("b"),
            (col("ndis").cast(dbl) / col("n").cast(dbl)).as("c"),
            col("n_chars").cast(dbl).as("d"))
        val sigs = Seq("a", "b", "c", "d")
        val moments =
          Seq(count(lit(1)).cast(dbl).as("n")) ++
          sigs.map(x => Exprs.dsum(col(x)).as(s"s$x")) ++
          (for (x <- sigs; y <- sigs if x <= y)
            yield Exprs.dsum(col(x) * col(y)).as(s"s$x$y"))
        val m = st.agg(moments.head, moments.tail: _*)
        val names = Map("a" -> "n_tokens", "b" -> "mean_word_len",
          "c" -> "distinct_ratio", "d" -> "n_chars")
        def vr(x: String) = col("n") * col(s"s$x$x") - col(s"s$x") * col(s"s$x")
        val pairs = for (x <- sigs; y <- sigs if x < y) yield struct(
          lit(names(x)).as("sig_x"), lit(names(y)).as("sig_y"),
          when(vr(x) * vr(y) <= 0, lit(null).cast(dbl))
            .otherwise(round((col("n") * col(s"s$x$y") - col(s"s$x") * col(s"s$y")) /
              sqrt(vr(x) * vr(y)), 6)).as("r"))
        m.select(explode(array(pairs: _*)).as("p")).select(col("p.*"))
      },
      oracle = Some {
        val sigs = Seq("a", "b", "c", "d")
        val names = Map("a" -> "n_tokens", "b" -> "mean_word_len",
          "c" -> "distinct_ratio", "d" -> "n_chars")
        val moments =
          (Seq("CAST(COUNT(*) AS DOUBLE) AS n") ++
            sigs.map(x => s"CAST(SUM(CAST($x AS DECIMAL(30,6))) AS DOUBLE) AS s$x") ++
            (for (x <- sigs; y <- sigs if x <= y)
              yield s"CAST(SUM(CAST($x*$y AS DECIMAL(30,6))) AS DOUBLE) AS s$x$y"))
            .mkString(",\n            ")
        def vr(x: String) = s"(n*s$x$x - s$x*s$x)"
        val rows = (for (x <- sigs; y <- sigs if x < y) yield
          s"""SELECT '${names(x)}' AS sig_x, '${names(y)}' AS sig_y,
            CASE WHEN ${vr(x)} * ${vr(y)} <= 0 THEN NULL
                 ELSE round((n*s$x$y - s$x*s$y) / sqrt(${vr(x)} * ${vr(y)}), 6)
            END AS r FROM m""").mkString("\n        UNION ALL\n        ")
        s"""
        WITH sq AS (
          SELECT doc_id, n_chars,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        pc AS (
          SELECT doc_id, n_chars, term, COUNT(*) AS c
          FROM (SELECT doc_id, n_chars, unnest(tk) AS term FROM sq) u GROUP BY 1, 2, 3),
        st AS (
          SELECT CAST(SUM(c) AS DOUBLE) AS a,
            CAST(SUM(LEN(term)*c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS b,
            CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS c,
            CAST(n_chars AS DOUBLE) AS d
          FROM pc GROUP BY doc_id, n_chars),
        m AS (
          SELECT $moments
          FROM st)
        $rows"""
      },
      bench = true),

    // Duplicate-cluster size histogram — the dedup report's summary
    // figure (every dedup paper's "cluster size distribution"): q70's
    // connected components bucketed by ⌈log₂ size⌉, with cluster counts,
    // doc counts and each bucket's share of the corpus in integer
    // millionths. Reads directly off the q70 assignment — one grouped
    // count + a ≤21-row rollup; the card that says whether duplication
    // mass sits in a few mega-clusters (boilerplate mirrors — purge
    // representatives) or a long tail of pairs (crawl echoes — soft
    // weights), i.e. whether q72's purge or q191's weights is the right
    // deploy lever.
    QueryDef("q232_dup_cluster_histogram",
      (s, dir) => {
        val cl = dupClusterAssignment(s, dir)
        val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        val bucket = (1 to 20).foldLeft(when(col("sz") <= 1, 0L)) {
          (acc, b) => acc.when(col("sz") <= (1L << b), b.toLong)
        }
        val total = cl.agg(count(lit(1)).as("n_all"))
        sizes.groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
            max(col("sz")).as("max_size"))
          .crossJoin(broadcast(total))
          .select(col("bucket"), col("n_clusters"), col("n_docs"), col("max_size"),
            expr("(1000000 * n_docs) div n_all").as("docs_ppm"))
      },
      oracle = Some {
        val bucketCase = "CASE WHEN sz <= 1 THEN 0 " +
          (1 to 20).map(b => s"WHEN sz <= ${1L << b} THEN $b").mkString(" ") + " END"
        s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes,
        cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
               FROM clusters GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM clusters)
        SELECT CAST($bucketCase AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_clusters,
          CAST(SUM(sz) AS BIGINT) AS n_docs,
          CAST(MAX(sz) AS BIGINT) AS max_size,
          (1000000 * CAST(SUM(sz) AS BIGINT)) // n_all AS docs_ppm
        FROM cs, tot GROUP BY 1, n_all"""
      },
      bench = true),

    // Surgical decontamination accounting — q199 FLAGS contaminated docs;
    // production pipelines usually don't drop them, they cut the
    // contaminated SPANS and keep the rest (the span-surgery posture).
    // This card computes exactly what that surgery removes: per
    // contaminated doc, the flagged 8-gram count, the distinct token
    // positions those grams cover (overlapping hits merge — the union of
    // spans, not their sum), tokens kept after the cut, and removed_ppm.
    // Same deterministic eval-sentence enrichment and benchmark slice as
    // q199, so the two cards reconcile: q199 says WHO is contaminated,
    // this says HOW MUCH of them survives surgery. Scale shape: the
    // benchmark gram set is suite-bounded → broadcast; flagged rows ≤ 8×
    // hit count; position expansion is per-hit constant (8) — no pair
    // term, the q199 cost class.
    QueryDef("q233_decontam_span_surgery",
      (s, dir) => {
        val lng = org.apache.spark.sql.types.LongType
        val e1 = " held out benchmark question answer pairs must never leak into training"
        val e2 = " the standardized test prompt appears verbatim in this document for evaluation"
        val d2 = docs(s, dir).withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 13 === 0, lit(e1)).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(e2)).otherwise(lit(""))))
        val sp = graft.Caching.pin(d2
          .select(col("doc_id"), Exprs.tokens(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast(lng).as("n_before"),
            posexplode(Exprs.shingles(col("toks"), 8)).as(Seq("p0", "g")))
          .select(col("doc_id"), col("n_before"),
            (col("p0") + 1).cast(lng).as("p"), col("g")))
        val bench = sp.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
        val flagged = sp.filter(col("doc_id") % 97 =!= 0).join(broadcast(bench), "g")
        val removed = flagged
          .select(col("doc_id"), col("n_before"),
            explode(sequence(col("p"), col("p") + 7)).as("pos"))
          .groupBy(col("doc_id"), col("n_before"))
          .agg(countDistinct(col("pos")).as("n_removed"))
        val spans = flagged.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_flagged_grams"))
        removed.join(spans, "doc_id")
          .select(col("doc_id"), col("n_before"), col("n_flagged_grams"),
            col("n_removed"), (col("n_before") - col("n_removed")).as("n_after"),
            expr("(1000000 * n_removed) div n_before").as("removed_ppm"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(
              text ||
              CASE WHEN doc_id % 13 = 0 THEN ' held out benchmark question answer pairs must never leak into training' ELSE '' END ||
              CASE WHEN doc_id % 7 = 0 THEN ' the standardized test prompt appears verbatim in this document for evaluation' ELSE '' END
            ), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        g8 AS (
          SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_before, CAST(i AS BIGINT) AS p,
            tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM seq) u),
        bg AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0),
        fl AS (SELECT g8.* FROM g8 JOIN bg USING (g) WHERE doc_id % 97 <> 0),
        pos AS (
          SELECT DISTINCT doc_id, n_before, p + o AS pos
          FROM (SELECT doc_id, n_before, p,
                  unnest(generate_series(0, 7)) AS o FROM fl) z),
        rem AS (SELECT doc_id, n_before, CAST(COUNT(*) AS BIGINT) AS n_removed
                FROM pos GROUP BY 1, 2),
        spn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_grams
                FROM fl GROUP BY 1)
        SELECT r.doc_id, r.n_before, spn.n_flagged_grams, r.n_removed,
          r.n_before - r.n_removed AS n_after,
          (1000000 * r.n_removed) // r.n_before AS removed_ppm
        FROM rem r JOIN spn USING (doc_id)"""),
      bench = true),

    // Span surgery EMISSION — the deploy artifact q233 only accounts for
    // (VERDICT r12 #6): per contaminated doc, the surgically-cleaned text
    // itself — every token covered by a flagged benchmark 8-gram cut, the
    // survivors reassembled in order (the q102 purge-emission pattern).
    // Same enrichment, gram definition and benchmark slice as q233, so the
    // three decontam cards compose: q199 says WHO, q233 says HOW MUCH,
    // this emits WHAT SURVIVES — and n_removed here hash-reconciles with
    // q233's column. Scale shape: the tokenized frame is pinned (one
    // tokenize pass feeds both the gram census and the reassembly), the
    // benchmark gram set is suite-bounded → broadcast, cut positions ride
    // the HIT set only (≤8× hits), and the reassembly is a row-local
    // indexed-lambda filter over the token array — no sort, no window, no
    // second shuffle past the per-doc position collapse.
    QueryDef("q238_decontam_surgery_emit",
      (s, dir) => {
        val lng = org.apache.spark.sql.types.LongType
        val e1 = " held out benchmark question answer pairs must never leak into training"
        val e2 = " the standardized test prompt appears verbatim in this document for evaluation"
        val d2 = docs(s, dir).withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 13 === 0, lit(e1)).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(e2)).otherwise(lit(""))))
        val tk = graft.Caching.pin(
          d2.select(col("doc_id"), Exprs.tokens(col("text")).as("toks")))
        val sp = tk.select(col("doc_id"),
            posexplode(Exprs.shingles(col("toks"), 8)).as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1).cast(lng).as("p"), col("g"))
        val bench = sp.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
        val cut = sp.filter(col("doc_id") % 97 =!= 0).join(broadcast(bench), "g")
          .select(col("doc_id"), explode(sequence(col("p"), col("p") + 7)).as("pos"))
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_set(col("pos"))).as("cut"))
        tk.join(cut, "doc_id")
          .select(col("doc_id"),
            size(col("toks")).cast(lng).as("n_before"),
            size(col("cut")).cast(lng).as("n_removed"),
            (size(col("toks")) - size(col("cut"))).cast(lng).as("n_after"),
            array_join(
              filter(col("toks"),
                (_, i) => !array_contains(col("cut"), (i + lit(1)).cast(lng))),
              " ").as("clean_text"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(
              text ||
              CASE WHEN doc_id % 13 = 0 THEN ' held out benchmark question answer pairs must never leak into training' ELSE '' END ||
              CASE WHEN doc_id % 7 = 0 THEN ' the standardized test prompt appears verbatim in this document for evaluation' ELSE '' END
            ), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        g8 AS (
          SELECT doc_id, CAST(i AS BIGINT) AS p,
            tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM seq) u),
        bg AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0),
        fl AS (SELECT g8.* FROM g8 JOIN bg USING (g) WHERE doc_id % 97 <> 0),
        pos AS (
          SELECT DISTINCT doc_id, p + o AS pos
          FROM (SELECT doc_id, p, unnest(generate_series(0, 7)) AS o FROM fl) z),
        cut AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
                FROM pos GROUP BY 1),
        toks AS (
          SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_before,
            unnest(tk) AS tok, unnest(generate_series(1, len(tk))) AS i
          FROM seq),
        kept AS (
          -- survivors in order; a fully-cut doc has no rows here, hence the
          -- COALESCE('') below (Spark-side array_join of an empty array is '')
          SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.i) AS clean_text
          FROM toks t LEFT JOIN pos p ON p.doc_id = t.doc_id AND p.pos = t.i
          WHERE p.doc_id IS NULL GROUP BY t.doc_id)
        SELECT c.doc_id, s.n_before, c.n_removed,
          s.n_before - c.n_removed AS n_after,
          COALESCE(k.clean_text, '') AS clean_text
        FROM cut c
        JOIN (SELECT DISTINCT doc_id, n_before FROM toks) s USING (doc_id)
        LEFT JOIN kept k ON k.doc_id = c.doc_id"""),
      bench = true),

    // Surgery idempotence audit — the property check a production pipeline
    // needs before declaring one-pass surgery sufficient: cutting spans
    // WELDS previously-separated tokens together, and an 8-gram spanning a
    // weld seam exists in the cleaned text that never existed in the
    // original — if such a gram matches the benchmark set, the "clean"
    // corpus is still contaminated and surgery is NOT idempotent. Per
    // contaminated doc: surviving tokens, seam count (adjacent survivors
    // whose ORIGINAL positions were not adjacent), seam-spanning 8-grams
    // (original-index span > 7 — the nonzero numbers proving the audit
    // actually inspected welds), and residual benchmark hits in the
    // re-tokenized cleaned text (the idempotence verdict; 0 everywhere on
    // this corpus = second pass is a no-op, machine-checked rather than
    // assumed; SurgeryAuditSpec pins the >0 branch on a crafted weld).
    // Unlike q233/q238 — which model TAIL contamination (appended
    // sentences, so every cut is a suffix and no seam exists) — this card
    // SPLICES e1 into the middle of the doc (char 120): the interior-cut
    // case is the one that creates welds, and an append-only scenario
    // would give the audit nothing to audit (the q224 informativeness
    // lesson: a hash-matched all-zero column proves consistency, not
    // behavior). Scale shape: one pinned tokenize, hit-bounded cut frame,
    // row-local indexed-lambda seam algebra over the survivor arrays, and
    // one extra broadcast-join pass over the contaminated slice for the
    // residual census.
    QueryDef("q239_decontam_residual_audit",
      (s, dir) => {
        val lng = org.apache.spark.sql.types.LongType
        val e1 = " held out benchmark question answer pairs must never leak into training "
        val e2 = " the standardized test prompt appears verbatim in this document for evaluation"
        val d2 = docs(s, dir).withColumn("text",
          concat(
            when(col("doc_id") % 13 === 0,
              concat(expr("substr(text, 1, 120)"), lit(e1), expr("substr(text, 121)")))
              .otherwise(col("text")),
            when(col("doc_id") % 7 === 0, lit(e2)).otherwise(lit(""))))
        val tk = graft.Caching.pin(
          d2.select(col("doc_id"), Exprs.tokens(col("text")).as("toks")))
        val sp = tk.select(col("doc_id"),
            posexplode(Exprs.shingles(col("toks"), 8)).as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1).cast(lng).as("p"), col("g"))
        val bench = sp.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
        val cut = sp.filter(col("doc_id") % 97 =!= 0).join(broadcast(bench), "g")
          .select(col("doc_id"), explode(sequence(col("p"), col("p") + 7)).as("pos"))
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_set(col("pos"))).as("cut"))
        // survivors paired with their ORIGINAL 1-based positions
        val kept = filter(
          zip_with(col("toks"), sequence(lit(1), size(col("toks"))),
            (t, i) => struct(t.as("t"), i.as("i"))),
          x => !array_contains(col("cut"), x.getField("i").cast(lng)))
        val stats = graft.Caching.pin(tk.join(cut, "doc_id")
          .select(col("doc_id"), kept.as("kp"))
          .select(col("doc_id"),
            transform(col("kp"), x => x.getField("t")).as("kt"),
            transform(col("kp"), x => x.getField("i")).as("ki"))
          .select(col("doc_id"),
            size(col("kt")).cast(lng).as("n_after"),
            // a seam sits between survivors k and k+1 when their original
            // positions were not adjacent (the cut removed tokens between)
            when(size(col("ki")) >= 2,
              size(filter(sequence(lit(1), size(col("ki")) - 1),
                k => element_at(col("ki"), k + 1) - element_at(col("ki"), k) > 1)))
              .otherwise(lit(0)).cast(lng).as("n_seams"),
            // a gram at k spans a seam iff its 8 survivors cover an
            // original-index range wider than 7
            when(size(col("ki")) >= 8,
              size(filter(sequence(lit(1), size(col("ki")) - 7),
                k => element_at(col("ki"), k + 7) - element_at(col("ki"), k) > 7)))
              .otherwise(lit(0)).cast(lng).as("n_seam_grams"),
            Exprs.shingles(col("kt"), 8).as("grams")))
        val hits = stats.select(col("doc_id"), explode(col("grams")).as("g"))
          .join(broadcast(bench), "g")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_residual_hits"))
        stats.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_after"), col("n_seams"),
            col("n_seam_grams"),
            coalesce(col("n_residual_hits"), lit(0L)).as("n_residual_hits"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(
              CASE WHEN doc_id % 13 = 0
                THEN substr(text, 1, 120) || ' held out benchmark question answer pairs must never leak into training ' || substr(text, 121)
                ELSE text END ||
              CASE WHEN doc_id % 7 = 0 THEN ' the standardized test prompt appears verbatim in this document for evaluation' ELSE '' END
            ), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        g8 AS (
          SELECT doc_id, CAST(i AS BIGINT) AS p,
            tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
            tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM seq) u),
        bg AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0),
        fl AS (SELECT g8.* FROM g8 JOIN bg USING (g) WHERE doc_id % 97 <> 0),
        pos AS (
          SELECT DISTINCT doc_id, p + o AS pos
          FROM (SELECT doc_id, p, unnest(generate_series(0, 7)) AS o FROM fl) z),
        toks AS (
          SELECT doc_id, unnest(tk) AS tok,
            unnest(generate_series(1, len(tk))) AS i
          FROM seq),
        keptl AS (
          SELECT t.doc_id,
            list(t.tok ORDER BY t.i) AS kt,
            list(t.i ORDER BY t.i) AS ki
          FROM toks t LEFT JOIN pos p ON p.doc_id = t.doc_id AND p.pos = t.i
          WHERE p.doc_id IS NULL
            AND t.doc_id IN (SELECT DISTINCT doc_id FROM pos)
          GROUP BY t.doc_id),
        stats AS (
          SELECT doc_id, CAST(len(kt) AS BIGINT) AS n_after,
            CAST(len(list_filter(range(1, len(ki)),
              k -> ki[k+1] - ki[k] > 1)) AS BIGINT) AS n_seams,
            CAST(len(list_filter(range(1, len(ki) - 6),
              k -> ki[k+7] - ki[k] > 7)) AS BIGINT) AS n_seam_grams,
            kt
          FROM keptl),
        rg AS (
          SELECT doc_id,
            kt[k] || ' ' || kt[k+1] || ' ' || kt[k+2] || ' ' || kt[k+3] || ' ' ||
            kt[k+4] || ' ' || kt[k+5] || ' ' || kt[k+6] || ' ' || kt[k+7] AS g
          FROM (SELECT doc_id, kt, unnest(generate_series(1, len(kt) - 7)) AS k
                FROM stats) u),
        res AS (SELECT rg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_residual_hits
                FROM rg JOIN bg USING (g) GROUP BY 1)
        -- anchored on the contaminated-doc set: a FULLY-cut doc has no
        -- surviving tokens, hence no keptl group — it must still report a
        -- zero card (Spark's side keeps it with an empty survivor array)
        SELECT c.doc_id, COALESCE(s.n_after, 0) AS n_after,
          COALESCE(s.n_seams, 0) AS n_seams,
          COALESCE(s.n_seam_grams, 0) AS n_seam_grams,
          COALESCE(r.n_residual_hits, 0) AS n_residual_hits
        FROM (SELECT DISTINCT doc_id FROM pos) c
        LEFT JOIN stats s USING (doc_id)
        LEFT JOIN res r USING (doc_id)"""),
      bench = true),

    // Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    // traversal, the 2-approximation every diversity-pruning pipeline
    // builds on): seed = the min-id vector, each round adds the vector
    // farthest from the selected set and reports the coverage radius
    // (max-min distance) — the decay curve that says how many exemplars
    // the embedding space needs before new picks stop adding coverage,
    // i.e. the diversity counterpart to q225's trigram-coverage greedy.
    // Scale shape: each round is ONE corpus pass against a 1-row
    // broadcast (update the running min-distance, the k-center trick —
    // never |selected|·n), the argmax is a TakeOrderedAndProject, and the
    // running frame is localCheckpoint'ed per round (the q225 loop
    // discipline: it is read twice per round — radius + update). Oracle:
    // all rounds unrolled as MATERIALIZED CTEs over the same 6-dp
    // sequential-fold L2 the ANN family uses.
    QueryDef("q234_kcenter_selection",
      (s, dir) => {
        import graft.Par.ParOps
        val dbl = org.apache.spark.sql.types.DoubleType
        def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          round(Exprs.sqdist(a, b), 6)
        val e = graft.Caching.pin(Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast(org.apache.spark.sql.types.ArrayType(dbl)).as("v")))
        var sel = e.orderBy(col("vec_id").asc).limit(1)
          .select(col("vec_id").as("c_id"), col("v").as("cv"))
          .onePart.localCheckpoint(true)
        var minD = e.crossJoin(broadcast(sel))
          .select(col("vec_id"), col("v"), l2(col("v"), col("cv")).as("d"))
          .compacted.localCheckpoint(true)
        val rows = (1 to 6).map { r =>
          // radius is checkpointed EAGERLY (1 row) so the emitted card stops
          // referencing the corpus-sized minD frame lazily — which is what
          // lets each superseded minD be unpersisted deterministically below
          // (ADVICE r12: 7 corpus-sized checkpoints per run were otherwise
          // held until the ContextCleaner got around to them)
          val radius = minD.agg(max(col("d")).as("radius")).localCheckpoint(true)
          val card = sel.crossJoin(broadcast(radius))
            .select(lit(r.toLong).as("pick_round"), col("c_id").as("vec_id"),
              col("radius"))
          val nxt = minD.orderBy(col("d").desc, col("vec_id").asc).limit(1)
            .select(col("vec_id").as("c_id"), col("v").as("cv"))
            .onePart.localCheckpoint(true)
          val nextMinD = minD.crossJoin(broadcast(nxt))
            .select(col("vec_id"), col("v"),
              least(col("d"), l2(col("v"), col("cv"))).as("d"))
            .compacted.localCheckpoint(true)
          // radius and nxt materialized off minD above; nothing references
          // it once the next round's frame exists — release its blocks now
          // (the 1-row sel/nxt/radius checkpoints the cards DO reference
          // stay pinned until the caller's action; they are 6×2 single-row
          // frames, not the pressure the ContextCleaner was hiding)
          graft.ml.Checkpoints.unpersist(minD)
          minD = nextMinD
          sel = nxt
          card
        }
        graft.ml.Checkpoints.unpersist(minD) // round 6's frame: no card reads it
        rows.reduce(_ unionByName _)
      },
      oracle = Some {
        val l2 = (a: String, b: String) =>
          s"round(list_reduce(list_transform(range(1, len($a) + 1), " +
            s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y), 6)"
        val rounds = (1 to 6).map { r =>
          val dPrev = if (r == 1) "" else {
            s"""d$r AS MATERIALIZED (
            SELECT p.vec_id, p.v, LEAST(p.d, ${l2("p.v", "c.cv")}) AS d
            FROM d${r - 1} p, c$r c),"""
          }
          val cDef = if (r == 1)
            s"c1 AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv FROM e ORDER BY vec_id ASC LIMIT 1),"
          else
            s"""c$r AS MATERIALIZED (
            SELECT vec_id AS c_id, v AS cv FROM d${r - 1}
            ORDER BY d DESC, vec_id ASC LIMIT 1),"""
          val dDef = if (r == 1)
            s"""d1 AS MATERIALIZED (
            SELECT e.vec_id, e.v, ${l2("e.v", "c.cv")} AS d
            FROM e, c1 c),"""
          else dPrev
          s"$cDef\n        $dDef"
        }.mkString("\n        ").stripSuffix(",")
        val selects = (1 to 6).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS pick_round, c$r.c_id AS vec_id,
            (SELECT MAX(d) FROM d$r) AS radius FROM c$r""")
          .mkString("\n        UNION ALL\n        ")
        s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        $rounds
        $selects"""
      },
      bench = true),

    // Recall-vs-nprobe tuning sweep — the knob the production ANN path
    // actually turns: q207 grades ONE operating point (nprobe=2); this
    // card measures the whole recall/MRR/hit@1 curve at nprobe ∈
    // {1,2,4,8} from ONE shared index build (`Pq.ivfPqSweepTopK`: coarse
    // fit + residual PQ + codes + ADC tables computed once at nprobe=max;
    // each sweep point filters candidates by the probed cell's coarse
    // rank — probing more cells only ADDS candidates — and runs its own
    // bounded heap, each slice bit-equal to a standalone ivfPqTopK call,
    // PqSpec-pinned). The curve is what picks nprobe for a recall target:
    // at 100 TB each point's cost is ~np/kCoarse of the index, so
    // "recall@np" against the fixed 1 % panel IS the cost/recall
    // trade-off table. Truth side shared across points (one bruteL2TopK,
    // pinned). Oracle: the q207 chain with the coarse rank threaded
    // through (sweep=true), four rank-sliced system CTEs over ONE dist
    // table, one shared truth, four metric rollups unioned.
    QueryDef("q235_nprobe_sweep",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val q = e.filter(col("vec_id") % 100 === 0)
        val nps = Seq(1, 2, 4, 8)
        val sweep = graft.Caching.pin(
          graft.ml.Pq.ivfPqSweepTopK(q, e, kCoarse = 8, coarseIter = 2,
            m = 4, kc = 8, pqIter = 2, nprobes = nps, k = 10))
        val truth = graft.Caching.pin(graft.ml.Pq.bruteL2TopK(q, e, k = 10)
          .select(col("q_id"), col("n_id"), col("rk").as("trk")))
        nps.map { np =>
          retrievalEvalCard(
            sweep.filter(col("nprobe") === np.toLong)
              .select(col("q_id"), col("n_id"), col("rk").as("srk")),
            truth, s"ivfpq_np$np", k = 10)
        }.reduce(_ unionByName _)
      },
      oracle = Some {
        val nps = Seq(1, 2, 4, 8)
        val perNp = nps.map { np =>
          s"""sys$np AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM dist WHERE rn <= $np) z
          WHERE rk <= 10),
        hits$np AS (
          SELECT s.q_id, s.n_id, s.rk AS srk, t.rk AS trk
          FROM sys$np s JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id),
        nhits$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits$np),
        rr$np AS (
          SELECT CAST(COALESCE(SUM(COALESCE(1000000 // s.rk, 0)), 0) AS BIGINT) AS rr_sum
          FROM truth t LEFT JOIN sys$np s ON s.q_id = t.q_id AND s.n_id = t.n_id
          WHERE t.rk = 1),
        h1$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit1 FROM hits$np WHERE trk = 1 AND srk = 1)"""
        }.mkString(",\n        ")
        val selects = nps.map { np =>
          s"""SELECT 'ivfpq_np$np' AS system, n_queries, n_hits,
          (1000000 * n_hits) // (n_queries * 10) AS recall_ppm,
          rr_sum // n_queries AS mrr_ppm,
          n_hit1,
          (1000000 * n_hit1) // n_queries AS hit1_ppm
        FROM nq, nhits$np, rr$np, h1$np"""
        }.mkString("\n        UNION ALL\n        ")
        ivfpqSql(kCoarse = 8, cIter = 2, m = 4, sub = 16, kc = 8,
          pIter = 2, nprobe = 8, k = 10, sweep = true, fin = s""",
        tdist AS (
          SELECT q.vec_id AS q_id, e.vec_id AS n_id,
            round(list_reduce(list_transform(range(1, len(q.v) + 1),
              i -> (q.v[i] - e.v[i]) * (q.v[i] - e.v[i])), (x, y) -> x + y), 6) AS d2
          FROM q JOIN e ON e.vec_id <> q.vec_id),
        truth AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM tdist) t
          WHERE rk <= 10),
        nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM truth),
        $perNp
        $selects""")
      },
      bench = true),

    // Duplicate-cluster chaining audit — the known failure mode of
    // transitive-closure dedup (q70's CC): A~B and B~C merge A and C into
    // one cluster even when A≁C, so a chain of borderline pairs can weld
    // unrelated documents together and q72's purge then deletes documents
    // that duplicate NOTHING kept. Per multi-doc cluster: edge count,
    // density_ppm = 2E/(n(n−1)) (1e6 = clique — true duplicates; low =
    // chain — inspect before purging) and the weakest link (min pair
    // Jaccard — the edge a threshold bump would cut). Reads the memoized
    // q70 assignment + the q33 pair set (every pair's endpoints share a
    // cluster by construction): one pair-keyed join + a cluster rollup.
    QueryDef("q236_dup_chain_audit",
      (s, dir) => {
        val cl = dupClusterAssignment(s, dir)
        val pairs = Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.05,
            maxShingleDf = Some(64))
          .select(col("doc_a"), col("jaccard"))
          .join(cl.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
        pairs.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_edges"),
            round(min(col("jaccard")), 6).as("weakest_link"))
          .join(sizes, "cluster_id")
          .select(col("cluster_id"), col("n_docs"), col("n_edges"),
            expr("(2000000 * n_edges) div (n_docs * (n_docs - 1))").as("density_ppm"),
            col("weakest_link"))
      },
      oracle = Some(s"""WITH RECURSIVE $shCteBody, $jaccardPairsCtes,
        ej AS (
          SELECT doc_a, doc_b,
            CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS j
          FROM common
          JOIN csizes sa ON sa.doc_id = doc_a
          JOIN csizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE)/CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05),
        pc AS (SELECT c.cluster_id, ej.j FROM ej JOIN clusters c ON c.doc_id = ej.doc_a),
        cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM clusters GROUP BY 1)
        SELECT p.cluster_id, cs.n_docs, CAST(COUNT(*) AS BIGINT) AS n_edges,
          (2000000 * CAST(COUNT(*) AS BIGINT)) // (cs.n_docs * (cs.n_docs - 1)) AS density_ppm,
          round(MIN(p.j), 6) AS weakest_link
        FROM pc p JOIN cs USING (cluster_id) GROUP BY 1, 2"""),
      bench = true),

    // Recall-vs-shortlist sweep for the re-ranked path — q235's sibling
    // on the OTHER tuning knob: q235 showed the pure-ADC ranking
    // saturating (quantization error caps recall no matter how many
    // cells are probed); the fix is q166's exact re-rank, and THIS card
    // measures how much shortlist buys at fixed nprobe=2. One shared
    // index build + ONE ADC pass at the max shortlist
    // (`Pq.ivfPqRerankSweepTopK`: the heap's (d2, n_id) order makes every
    // smaller shortlist a prefix, so the s-point candidates are exactly
    // adc_rk ≤ s); true-L2 re-rank per point over its slice, each slice
    // bit-equal to a standalone ivfPqRerankTopK call (PqSpec-pinned).
    // At 100 TB the shortlist knob prices the full-vector reads
    // (shortlist·|queries| equi-join rows) against recall — this curve
    // next to q235's is the whole two-knob tuning story.
    QueryDef("q237_shortlist_sweep",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val q = e.filter(col("vec_id") % 100 === 0)
        val sls = Seq(10, 20, 40, 80)
        val sweep = graft.Caching.pin(
          graft.ml.Pq.ivfPqRerankSweepTopK(q, e, kCoarse = 8, coarseIter = 2,
            m = 4, kc = 8, pqIter = 2, nprobe = 2, shortlists = sls, k = 10))
        val truth = graft.Caching.pin(graft.ml.Pq.bruteL2TopK(q, e, k = 10)
          .select(col("q_id"), col("n_id"), col("rk").as("trk")))
        sls.map { sl =>
          retrievalEvalCard(
            sweep.filter(col("shortlist") === sl.toLong)
              .select(col("q_id"), col("n_id"), col("rk").as("srk")),
            truth, s"rerank_sl$sl", k = 10)
        }.reduce(_ unionByName _)
      },
      oracle = Some {
        val sls = Seq(10, 20, 40, 80)
        val perSl = sls.map { sl =>
          s"""sys$sl AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM tr WHERE adc_rk <= $sl) z
          WHERE rk <= 10),
        hits$sl AS (
          SELECT s.q_id, s.n_id, s.rk AS srk, t.rk AS trk
          FROM sys$sl s JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id),
        nhits$sl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits$sl),
        rr$sl AS (
          SELECT CAST(COALESCE(SUM(COALESCE(1000000 // s.rk, 0)), 0) AS BIGINT) AS rr_sum
          FROM truth t LEFT JOIN sys$sl s ON s.q_id = t.q_id AND s.n_id = t.n_id
          WHERE t.rk = 1),
        h1$sl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit1 FROM hits$sl WHERE trk = 1 AND srk = 1)"""
        }.mkString(",\n        ")
        val selects = sls.map { sl =>
          s"""SELECT 'rerank_sl$sl' AS system, n_queries, n_hits,
          (1000000 * n_hits) // (n_queries * 10) AS recall_ppm,
          rr_sum // n_queries AS mrr_ppm,
          n_hit1,
          (1000000 * n_hit1) // n_queries AS hit1_ppm
        FROM nq, nhits$sl, rr$sl, h1$sl"""
        }.mkString("\n        UNION ALL\n        ")
        ivfpqSql(kCoarse = 8, cIter = 2, m = 4, sub = 16, kc = 8,
          pIter = 2, nprobe = 2, k = 10, fin = s""",
        sl AS (
          SELECT q_id, n_id, rk AS adc_rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM dist) z
          WHERE rk <= 80),
        tr AS (
          SELECT sl.q_id, sl.n_id, sl.adc_rk,
            round(list_reduce(list_transform(range(1, len(qv.v) + 1),
              i -> (qv.v[i] - nv.v[i]) * (qv.v[i] - nv.v[i])), (x, y) -> x + y), 6) AS d2
          FROM sl JOIN e nv ON nv.vec_id = sl.n_id JOIN q qv ON qv.vec_id = sl.q_id),
        tdist AS (
          SELECT q.vec_id AS q_id, e.vec_id AS n_id,
            round(list_reduce(list_transform(range(1, len(q.v) + 1),
              i -> (q.v[i] - e.v[i]) * (q.v[i] - e.v[i])), (x, y) -> x + y), 6) AS d2
          FROM q JOIN e ON e.vec_id <> q.vec_id),
        truth AS (
          SELECT q_id, n_id, rk FROM (
            SELECT q_id, n_id,
              CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM tdist) t
          WHERE rk <= 10),
        nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM truth),
        $perSl
        $selects""")
      },
      bench = true)
  )

  /** Unrolled IVF-PQ oracle ([[graft.ml.Pq.ivfPqTopK]]): the coarse
    * kmeansCtes unroll (prefix g), residual vectors, per-subspace
    * kmeansCtes unrolls on the residual slices (prefix r$s), the encoded
    * (cell, codes) table, the query probe list (nprobe nearest cells),
    * per-(query, cell) residual LUTs, and the by-CELL ADC distance join —
    * every stage an already-proven ladder, composed. */
  private def ivfpqSql(kCoarse: Int, cIter: Int, m: Int, sub: Int, kc: Int,
                       pIter: Int, nprobe: Int, k: Int, fin: String = "",
                       sweep: Boolean = false): String = {
    // sweep = true threads the probe-cell coarse rank `rn` through
    // qc→qr→t0→dist so a `fin` can slice the candidate set per nprobe
    // (q235); existing single-nprobe call sites are byte-unaffected.
    val rnQc = if (sweep) ", rn" else ""
    val rnQr = if (sweep) ", qc.rn" else ""
    val rnT0 = if (sweep) ", qs.rn" else ""
    val rnDist = if (sweep) ", t0.rn" else ""
    val pqUnrolls = (0 until m).map { s =>
      s"""r${s}e AS (SELECT vec_id, v[${s * sub + 1}:${(s + 1) * sub}] AS v FROM re),
        ${kmeansCtes(kc, pIter, s"r$s")}"""
    }.mkString(",\n        ")
    val codeJoins = (0 until m).map(s => s"JOIN r${s}af r$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(s => s"r$s.cid AS k${s + 1}").mkString(", ")
    val luts = (0 until m).map { s =>
      val rnSel = if (sweep && s == 0) rnT0 else ""
      val rnSrc = if (sweep && s == 0) ", rn" else ""
      s"""t$s AS MATERIALIZED (
          SELECT qs.q_id, qs.cell$rnSel, c.cid,
            list_reduce(list_transform(range(1, len(qs.sv) + 1),
              i -> (qs.sv[i] - c.c[i]) * (qs.sv[i] - c.c[i])), (x, y) -> x + y) AS d2
          FROM (SELECT q_id, cell$rnSrc, rv[${s * sub + 1}:${(s + 1) * sub}] AS sv FROM qr) qs
          CROSS JOIN r${s}c$pIter c)"""
    }.mkString(",\n        ")
    val distJoins = (1 until m)
      .map(s => s"JOIN t$s ON t$s.q_id = t0.q_id AND t$s.cell = cd.cell AND t$s.cid = cd.k${s + 1}")
      .mkString("\n          ")
    val distSum = (0 until m).map(s => s"t$s.d2").mkString(" + ")
    s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ge AS (SELECT vec_id, v FROM e),
        ${kmeansCtes(kCoarse, cIter, "g")},
        re AS MATERIALIZED (
          SELECT a.vec_id, a.cid AS cell,
            list_transform(range(1, len(a.v) + 1), i -> a.v[i] - c.c[i]) AS v
          FROM gaf a JOIN gc$cIter c ON c.cid = a.cid),
        $pqUnrolls,
        codes AS MATERIALIZED (
          SELECT re.vec_id, re.cell, $codeCols FROM re $codeJoins),
        q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
        qc AS MATERIALIZED (
          SELECT q_id, cid AS cell, c$rnQc FROM (
            SELECT q.vec_id AS q_id, c.cid, c.c,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                list_reduce(list_transform(range(1, len(q.v) + 1),
                  i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), (x, y) -> x + y) ASC,
                c.cid ASC) AS rn
            FROM q CROSS JOIN gc$cIter c) z
          WHERE rn <= $nprobe),
        qr AS MATERIALIZED (
          SELECT qc.q_id, qc.cell$rnQr,
            list_transform(range(1, len(q.v) + 1), i -> q.v[i] - qc.c[i]) AS rv
          FROM qc JOIN q ON q.vec_id = qc.q_id),
        $luts,
        dist AS (
          SELECT t0.q_id$rnDist, cd.vec_id AS n_id, round($distSum, 6) AS d2
          FROM codes cd
          JOIN t0 ON t0.cell = cd.cell AND t0.cid = cd.k1
          $distJoins
          WHERE t0.q_id <> cd.vec_id)
        ${if (fin.nonEmpty) fin else s"""SELECT q_id, n_id, d2, rk FROM (
          SELECT q_id, n_id, d2,
            CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS BIGINT) AS rk
          FROM dist) z
        WHERE rk <= $k"""}"""
  }

  /** Unrolled MMR oracle ([[graft.operators.Similarity.mmrRerank]]): the
    * q37 brute-shortlist CTE (with candidate vectors), then k greedy
    * rounds — per round a LEFT join against the selected set (empty at
    * round 1 → max-sim coalesces to 0), the grouped max through the 6-dp
    * cosine ladder, and the per-query (score DESC, n_id ASC) argmax. */
  private def mmrSql(n: Int, k: Int, lambda: String): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val oneMinus = s"(CAST(1 AS DOUBLE) - $lam)"
    def cos(a: String, b: String) =
      s"""round(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0
           THEN 0.0
           ELSE list_dot_product($a, $b) /
                (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END, 6)"""
    val rounds = (1 to k).map { r =>
      s"""ms$r AS (
        SELECT c.q_id, c.n_id, c.rel,
          COALESCE(MAX(${cos("c.v", "s.v")}), CAST(0.0 AS DOUBLE)) AS ms
        FROM rem${r - 1} c LEFT JOIN sel${r - 1} s ON s.q_id = c.q_id
        GROUP BY 1, 2, 3),
      pk$r AS MATERIALIZED (
        SELECT q_id, n_id, CAST($r AS BIGINT) AS mmr_rank,
          round($lam * rel - $oneMinus * ms, 8) AS mmr_score
        FROM ms$r
        QUALIFY row_number() OVER (PARTITION BY q_id
          ORDER BY round($lam * rel - $oneMinus * ms, 8) DESC, n_id ASC) = 1),
      sel$r AS MATERIALIZED (
        SELECT s.q_id, s.n_id, s.mmr_rank, s.mmr_score, s.v FROM sel${r - 1} s
        UNION ALL
        SELECT p.q_id, p.n_id, p.mmr_rank, p.mmr_score, e.e AS v
        FROM pk$r p JOIN emb e ON e.vec_id = p.n_id),
      rem$r AS MATERIALIZED (
        SELECT r.q_id, r.n_id, r.rel, r.v
        FROM rem${r - 1} r LEFT JOIN pk$r p ON p.q_id = r.q_id AND p.n_id = r.n_id
        WHERE p.n_id IS NULL)"""
    }.mkString(",\n      ")
    s"""
      WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      q AS (SELECT * FROM emb WHERE vec_id % 100 = 0),
      sims AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cos("q.e", "c.e")} AS sim
        FROM q CROSS JOIN emb c WHERE q.vec_id <> c.vec_id),
      cand AS MATERIALIZED (
        SELECT s.q_id, s.n_id, s.sim AS rel, c.e AS v FROM (
          SELECT q_id, n_id, sim,
            row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
          FROM sims) s
        JOIN emb c ON c.vec_id = s.n_id
        WHERE s.rk <= $n),
      rem0 AS (SELECT q_id, n_id, rel, v FROM cand),
      sel0 AS (SELECT q_id, n_id, CAST(0 AS BIGINT) AS mmr_rank,
                 CAST(0.0 AS DOUBLE) AS mmr_score, v FROM cand WHERE FALSE),
      $rounds
      SELECT q_id, n_id, mmr_rank, mmr_score FROM sel$k"""
  }

  /** Shared DSIR oracle chain (q135/q136): mirrors [[graft.operators.Dsir]]
    * — row-local hashed unigram+bigram features (empty-token docs dropped,
    * the operator's filter), both add-one bucket models, the 6-dp λ
    * re-sync (10 dp until round 10's ln-ulp fix), and the exact DECIMAL
    * per-doc fold. MATERIALIZED where a
    * frame is read twice (the q81 lesson). */
  private def dsirCtes: String = """seq AS (
      SELECT doc_id, lang,
        list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
      FROM documents),
    fr AS (
      SELECT doc_id, lang = 'en' AS is_t,
        UNNEST(list_concat(
          list_transform(tk, w -> 'u:' || w),
          list_transform(generate_series(1, len(tk) - 1), i -> 'b:' || tk[i] || ' ' || tk[i + 1]))) AS f
      FROM seq WHERE len(tk) > 0),
    fh AS MATERIALIZED (
      SELECT doc_id, is_t,
        CAST('0x' || substr(md5(f), 1, 12) AS BIGINT) % 1024 AS b
      FROM fr),
    raw AS MATERIALIZED (SELECT b, COUNT(*) AS cr FROM fh GROUP BY 1),
    tc AS (SELECT b, COUNT(*) AS ct FROM fh WHERE is_t GROUP BY 1),
    tot AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS nr,
                   (SELECT CAST(SUM(ct) AS BIGINT) FROM tc) AS nt),
    lam AS MATERIALIZED (
      SELECT r.b,
        round(ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / CAST(tot.nt + 1024 AS DOUBLE)), 6) -
          round(ln(CAST(r.cr + 1 AS DOUBLE) / CAST(tot.nr + 1024 AS DOUBLE)), 6) AS lam
      FROM raw r LEFT JOIN tc t ON r.b = t.b CROSS JOIN tot),
    db AS (SELECT doc_id, b, COUNT(*) AS nb FROM fh GROUP BY 1, 2),
    w AS MATERIALIZED (
      SELECT d.doc_id, CAST(SUM(d.nb) AS BIGINT) AS n_feats,
        round(CAST(SUM(CAST(round(CAST(d.nb AS DOUBLE) * l.lam, 10) AS DECIMAL(30,10))) AS DOUBLE), 8) AS logw
      FROM db d JOIN lam l ON d.b = l.b GROUP BY 1)"""

  /** Unrolled DuckDB replay of [[graft.operators.Bpe.train]]: one
    * (pair-count, argmax, merge-apply) CTE triple per round. MATERIALIZED
    * is load-bearing — each round references the previous state twice, so
    * DuckDB's default CTE inlining would expand 2^rounds scans. The merge
    * application is a list_reduce fold over chr(1)-joined symbols: append
    * `x` with a separator unless the accumulator's LAST symbol is exactly
    * `l` and `x = r`, in which case append `x` bare (symbols never contain
    * chr(1), so the separator check is exact) — provably equivalent to the
    * Spark side's single greedy pass (see [[graft.functions.BpeOps]]).
    * LEFT JOIN ON TRUE keeps rounds past pair exhaustion as no-ops, which
    * matches the Spark loop's early stop. Ends with CTEs `toks`, `merges`,
    * and `r<n>` open for the caller's final SELECT. */
  private def bpeTrainSql(rounds: Int): String =
    """
        WITH toks AS MATERIALIZED (
          SELECT doc_id, t AS word FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
              t -> t <> '')) AS t FROM documents)),
        """ + bpeBody(rounds)

  /** [[bpeTrainSql]]'s CTE chain without the WITH/toks prelude — for
    * composition into multi-tokenizer oracles (q188). `prefix` renames
    * every round CTE (`${prefix}r0`…) so two trainer chains coexist in
    * one WITH; `wordSource` names the (…, word) relation the seed counts
    * read. Ends with `${prefix}merges` open. */
  private def bpeBody(rounds: Int, prefix: String = "",
                      wordSource: String = "toks"): String = {
    val base = s"""${prefix}r0 AS MATERIALIZED (
          SELECT word, COUNT(*) AS cnt, string_split(word, '') AS syms
          FROM $wordSource GROUP BY word)"""
    val loop = (1 to rounds).map { i =>
      s"""
        ${prefix}p$i AS MATERIALIZED (
          SELECT syms[u.i] AS l, syms[u.i+1] AS r, SUM(cnt) AS c
          FROM ${prefix}r${i - 1}, UNNEST(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
        ${prefix}b$i AS MATERIALIZED (SELECT l, r FROM ${prefix}p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
        ${prefix}r$i AS MATERIALIZED (
          SELECT word, cnt, string_split(list_reduce(syms, (acc, x) -> CASE
              WHEN x = b.r AND (acc = b.l OR ends_with(acc, chr(1) || b.l))
              THEN acc || x ELSE acc || chr(1) || x END), chr(1)) AS syms
          FROM ${prefix}r${i - 1} LEFT JOIN ${prefix}b$i AS b ON TRUE)"""
    }.mkString(",", ",", "")
    val merges = (1 to rounds)
      .map(i => s"SELECT $i AS rank, l, r FROM ${prefix}b$i")
      .mkString(s",\n        ${prefix}merges AS (", " UNION ALL ", ")")
    base + loop + merges
  }

  /** Unrolled DuckDB replay of [[graft.operators.Bpe.trainWordPiece]]:
    * [[bpeTrainSql]]'s round triple plus a per-round symbol-occurrence
    * census `s<i>`, with the argmax ordered by the WordPiece likelihood
    * `round(c / (cs_l · cs_r), 12)` (both factors cast to DOUBLE before
    * multiplying — the same overflow-safe form the Spark side uses) and
    * the identical (score desc, l asc, r asc) tie-break. Merge application
    * is byte-for-byte bpeTrainSql's list_reduce fold. Ends with `merges
    * (rank, l, r, score)` open for the caller's final SELECT. */
  private def wordPieceSql(rounds: Int): String =
    """
        WITH toks AS MATERIALIZED (
          SELECT doc_id, t AS word FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
              t -> t <> '')) AS t FROM documents)),
        """ + wordPieceBody(rounds)

  /** [[wordPieceSql]]'s CTE chain without the WITH/toks prelude — the
    * [[bpeBody]] composition contract with the per-round symbol census
    * and likelihood argmax. Ends with `${prefix}merges` open. */
  private def wordPieceBody(rounds: Int, prefix: String = "",
                            wordSource: String = "toks"): String = {
    val base = s"""${prefix}r0 AS MATERIALIZED (
          SELECT word, COUNT(*) AS cnt, string_split(word, '') AS syms
          FROM $wordSource GROUP BY word)"""
    val loop = (1 to rounds).map { i =>
      s"""
        ${prefix}s$i AS MATERIALIZED (
          SELECT s, CAST(SUM(cnt) AS BIGINT) AS cs
          FROM (SELECT unnest(syms) AS s, cnt FROM ${prefix}r${i - 1}) u GROUP BY 1),
        ${prefix}p$i AS MATERIALIZED (
          SELECT syms[u.i] AS l, syms[u.i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS c
          FROM ${prefix}r${i - 1}, UNNEST(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
        ${prefix}b$i AS MATERIALIZED (
          SELECT p.l, p.r,
            round(CAST(p.c AS DOUBLE) / (CAST(sl.cs AS DOUBLE) * CAST(sr.cs AS DOUBLE)), 12) AS score
          FROM ${prefix}p$i p JOIN ${prefix}s$i sl ON sl.s = p.l JOIN ${prefix}s$i sr ON sr.s = p.r
          ORDER BY score DESC, p.l ASC, p.r ASC LIMIT 1),
        ${prefix}r$i AS MATERIALIZED (
          SELECT word, cnt, string_split(list_reduce(syms, (acc, x) -> CASE
              WHEN x = b.r AND (acc = b.l OR ends_with(acc, chr(1) || b.l))
              THEN acc || x ELSE acc || chr(1) || x END), chr(1)) AS syms
          FROM ${prefix}r${i - 1} LEFT JOIN ${prefix}b$i AS b ON TRUE)"""
    }.mkString(",", ",", "")
    val merges = (1 to rounds)
      .map(i => s"SELECT $i AS rank, l, r, score FROM ${prefix}b$i")
      .mkString(s",\n        ${prefix}merges AS (", " UNION ALL ", ")")
    base + loop + merges
  }

  /** Shared by q70/q72/q191/q220/q226/q232: every doc labeled with the min
    * doc_id of its q33-pair connected component; singleton docs label
    * themselves. Delegates to [[graft.operators.DupClusters]], whose
    * [[graft.SessionMemo]] makes the six deployments in one session pay the
    * CC chain once (Bench's SessionMemo snapshot/restore keeps each row's
    * timed pass measuring its marginal work). */
  private def dupClusterAssignment(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.DupClusters.assignment(docs(s, dir))
}
