package graft.queries

import graft.QueryDef
import graft.functions.Exprs.tokens
import graft.ml.{Evaluate, Knn, NaiveBayes}
import graft.operators.TextPipeline
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Classifier queries (SURVEY.md §2.7 M1/M2 + A7): kNN over the embeddings
  * table, multinomial NB over documents (label = lang), each with an accuracy
  * query. Splits are deterministic (`id % 10 == 0` → test).
  */
object Ml {

  private val embCte = s"""
    emb AS (SELECT vec_id, CAST(label AS BIGINT) AS label, ${OracleSql.vec} AS e FROM embeddings),
    test AS (SELECT * FROM emb WHERE vec_id % 10 = 0),
    train AS (SELECT * FROM emb WHERE vec_id % 10 <> 0),
    sims AS (
      SELECT t.vec_id AS q_id, r.vec_id AS n_id, r.label AS n_label,
        ${OracleSql.cosine("t.e", "r.e")} AS sim
      FROM test t CROSS JOIN train r),
    topk AS (
      SELECT * FROM (
        SELECT q_id, n_id, n_label, sim,
          ${OracleSql.rank("sim DESC")} AS rk
        FROM sims) s
      WHERE rk <= 5),
    votes AS (SELECT q_id, n_label, COUNT(*) AS votes FROM topk GROUP BY 1, 2),
    knn_pred AS (
      SELECT q_id AS vec_id, n_label AS pred FROM (
        SELECT q_id, n_label,
          row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label ASC) AS rn
        FROM votes) v
      WHERE rn = 1)"""

  private def embSplit(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e = Tables(s, dir, "embeddings").select(col("vec_id").as("id"),
      col("label").cast(LongType).as("label"), col("embedding").cast("array<double>").as("vec"))
    (e.filter(col("id") % 10 === 0), e.filter(col("id") % 10 =!= 0))
  }

  private val nbCte = s"""
    ${OracleSql.toksCte},
    train_toks AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
    test_toks AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
    tc AS (SELECT lang AS label, term, COUNT(*) AS tcnt FROM train_toks GROUP BY 1, 2),
    ct AS (SELECT label, CAST(SUM(tcnt) AS BIGINT) AS total FROM tc GROUP BY 1),
    tdocs AS (SELECT DISTINCT doc_id, lang FROM train_toks),
    nd AS (SELECT COUNT(*) AS n FROM tdocs),
    pr AS (SELECT lang AS label, CAST(COUNT(*) AS DOUBLE)/CAST((SELECT n FROM nd) AS DOUBLE) AS prior
           FROM tdocs GROUP BY 1),
    vs AS (SELECT COUNT(DISTINCT term) AS v FROM tc),
    tcnts AS (
      SELECT c.doc_id, c.term, c.cnt FROM
        (SELECT doc_id, term, COUNT(*) AS cnt FROM test_toks GROUP BY 1, 2) c
      JOIN (SELECT DISTINCT term FROM tc) vt ON c.term = vt.term),
    classes AS (SELECT ct.label, ct.total, pr.prior FROM ct JOIN pr ON ct.label = pr.label),
    scored AS (
      SELECT x.doc_id, c.label,
        SUM(CAST(x.cnt AS DOUBLE) *
            ln((CAST(COALESCE(m.tcnt, 0) AS DOUBLE) + 1.0) /
               (CAST(c.total AS DOUBLE) + CAST((SELECT v FROM vs) AS DOUBLE)))) +
          ln(MAX(c.prior)) AS score
      FROM tcnts x
      CROSS JOIN classes c
      LEFT JOIN tc m ON m.label = c.label AND m.term = x.term
      GROUP BY 1, 2),
    nb_pred AS (
      SELECT doc_id, label AS pred FROM (
        SELECT doc_id, label,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
        FROM scored) t
      WHERE rn = 1)"""

  /** The naive-Bayes rows' inputs, `doc_id % 10 = 0` the test split:
    * training tokens (doc_id, label, term), test tokens (doc_id, term), and
    * the oracle's `truth` (`DISTINCT doc_id, lang FROM test_toks`) read from
    * the test documents that have at least one token, with no explode.
    * The test documents are keyed on `doc_id` once, before tokenizing
    * ([[TextPipeline.byDoc]]): test tokens and `truth` both come from them,
    * so the scoring's (doc_id, term) and (doc_id, label) aggregates, its
    * argmax window and the `truth` distinct add no exchange. The training
    * side keys on label and term, so it stays as it is. */
  private case class NbParts(train: DataFrame, test: DataFrame, truth: DataFrame)

  private def nbParts(s: org.apache.spark.sql.SparkSession, dir: String): NbParts = {
    val docs = Tables(s, dir, "documents")
    val isTest = col("doc_id") % 10 === 0
    val testDocs = TextPipeline.byDoc(docs.filter(isTest))
    NbParts(
      train = TextPipeline.tokenize(docs.filter(!isTest), keep = Seq("doc_id", "lang"))
        .withColumnRenamed("lang", "label"),
      test = TextPipeline.tokenize(testDocs),
      truth = testDocs.filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"), col("lang").as("truth")).distinct())
  }

  /** (doc_id, pred, truth): the standard predictions joined to `truth`. Both
    * sides are partitioned on `doc_id` by [[nbParts]], so the join is a
    * sort-merge join with no exchange and no broadcast job. */
  private def nbScored(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = nbParts(s, dir)
    NaiveBayes.predict(p.test, NaiveBayes.train(p.train))
      .join(p.truth.hint("shuffle_merge"), "doc_id")
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q27_knn_neighbors",
      (s, dir) => {
        val (test, train) = embSplit(s, dir)
        Knn.neighbors(test, train, k = 5)
      },
      oracle = Some(s"""
        WITH $embCte
        SELECT q_id, n_id, n_label, sim, rk FROM topk"""),
      bench = true),

    QueryDef("q28_knn_predict",
      (s, dir) => {
        val (test, train) = embSplit(s, dir)
        Knn.classify(test, train, k = 5)
          .select(col("q_id").as("vec_id"), col("pred"))
      },
      oracle = Some(s"""
        WITH $embCte
        SELECT vec_id, pred FROM knn_pred""")),

    QueryDef("q29_knn_accuracy",
      (s, dir) => {
        val (test, train) = embSplit(s, dir)
        val scored = Knn.classify(test, train, k = 5)
          .join(test.select(col("id").as("q_id"), col("label").as("truth")), "q_id")
        Evaluate.accuracy(scored)
      },
      oracle = Some(s"""
        WITH $embCte
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN p.pred = t.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          CAST(SUM(CASE WHEN p.pred = t.label THEN 1 ELSE 0 END) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM knn_pred p JOIN test t ON p.vec_id = t.vec_id""")),

    QueryDef("q30_nb_predict",
      (s, dir) => {
        val p = nbParts(s, dir)
        NaiveBayes.predict(p.test, NaiveBayes.train(p.train))
      },
      oracle = Some(s"""
        WITH $nbCte
        SELECT doc_id, pred FROM nb_pred"""),
      bench = true),

    // Evaluation beyond accuracy: the confusion matrix and per-class
    // precision/recall/F1 — the metrics a classifier user actually reads.
    QueryDef("q65_nb_confusion",
      (s, dir) => Evaluate.confusion(nbScored(s, dir)),
      oracle = Some(s"""
        WITH $nbCte,
        truth AS (SELECT DISTINCT doc_id, lang FROM test_toks)
        SELECT t.lang AS truth, p.pred, COUNT(*) AS n
        FROM nb_pred p JOIN truth t ON p.doc_id = t.doc_id
        GROUP BY 1, 2""")),

    QueryDef("q66_nb_class_metrics",
      (s, dir) => Evaluate.classMetrics(nbScored(s, dir)),
      oracle = Some(s"""
        WITH $nbCte,
        truth AS (SELECT DISTINCT doc_id, lang FROM test_toks),
        ev AS (
          SELECT t.lang AS truth, p.pred FROM nb_pred p JOIN truth t ON p.doc_id = t.doc_id),
        ev_classes AS (
          SELECT DISTINCT truth AS label FROM ev
          UNION SELECT DISTINCT pred FROM ev),
        ev_tp AS (SELECT truth AS label, COUNT(*) AS tp FROM ev WHERE truth = pred GROUP BY 1),
        ev_tr AS (SELECT truth AS label, COUNT(*) AS n_truth FROM ev GROUP BY 1),
        ev_pr AS (SELECT pred AS label, COUNT(*) AS n_pred FROM ev GROUP BY 1),
        base AS (
          SELECT c.label,
            CAST(COALESCE(ev_tp.tp, 0) AS BIGINT) AS tp,
            CAST(COALESCE(ev_pr.n_pred, 0) - COALESCE(ev_tp.tp, 0) AS BIGINT) AS fp,
            CAST(COALESCE(ev_tr.n_truth, 0) - COALESCE(ev_tp.tp, 0) AS BIGINT) AS fn
          FROM ev_classes c
          LEFT JOIN ev_tp ON ev_tp.label = c.label
          LEFT JOIN ev_tr ON ev_tr.label = c.label
          LEFT JOIN ev_pr ON ev_pr.label = c.label),
        pr2 AS (
          SELECT label, tp, fp, fn,
            CASE WHEN tp + fp = 0 THEN 0.0
                 ELSE CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE) END AS "precision",
            CASE WHEN tp + fn = 0 THEN 0.0
                 ELSE CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE) END AS recall
          FROM base)
        SELECT label, tp, fp, fn, "precision", recall,
          CASE WHEN "precision" + recall = 0.0 THEN 0.0
               ELSE 2.0 * "precision" * recall / ("precision" + recall) END AS f1
        FROM pr2""")),

    // The kNN scale path (train beyond broadcast) wired end-to-end and
    // driver-visible: multi-probe LSH candidates → bounded-heap top-k →
    // majority vote. Approximate, so the row is an oracle-checked INVARIANT
    // (q50's pattern): Spark genuinely computes agreement of the LSH
    // predictions with the exact broadcast-kNN predictions over every test
    // vector and thresholds it; the oracle pins the expected verdict + query
    // universe. A recall regression in bucketing, probing, TopK or vote flips
    // agree_ok → fails. Measured agreement at planes=5/reps=10 with Hamming-1
    // query probing: 0.98 (sf0.001), 0.98 (sf0.01), 0.96 (sf0.1) — the 0.8
    // bar has margin at every driver SF. planes scales as log2(N/bucket) on
    // real corpora; 5 matches these fixture sizes.
    QueryDef("q67_knn_predict_lsh",
      (s, dir) => {
        val (test, train) = embSplit(s, dir)
        val lsh = Knn.classifyLsh(test, train, k = 5, planes = 5, reps = 10)
          .withColumnRenamed("pred", "pred_lsh")
        val exact = Knn.classify(test, train, k = 5)
          .withColumnRenamed("pred", "pred_exact")
        // left joins from the full test universe: a query LSH finds no
        // candidates for counts as disagreement, not as a dropped row
        test.select(col("id").as("q_id"))
          .join(lsh, Seq("q_id"), "left")
          .join(exact, Seq("q_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("pred_lsh") === col("pred_exact"), 1L).otherwise(0L)).as("n_agree"))
          .select(lit("knn_lsh_agreement").as("metric"),
            col("n_queries"),
            (col("n_agree").cast("double") / col("n_queries").cast("double") >= 0.8d)
              .as("agree_ok"))
      },
      oracle = Some("""
        SELECT 'knn_lsh_agreement' AS metric, CAST(COUNT(*) AS BIGINT) AS n_queries,
               true AS agree_ok
        FROM embeddings WHERE vec_id % 10 = 0""")),

    // The reference's aberrant NB scoring preserved behind referenceCompat
    // (PredictMapper.java:78-86: product of the per-term logs, count-weighted
    // by pow, times log prior, abs, then argMIN) — driver-visible as its own
    // oracle row instead of living only behind a flag + ScalaTest.
    QueryDef("q68_nb_reference_compat",
      (s, dir) => {
        val p = nbParts(s, dir)
        NaiveBayes.predict(p.test, NaiveBayes.train(p.train), referenceCompat = true)
      },
      oracle = Some(s"""
        WITH $nbCte,
        scored_rc AS (
          SELECT x.doc_id, c.label,
            abs(product(pow(
                  round(ln((CAST(COALESCE(m.tcnt, 0) AS DOUBLE) + 1.0) /
                     (CAST(c.total AS DOUBLE) + CAST((SELECT v FROM vs) AS DOUBLE))), 10),
                  x.cnt)) * ln(MAX(c.prior))) AS score
          FROM tcnts x
          CROSS JOIN classes c
          LEFT JOIN tc m ON m.label = c.label AND m.term = x.term
          GROUP BY 1, 2),
        rc_pred AS (
          SELECT doc_id, label AS pred FROM (
            SELECT doc_id, label,
              row_number() OVER (PARTITION BY doc_id ORDER BY score ASC, label ASC) AS rn
            FROM scored_rc) t
          WHERE rn = 1)
        SELECT doc_id, pred FROM rc_pred""")),

    QueryDef("q31_nb_accuracy",
      (s, dir) => Evaluate.accuracy(nbScored(s, dir)),
      oracle = Some(s"""
        WITH $nbCte,
        truth AS (SELECT DISTINCT doc_id, lang FROM test_toks)
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN p.pred = t.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          CAST(SUM(CASE WHEN p.pred = t.lang THEN 1 ELSE 0 END) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM nb_pred p JOIN truth t ON p.doc_id = t.doc_id""")),

    // Nearest-centroid (Rocchio) classification — the third classifier
    // family beside kNN (q27–q29) and NB (q30/q31), and the cheapest at
    // scale: training is ONE grouped exact-decimal mean (12-dp, the PCA
    // mu ladder) and inference one |labels|-row BROADCAST against the test
    // scan — no n×n similarity join anywhere. Squared-L2 argmin through
    // the shared sequential-fold dot product, ties to the smaller label.
    // Same vec_id % 10 split as the kNN family.
    QueryDef("q146_centroid_classify",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast(LongType).as("label"),
            col("embedding").cast("array<double>").as("v"))
        val train = e.filter(col("vec_id") % 10 =!= 0)
        val test = e.filter(col("vec_id") % 10 === 0)
        val cents = train
          .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("label").as("clabel"), col("pos"))
          .agg(round(sum(round(col("x"), 12).cast(DecimalType(30, 12))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 12).as("c"))
          .groupBy(col("clabel"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as("cv"))
        import graft.functions.Exprs.dot
        val scored = test.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("label"), col("clabel"),
            round(dot(col("v"), col("v")) - lit(2.0d) * dot(col("v"), col("cv")) +
              dot(col("cv"), col("cv")), 8).as("d2"))
        scored
          .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
            .orderBy(col("d2").asc, col("clabel").asc)))
          .filter(col("rn") === 1)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("clabel") === col("label"), 1L).otherwise(0L)).as("n_correct"),
            round(sum(when(col("clabel") === col("label"), 1L).otherwise(0L))
              .cast(DoubleType) / count(lit(1)).cast(DoubleType), 8).as("acc"))
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                     ${OracleSql.vec} AS v FROM embeddings),
        tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
        te AS (SELECT * FROM e WHERE vec_id % 10 = 0),
        mu AS MATERIALIZED (
          SELECT label AS clabel, pos,
            round(CAST(SUM(CAST(round(x, 12) AS DECIMAL(30,12))) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 12) AS c
          FROM (SELECT label, UNNEST(v) AS x, UNNEST(range(1, len(v) + 1)) AS pos FROM tr) u
          GROUP BY 1, 2),
        ca AS MATERIALIZED (SELECT clabel, list(c ORDER BY pos) AS cv FROM mu GROUP BY 1),
        sc AS (
          SELECT t.vec_id, t.label, c.clabel,
            round(${OracleSql.sqdistByDots("t.v", "c.cv")}, 8) AS d2
          FROM te t CROSS JOIN ca c),
        pred AS (
          SELECT vec_id, label, clabel FROM sc
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC) = 1)
        SELECT label, COUNT(*) AS n_test,
          CAST(SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          round(CAST(SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 8) AS acc
        FROM pred GROUP BY 1"""),
      bench = true),

    // Inter-label centroid distance matrix — embedding-space separation /
    // domain-drift diagnostics: exact 12-dp per-label means (the q146
    // training pass over ALL vectors), then every label pair's L2 distance
    // through the shared sequential-fold dot product. The output is
    // |labels|²-bounded; the corpus appears only in the one grouped mean.
    QueryDef("q165_centroid_dists",
      (s, dir) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val cents = Tables(s, dir, "embeddings")
          .select(col("label").cast(LongType).as("label"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg(round(sum(round(col("x"), 12).cast(DecimalType(30, 12))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 12).as("c"))
          .groupBy(col("label"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as("cv"))
        val a = cents.select(col("label").as("label_a"), col("cv").as("va"))
        val b = cents.select(col("label").as("label_b"), col("cv").as("vb"))
        import graft.functions.Exprs.dot
        a.join(b, col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"),
            round(sqrt(dot(col("va"), col("va")) - lit(2.0d) * dot(col("va"), col("vb")) +
              dot(col("vb"), col("vb"))), 8).as("dist"))
      },
      oracle = Some(s"""
        WITH e AS (SELECT CAST(label AS BIGINT) AS label,
                     ${OracleSql.vec} AS v FROM embeddings),
        mu AS MATERIALIZED (
          SELECT label, pos,
            round(CAST(SUM(CAST(round(x, 12) AS DECIMAL(30,12))) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 12) AS c
          FROM (SELECT label, UNNEST(v) AS x, UNNEST(range(1, len(v) + 1)) AS pos FROM e) u
          GROUP BY 1, 2),
        ca AS MATERIALIZED (SELECT label, list(c ORDER BY pos) AS cv FROM mu GROUP BY 1)
        SELECT a.label AS label_a, b.label AS label_b,
          round(sqrt(${OracleSql.sqdistByDots("a.cv", "b.cv")}), 8) AS dist
        FROM ca a JOIN ca b ON a.label < b.label"""),
      bench = true),

    // Deterministic resampling confidence interval for classifier
    // accuracy — eval RIGOR as dataflow: a headline accuracy number with
    // no spread is half a result, so 64 half-sample replicas (doc d joins
    // replica b iff the portable md5-60 coin on "boot:b:d" is even — the
    // hash-seeded subsampling bootstrap, reproducible in any engine,
    // no RNG) each re-score the q31 NB predictions, and the 5th/95th
    // percentile of the sorted replica accuracies bracket the point
    // estimate. Everything integer: per-replica accuracy is
    // (1e6·correct) DIV n, the CI picks ranks 4 and 61 of the 64-long
    // sorted array, the mean is an integer DIV. Shape at scale: the
    // replica explosion is ×64 of the SCORED frame (already
    // eval-suite-sized, not corpus-sized) collapsing map-side to 64
    // rows — the corpus is never touched ×64.
    QueryDef("q192_accuracy_ci",
      (s, dir) => {
        import graft.functions.Exprs
        val scored = nbScored(s, dir)
          .select(col("doc_id"), (col("truth") === col("pred")).as("ok"))
        val full = scored.agg(
          expr("(1000000 * sum(case when ok then 1 else 0 end)) div count(1)")
            .as("acc_full_e6"))
        val reps = scored
          .select(col("doc_id"), col("ok"), explode(sequence(lit(0), lit(63))).as("b"))
          .filter(Exprs.h60(concat(lit("boot:"), col("b"), lit(":"), col("doc_id"))) % 2 === 0)
          .groupBy(col("b"))
          .agg(expr("(1000000 * sum(case when ok then 1 else 0 end)) div count(1)")
            .as("acc_e6"))
        // Ranks and the mean divisor derive from size(accs), not literal
        // 64: a replica whose hash coin drew zero docs vanishes from the
        // groupBy, and element_at on a hardcoded rank would throw under
        // ANSI where DuckDB yields NULL. ceil(n*.05)=4 / ceil(n*.95)=61
        // at n=64, so the full-replica case is value-identical.
        val ci = reps.agg(sort_array(collect_list(col("acc_e6"))).as("accs"))
          .select(size(col("accs")).cast(org.apache.spark.sql.types.LongType)
              .as("n_replicas"),
            expr("case when size(accs) = 0 then null else " +
              "aggregate(accs, CAST(0 AS BIGINT), (a, x) -> a + x) div size(accs) end")
              .as("acc_mean_e6"),
            expr("case when size(accs) = 0 then null else " +
              "element_at(accs, greatest(1, cast(ceil(size(accs) * 0.05) as int))) end")
              .as("acc_p05_e6"),
            expr("case when size(accs) = 0 then null else " +
              "element_at(accs, cast(ceil(size(accs) * 0.95) as int)) end")
              .as("acc_p95_e6"))
        full.crossJoin(ci)
          .select(col("n_replicas"), col("acc_full_e6"), col("acc_mean_e6"),
            col("acc_p05_e6"), col("acc_p95_e6"))
      },
      oracle = Some(s"""
        WITH $nbCte,
        truth AS (SELECT DISTINCT doc_id, lang FROM test_toks),
        sc AS (SELECT p.doc_id, (p.pred = t.lang) AS ok
               FROM nb_pred p JOIN truth t USING (doc_id)),
        reps AS (
          SELECT b,
            (1000000 * SUM(CASE WHEN ok THEN 1 ELSE 0 END)) // COUNT(*) AS acc_e6
          FROM sc, UNNEST(range(64)) AS tb(b)
          WHERE ${OracleSql.h60("'boot:' || b || ':' || doc_id")} % 2 = 0
          GROUP BY 1),
        arr AS (SELECT list_sort(list(acc_e6)) AS accs, COUNT(*) AS n FROM reps),
        f AS (SELECT (1000000 * SUM(CASE WHEN ok THEN 1 ELSE 0 END)) // COUNT(*) AS acc_full_e6
              FROM sc)
        SELECT CAST(arr.n AS BIGINT) AS n_replicas,
          CAST(f.acc_full_e6 AS BIGINT) AS acc_full_e6,
          CASE WHEN arr.n = 0 THEN NULL ELSE
            CAST(CAST(list_sum(arr.accs) AS BIGINT) // arr.n AS BIGINT) END AS acc_mean_e6,
          CASE WHEN arr.n = 0 THEN NULL ELSE
            CAST(arr.accs[GREATEST(1, CAST(ceil(arr.n * 0.05) AS INT))] AS BIGINT) END AS acc_p05_e6,
          CASE WHEN arr.n = 0 THEN NULL ELSE
            CAST(arr.accs[CAST(ceil(arr.n * 0.95) AS INT)] AS BIGINT) END AS acc_p95_e6
        FROM arr, f""")),

    // Worst-group evaluation (the group-DRO report, Sagawa et al. ICLR
    // 2020): a classifier's headline accuracy can hide a collapsed
    // minority group, so the q31 predictions are re-scored PER TRUE CLASS
    // and the report carries the worst and best group with the gap —
    // the number a data-mixing loop (q98) actually optimizes against.
    // Deterministic extremes via the sorted-struct array (ties break on
    // group name — no min_by tie ambiguity); integer accuracies
    // throughout. One grouped count + a |groups|-sized array fold.
    QueryDef("q193_worst_group",
      (s, dir) => {
        val scored = nbScored(s, dir)
          .select(col("truth").as("grp"), (col("truth") === col("pred")).as("ok"))
        val per = scored.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("ok"), 1L).otherwise(0L)).as("nc"))
          .select(col("grp"), col("n"), col("nc"),
            expr("(1000000 * nc) div n").as("acc_e6"))
        val overall = scored.agg(
          expr("(1000000 * sum(case when ok then 1 else 0 end)) div count(1)")
            .as("overall_e6"))
        per.agg(count(lit(1)).as("n_groups"),
            array_sort(collect_list(struct(col("acc_e6"), col("grp")))).as("a"))
          .select(col("n_groups"),
            element_at(col("a"), 1).getField("grp").as("worst_grp"),
            element_at(col("a"), 1).getField("acc_e6").as("worst_acc_e6"),
            element_at(col("a"), -1).getField("grp").as("best_grp"),
            element_at(col("a"), -1).getField("acc_e6").as("best_acc_e6"))
          .crossJoin(overall)
          .select(col("n_groups"), col("overall_e6"), col("worst_grp"),
            col("worst_acc_e6"), col("best_grp"), col("best_acc_e6"),
            (col("best_acc_e6") - col("worst_acc_e6")).as("gap_e6"))
      },
      oracle = Some(s"""
        WITH $nbCte,
        truth AS (SELECT DISTINCT doc_id, lang FROM test_toks),
        sc AS (SELECT t.lang AS grp, (p.pred = t.lang) AS ok
               FROM nb_pred p JOIN truth t USING (doc_id)),
        per AS (
          SELECT grp, (1000000 * SUM(CASE WHEN ok THEN 1 ELSE 0 END)) // COUNT(*) AS acc_e6
          FROM sc GROUP BY 1),
        arr AS (
          SELECT COUNT(*) AS n_groups,
            list_sort(list({'acc_e6': acc_e6, 'grp': grp})) AS a
          FROM per),
        ov AS (SELECT (1000000 * SUM(CASE WHEN ok THEN 1 ELSE 0 END)) // COUNT(*) AS overall_e6
               FROM sc)
        SELECT CAST(arr.n_groups AS BIGINT) AS n_groups,
          CAST(ov.overall_e6 AS BIGINT) AS overall_e6,
          arr.a[1].grp AS worst_grp, CAST(arr.a[1].acc_e6 AS BIGINT) AS worst_acc_e6,
          arr.a[-1].grp AS best_grp, CAST(arr.a[-1].acc_e6 AS BIGINT) AS best_acc_e6,
          CAST(arr.a[-1].acc_e6 - arr.a[1].acc_e6 AS BIGINT) AS gap_e6
        FROM arr, ov"""))
  )
}
