package graft

import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.Filter

/** Catalog-wide plan lints over one build of every row. First, the standing
  * CI guard: NO query may evaluate a tokenization
  * (the Tokens kernel or a RegExpReplace — PlanProbes.tokenizations)
  * inside a LAMBDA BODY inside a Filter predicate. This is the q73 retokenize trap's
  * machine check, generalized from CurationPlanSpec's hand-picked list
  * after round 12 demonstrated the trap is still reachable: q210's first
  * draft materialized its gram array as an attribute,
  * InferFiltersFromGenerate inferred `size(grams) > 0`, and pushdown
  * re-expanded the alias into a scan-side Filter whose transform LAMBDA
  * carried the whole tokenize tree — re-evaluated once per gram POSITION
  * per row in interpreted HOF code (43 s vs 2.3 s at sf0.1, invisible to
  * every correctness check).
  *
  * The lint keys on lambda bodies, not on any tokenization in a Filter: a
  * plain per-row gate like `size(tokens(text)) > k` costs one bounded
  * extra tokenize per row (eight catalog queries legitimately carry that
  * shape — q100's length gate family), while a tokenize inside a lambda
  * multiplies by the collection size. Pinned set: EMPTY — a name appearing
  * here means a Generate input regressed to an attribute (or a
  * hand-written per-element filter over raw text); fix the plan shape
  * (the q73 contract: tokens in their own projection, explode over the
  * non-attribute shingles expression), don't pin.
  */
// Slow tier (VERDICT r12 #4): excluded from the default `sbt test` run —
// the full tier runs with GRAFT_SLOW_TESTS=1 (round_close.sh does).
@org.scalatest.tags.Slow
class CatalogFilterLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every catalog row built once: (name, tokenizations inside Filter
    * lambdas of its optimized plan, whether its initial physical plan holds
    * a non-integral hashed broadcast). Both lints read this one walk. */
  private lazy val walk: Seq[(String, Int, Boolean)] = SparkEntry.all.map { q =>
    Caching.scoped {
      val df = q.run(spark, dir)
      val n = df.queryExecution.optimizedPlan.collect {
        case f: Filter =>
          f.condition.collect {
            case l: LambdaFunction =>
              PlanProbes.tokenizations(l.function)
          }.sum
      }.sum
      (q.name, n, PlanProbes.broadcastsIn(df.queryExecution.executedPlan).exists(_.nonIntegralHash))
    }
  }

  test("no catalog query tokenizes inside a Filter lambda (per-element re-eval)") {
    val offenders = walk.collect { case (name, n, _) if n > 0 => name -> n }
    assert(offenders.isEmpty,
      s"tokenize-in-Filter-lambda offenders (fix the plan shape, don't pin): $offenders")
  }

  /** Which rows build a broadcast hashed relation on a non-integral key: an
    * `UnsafeHashedRelation`, whose first `BytesToBytesMap` page is a whole
    * memory page (64 MB under an 8 GB heap on 4 cores) however few rows it
    * holds, kept by every executor until the broadcast is cleaned. An
    * integral key packs into one long and builds a `LongHashedRelation` of
    * about 1 MB instead. The initial physical plan is read (the joins the
    * planner chose before any stage ran, size-based broadcasts included).
    * COVERAGE.md lists the rows: the worklist of side tables to bring into
    * the plan another way. A change that adds such a broadcast raises the
    * count; one that removes any lowers the pin. */
  test("catalog rows with a non-integral hashed broadcast: pinned count") {
    val rows = walk.collect { case (name, _, true) => name }
    info(s"${rows.size} rows: ${rows.mkString(", ")}")
    val classify = Set("q21_tfidf", "q30_nb_predict", "q31_nb_accuracy", "q65_nb_confusion",
      "q66_nb_class_metrics", "q68_nb_reference_compat")
    assert(!rows.exists(classify), rows)
    assert(rows.size == 58, rows)
  }
}
