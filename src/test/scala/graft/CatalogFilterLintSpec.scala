package graft

import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.Filter

/** Standing CI guard, catalog-wide: NO query may evaluate a tokenization
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

  test("no catalog query tokenizes inside a Filter lambda (per-element re-eval)") {
    val offenders = SparkEntry.all.flatMap { q =>
      Caching.scoped {
        val n = q.run(spark, dir).queryExecution.optimizedPlan.collect {
          case f: Filter =>
            f.condition.collect {
              case l: LambdaFunction =>
                PlanProbes.tokenizations(l.function)
            }.sum
        }.sum
        if (n > 0) Some(q.name -> n) else None
      }
    }
    assert(offenders.isEmpty,
      s"tokenize-in-Filter-lambda offenders (fix the plan shape, don't pin): $offenders")
  }
}
