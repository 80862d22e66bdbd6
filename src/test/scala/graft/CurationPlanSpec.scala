package graft

import org.apache.spark.sql.catalyst.plans.logical.Filter

/** Plan-shape guards for the curation text queries — the round-6 probe
  * caught q73's inline `shingles(tokens(text))` being copied by
  * InferFiltersFromGenerate + predicate pushdown into a per-row Filter
  * predicate, where the tokens tree inside the transform lambda
  * re-tokenized once per shingle POSITION (sf0.1 base went from seconds to
  * 11+ minutes). The fixed shape: tokens in their own projection, explode
  * over a non-attribute expression. These tests pin both properties. */
// Slow tier (VERDICT r12 #4): excluded from the default `sbt test` run —
// the full tier runs with GRAFT_SLOW_TESTS=1 (round_close.sh does).
@org.scalatest.tags.Slow
class CurationPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def optimized(name: String) =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan

  /** Tokenizations inside Filter predicates — must be ZERO: a pushed-down
    * predicate re-evaluating the tokenize/shingle tree per row is the
    * 33x-retokenize trap in its round-6 disguise. */
  private def filterTokenizations(name: String): Int =
    optimized(name).collect { case f: Filter =>
      PlanProbes.tokenizations(f.condition)
    }.sum

  /** Total tokenizations anywhere in the plan — bounded by the number of
    * scan branches, never by shingle positions. */
  private def totalTokenizations(name: String): Int =
    optimized(name).flatMap(_.expressions)
      .map(PlanProbes.tokenizations).sum

  test("no curation text query tokenizes inside a Filter predicate") {
    for (q <- Seq("q71_repetition_stats", "q73_decontamination", "q76_dup_spans",
        "q33_ngram_jaccard_pairs", "q34_minhash_lsh_pairs", "q35_simhash_pairs",
        // round-12 entrants: q210's first draft materialized the gram array
        // as an attribute, and InferFiltersFromGenerate + pushdown planted
        // the full tokenize-per-position tree in a scan Filter (43 s vs
        // seconds at sf0.1) — this guard is what would have caught it
        "q210_duplicated_spans", "q211_winnowing_overlap")) {
      assert(filterTokenizations(q) == 0, s"$q has tokenize inside a Filter")
    }
  }

  test("tokenize count is branch-bounded, not position-bounded") {
    assert(totalTokenizations("q71_repetition_stats") <= 1)
    assert(totalTokenizations("q76_dup_spans") <= 2) // sp feeds dfreq + join
    assert(totalTokenizations("q73_decontamination") <= 4) // bench/train/sizes branches
  }

  test("q98 joins the corpus against rates by broadcast, never sort-merge") {
    // the rate table is source-count-sized: a regression to SortMergeJoin
    // would shuffle the whole corpus on `source` (a handful of hot keys)
    val phys = Caching.scoped {
      SparkEntry.queries("q98_mix_rebalance")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(phys.contains("BroadcastHashJoin"), phys.take(2000))
    assert(!phys.contains("SortMergeJoin"), phys.take(2000))
  }

  test("q97 scoring plan has no Window operator (gradient agg, not rank)") {
    // training runs eagerly at plan-construction (checkpointed rounds); the
    // RESULT plan must be pure scan+broadcast work — a Window sneaking in
    // would mean some stage ranks corpus-sized data
    val phys = Caching.scoped {
      SparkEntry.queries("q97_lr_filter")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(!phys.contains("Window"), phys.take(2000))
    assert(!phys.contains("SortMergeJoin"), phys.take(2000))
  }

  test("q111 sample quota has no Window operator (bounded-heap aggregate, not rank)") {
    // the whole point of the operator: exact-quota selection WITHOUT a
    // per-stratum global-order window — a Window regression would sort
    // every stratum's full candidate set through one task
    val phys = Caching.scoped {
      SparkEntry.queries("q111_sample_quota")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(!phys.contains("Window"), phys.take(2000))
  }

  test("q110 assigns vectors against BROADCAST centroids (no n x k shuffle join)") {
    // the centroid table is k rows: a regression to a shuffle join would
    // exchange the full vector frame once per k-means round
    val phys = Caching.scoped {
      SparkEntry.queries("q110_kmeans_clusters")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(phys.contains("BroadcastNestedLoopJoin") || phys.contains("BroadcastExchange"),
      phys.take(2000))
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
  }

  test("q122 weighted sample has no Window operator (bounded-heap, not rank)") {
    val phys = Caching.scoped {
      SparkEntry.queries("q122_weighted_sample")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(!phys.contains("Window"), phys.take(2000))
  }

  test("q112 composed dedup plan has no cartesian product and no Window") {
    // pair generation must stay the banded bucket equi-join; the closure
    // must stay equi-shuffle rounds (components run eagerly at plan time,
    // but the assembled result plan must not smuggle either shape in)
    val phys = Caching.scoped {
      SparkEntry.queries("q112_minhash_cluster_purge")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
    assert(!phys.contains("Window"), phys.take(2000))
  }

  test("q135/q136 DSIR scoring joins the broadcast bucket models, no Window") {
    // the λ model is B = 1024 rows by construction: a sort-merge regression
    // would shuffle the corpus-sized feature frame on the bucket key; the
    // resample must stay the bounded heap, never a global-order rank
    for (q <- Seq("q135_dsir_weights", "q136_dsir_resample")) {
      val phys = Caching.scoped {
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      }
      assert(phys.contains("BroadcastHashJoin"), s"$q\n" + phys.take(2000))
      assert(!phys.contains("Window"), s"$q\n" + phys.take(2000))
    }
  }

  test("q146 centroid classifier broadcasts the label centroids") {
    // |labels| rows against the test scan: a shuffle join would exchange
    // every test vector for an 8-row dimension table
    val phys = Caching.scoped {
      SparkEntry.queries("q146_centroid_classify")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(phys.contains("BroadcastNestedLoopJoin") || phys.contains("BroadcastExchange"),
      phys.take(2000))
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
  }

  test("q140 EWMA joins the broadcast weight table and has no Window") {
    // the 24-row offset/weight table must broadcast; the whole point of the
    // join formulation is NO window function over the series
    val phys = Caching.scoped {
      SparkEntry.queries("q140_ewma")(spark, dir).queryExecution.executedPlan.toString
    }
    assert(phys.contains("BroadcastHashJoin") || phys.contains("BroadcastNestedLoopJoin"),
      phys.take(2000))
    assert(!phys.contains("Window"), phys.take(2000))
  }

  test("q152 prefix join stays an equi join: no cartesian, no Window") {
    // the prefix filter's whole value: candidates come from a shingle
    // EQUI join over prefix occurrences — a cartesian or rank regression
    // would reintroduce the all-pairs shape the prefixes exist to avoid
    val phys = Caching.scoped {
      SparkEntry.queries("q152_prefix_jaccard")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
    assert(!phys.contains("Window"), phys.take(2000))
  }

  test("q17/q43 global rank+limit plan as TakeOrderedAndProject, not a global sort") {
    // T4 at scale: orderBy + limit must fuse into TakeOrderedAndProject —
    // per-partition bounded heaps, one k-row merge at the driver — never an
    // Exchange-then-global-Sort of the full frame ahead of the limit. The
    // guard is the cheap sibling of the no-Window guards: if a refactor
    // splits the sort from the limit (e.g. a barrier between them), the
    // physical plan regresses to a rangepartitioning Sort and this fails.
    for (q <- Seq("q17_top_users", "q43_top_ranked")) {
      val phys = Caching.scoped {
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      }
      assert(phys.contains("TakeOrderedAndProject"), s"$q\n" + phys.take(2000))
      assert(!phys.contains("rangepartitioning"), s"$q\n" + phys.take(2000))
    }
  }

  test("q175 capstone: no cartesian product; packing window bounded, rates broadcast") {
    // six composed stages must keep their individual plan disciplines: the
    // only Window is the (lang, shard)-bounded packing sum (q75's shape),
    // pair generation stays the banded equi join, and the rate table joins
    // back by broadcast — a cartesian or sort-merge regression in any stage
    // surfaces here even though each stage has its own guard
    val phys = Caching.scoped {
      SparkEntry.queries("q175_pretrain_pipeline")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
    assert(phys.contains("BroadcastHashJoin"), phys.take(2000))
  }

  test("q143 basket rules: row-local pairs, broadcast singles, no self-join of items") {
    val phys = Caching.scoped {
      SparkEntry.queries("q143_basket_rules")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(phys.contains("BroadcastHashJoin"), phys.take(2000))
    assert(!phys.contains("SortMergeJoin"), phys.take(2000))
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
  }

  test("round-9 pair queries: band/block/gram equi joins only, no cartesian") {
    // q177 bands, q181 blocking keys, q183 positional grams, q187 shingles:
    // every candidate generator must stay an equi join — a cartesian here
    // is the all-pairs regression each of these operators exists to avoid
    for (q <- Seq("q177_image_ahash_dedup", "q181_entity_resolution",
        "q183_shared_passages", "q185_source_leakage", "q187_containment_pairs")) {
      val phys = Caching.scoped {
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      }
      assert(!phys.contains("CartesianProduct"), s"$q\n" + phys.take(2000))
    }
  }

  test("q182 manifest and q183 islands: windows are partitioned, never global") {
    // both queries' windows must carry a partition spec — a global window
    // (empty partitionBy) would serialize the corpus through one task
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q182_curriculum_order", "q183_shared_passages",
        "q186_cdc_chunks")) {
      // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
      // root whose collect() sees no children before execution
      val ws = Caching.scoped {
        SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan.collect {
          case w: WindowExec => w.partitionSpec
        }
      }
      assert(ws.nonEmpty && ws.forall(_.nonEmpty), s"$q has a global window")
    }
  }

  test("q199 probes the benchmark gram table by broadcast, never sort-merge") {
    // the benchmark slice is fixed-size at any corpus scale (the q73
    // contract): a SortMergeJoin regression would shuffle the whole
    // training-side gram frame on `shingle`
    val phys = Caching.scoped {
      SparkEntry.queries("q199_exact_ngram_decontam")(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(phys.contains("BroadcastHashJoin"), phys.take(2000))
    assert(!phys.contains("SortMergeJoin"), phys.take(2000))
  }

  test("q201 funnel: corpus windows are hash-partitioned, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the dedup keep-first window must partition by the content hash; the
    // only permitted global window is the 6-row stage rollup (bounded)
    val plan = Caching.scoped {
      SparkEntry.queries("q201_attrition_funnel")(spark, dir)
        .queryExecution.sparkPlan
    }
    val specs = plan.collect { case w: WindowExec => w.partitionSpec }
    assert(specs.exists(_.nonEmpty), "q201 lost its partitioned dedup window")
    assert(!plan.toString.contains("CartesianProduct"), plan.toString.take(2000))
  }

  test("q197/q200 broadcast kernels: no shuffled join of the quadratic side") {
    // both rows score a bounded set (all-queries eval / minibatch anchors)
    // against the corpus through a BROADCAST nested-loop or hash kernel —
    // a SortMergeJoin on the similarity side would shuffle the full
    // pair-expansion (the regression these kernels' shapes exist to avoid)
    for (q <- Seq("q197_retrieval_eval", "q200_triplet_mining")) {
      val phys = Caching.scoped {
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      }
      assert(phys.contains("Broadcast"), s"$q\n" + phys.take(2000))
    }
  }

  test("q207-q209 fixed-panel kernels: broadcast truth side, no cartesian") {
    // the eval/mining truth kernels score a bounded query panel against
    // the corpus: the panel/anchor side must BROADCAST (a SortMergeJoin
    // there would shuffle the |panel|·n expansion), and nothing may
    // degenerate to an unbroadcast CartesianProduct
    for (q <- Seq("q207_ivfpq_retrieval_eval", "q208_retrieval_eval_sampled",
        "q209_triplet_mining_sampled")) {
      val phys = Caching.scoped {
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      }
      assert(phys.contains("Broadcast"), s"$q\n" + phys.take(2000))
      assert(!phys.contains("CartesianProduct"), s"$q\n" + phys.take(2000))
    }
  }

  test("q208 truth kernel broadcasts the PANEL side, streams the corpus") {
    // bruteTopK's replicate = Queries contract (ADVICE r11): the
    // bounded query panel is the replicated side and the corpus streams
    // through the bounded heap — the
    // inverse (corpus broadcast) computes the same answer but plants an
    // O(n) replication in the one row whose point is corpus-linearity, and
    // a "some Broadcast exists" assertion can't tell the two apart. This
    // test pins WHICH side builds: the panel filter (the INSET/IN predicate)
    // must sit under the broadcast build side, never the streamed side.
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.functions._
    val e = sources.Tables(spark, dir, "embeddings")
    val coin = col("vec_id").isin(0L to 63L: _*)
    val truth = operators.Similarity.bruteTopK(e.filter(coin), e, k = 10,
      replicate = ml.TopK.Queries)
    val plan = truth.queryExecution.sparkPlan
    val joins = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(joins.nonEmpty, plan.toString.take(2000))
    val j = joins.head
    val (build, stream) =
      if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
    val bs = build.toString
    val ss = stream.toString
    assert(bs.contains("INSET") || bs.contains(" IN "),
      s"panel filter is not on the broadcast build side:\n$bs")
    assert(!ss.contains("INSET") && !ss.contains(" IN "),
      s"the streamed corpus side carries the panel filter (inverted geometry):\n$ss")
  }

  test("q208/q209 panel selection plans as TakeOrderedAndProject, not a global sort") {
    // bottom-64-by-hash must fuse orderBy+limit into TakeOrderedAndProject
    // (per-partition top-k, 64-row merge) — a global Sort before the limit
    // would shuffle every vector's hash to one ordering
    import graft.functions.Exprs
    import org.apache.spark.sql.functions._
    val e = sources.Tables(spark, dir, "embeddings")
    val sel = e.select(col("vec_id"))
      .orderBy(Exprs.h60(concat(lit("rq:"), col("vec_id"))).asc, col("vec_id").asc)
      .limit(64)
    assert(sel.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("q210/q211 span+fingerprint rows: equi joins only, window contracts hold") {
    // q210's dup-gram back-join and q211's fingerprint inverted-index join
    // must stay equi (gram/fp keyed) — a cartesian is the all-pairs
    // regression both exist to avoid. q210's island windows must carry a
    // doc_id partition spec (a global window would serialize the corpus
    // through one task); q211 must have NO WindowExec at all — winnowing's
    // window-min is row-local by design (Dedup.winnowMins), and a Window
    // operator appearing here means the zero-shuffle selection regressed
    // to the shuffled first-draft shape
    import org.apache.spark.sql.execution.window.WindowExec
    def qe(q: String) = Caching.scoped {
      SparkEntry.queries(q)(spark, dir).queryExecution
    }
    for (q <- Seq("q210_duplicated_spans", "q211_winnowing_overlap")) {
      val e = qe(q)
      assert(!e.executedPlan.toString.contains("CartesianProduct"),
        s"$q\n" + e.executedPlan.toString.take(2000))
    }
    val w210 = qe("q210_duplicated_spans").sparkPlan.collect {
      case w: WindowExec => w.partitionSpec }
    assert(w210.nonEmpty && w210.forall(_.nonEmpty), "q210 lost its doc windows")
    val w211 = qe("q211_winnowing_overlap").sparkPlan.collect {
      case w: WindowExec => w }
    assert(w211.isEmpty, "q211 regressed to a shuffled window-min")
  }
}
