package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries (QueryDef.bench) against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Each query runs a warm-up pass (JIT + codegen + page cache) and two or
  * three timed passes, recording the MEDIAN. The timed passes are
  * INTERLEAVED round-robin across queries — pass 1 of every query, then
  * pass 2 of every query — so a sustained load window on the host (a
  * noisy-neighbor VM stall spanning minutes) inflates every query's median
  * a little instead of multiplying whichever single query the stall lands
  * on. Three CONSECUTIVE passes are robust to a one-off GC pause but not to
  * sustained external load: round 8 committed q116 at 10.19 s where an
  * idle-box re-run of the identical binary measured 2.23 s, because all
  * three of its passes sat inside one load window. With interleaving, the
  * passes of any query are separated by a full sweep of the set (~minutes),
  * so a stall must persist across the whole run to bias one query — at
  * which point it biases all of them equally and the relative picture
  * survives.
  *
  * Each interleaved slot is a (prime, timed) run pair: the prime pass
  * rebuilds the query's own Caching.pin entries that inter-slot cleanup
  * dropped, so the timed pass measures the warm-cache steady state — the
  * semantics every prior round's committed artifact used — while at most
  * one query's pins are ever live (the round-2 accumulated-pins lesson).
  *
  * HEAVY rows run in a DEDICATED FINAL SWEEP inside a FRESH SparkSession
  * (VERDICT r9 #2, r10 #1): across a ~140-row session the JVM accumulates
  * state (hundreds of compiled plans, codegen cache, heap fragmentation
  * feeding GC pauses into multi-job loops) that inflates late multi-second
  * rows ~3× over their idle-box cost. Membership is COST-BASED: any row
  * whose warm-up pass exceeds [[Bench.lateThresholdSec]] joins the final
  * sweep automatically. The LSA/PCA factorization family ([[lateAlways]])
  * keeps a SECOND claim on the final sweep, now CONDITIONAL (round 13,
  * VERDICT r12 #1b): its rows are timed in the main sweep like everyone
  * else and re-measured in the fresh session only when the main-sweep
  * median moved more than [[lateMoveFactor]]× from the prior committed
  * record (or no prior exists) — the committed value is the MIN of the two
  * medians, inflation being the only observed failure mode. A stable round
  * therefore skips the family's fresh-session re-runs entirely.
  *
  * WALL-CLOCK BUDGET (round 13, VERDICT r12 #1 — BENCH_r12 recorded rc=124:
  * the driver's sbt-wrapped invocation outgrew its ~1 h window and the 12
  * heaviest rows went unmeasured). Three per-row cuts, each gated on the
  * PRIOR committed artifact (read from [[priorPath]] before this run
  * overwrites it; a missing/corrupt prior disables every cut and the full
  * protocol runs):
  *
  *   - WARM-UP SKIP: rows whose prior median < [[skipWarmSec]] skip the
  *     warm-up pass (it costs 2–4× the median on sub-second rows and its
  *     only products — late classification and the heal bound — are served
  *     by the prior). Rows in [[memoTouching]] are exempt: their warm-up
  *     seeds the session memos that LATER rows' snapshots inherit, so
  *     skipping one would silently change what downstream timed passes
  *     measure.
  *   - MEDIAN-OF-2: the third timed pass runs only when the first two
  *     disagree by more than [[agreeFrac]] (median of two agreeing passes =
  *     their mean). The two passes are separated by a full sweep, so
  *     agreement across that gap is a real stability signal, not two reads
  *     of one quiet moment.
  *   - PRIME SKIP: rows whose warm-up left zero Caching.pin entries skip
  *     the per-slot prime pass — the prime exists to rebuild pins that
  *     inter-slot cleanup dropped (the round-9 cold-cache regression was
  *     pin-heavy dedup rows recomputing shingle frames inside timed
  *     passes); for a pin-free row the prime is an identical throwaway
  *     execution. Session memos are unaffected: the slot restores the
  *     row's snapshot before the timed pass either way, so the timed pass
  *     measures the same marginal factorization work with or without a
  *     prime. Warm-skipped rows keep their primes (pin count unknown).
  *
  * CRASH-SAFE ARTIFACT (round 13, VERDICT r12 #1a): bench.json is
  * (re)written after the warm-up sweep, after EVERY timed pass of every
  * sweep, and at each phase boundary, carrying `"complete":false`, the
  * phase name and the running total until the final write flips
  * `"complete":true`; the one-line JSON summary is PRINTED after the main
  * sweep, after the late sweep and at the end — a wall-clock kill now
  * costs the remaining refinement phases, not the whole record (BENCH_r12's
  * `parsed:null` existed only because the single end-of-run summary line
  * never printed).
  *
  * The protocol is SELF-CHECKING (round 12, VERDICT r11 #1):
  *
  *   - Every row's warm-up seconds, sweep membership, pin count, per-pass
  *     timings and per-pass GC deltas land IN THE ARTIFACT (`diag`), not on
  *     stderr (which the harness truncates) — the next anomaly is
  *     adjudicable from the committed record alone.
  *   - SELF-HEALING PASS: after all sweeps, any row whose median exceeds
  *     [[Bench.healFactor]] × its freshest warm-up (and is above a 1 s
  *     noise floor) is re-measured in ANOTHER fresh session appended after
  *     the final sweep; the committed value is the MIN of the two medians
  *     (the warm-up, being JIT-cold, bounds the honest cost from above).
  *     Both medians are recorded in `diag`. This pass would have caught
  *     q116 r11: its fresh-session warm-up read ~3 s while all three timed
  *     passes read ~14.5 s.
  *   - CALIBRATION CANARY (VERDICT r11 #6): a fixed, deterministic,
  *     cache-independent micro-row (integer sum over a generated 2e9
  *     range, 32 fixed partitions, no IO, no cache) runs at the start,
  *     middle and end of the run (plus at each fresh session's open) and
  *     its readings land in the artifact — cross-round comparisons can
  *     normalize by the host band state instead of re-litigating
  *     "host variance vs regression" each round.
  *
  * The LAST stdout line is a COMPACT summary (round 14, VERDICT r13 #1):
  * totals, row count, completeness and the top-10 medians (under "top10",
  * never "queries") — ~600 chars, sized to survive the driver's
  * ~2,000-char tail capture whole. BENCH_r12/r13 both recorded parsed:null
  * on COMPLETE runs because the full artifact line (170 inlined medians,
  * ~5 KB) was the last thing printed. The full line still prints at each
  * phase boundary and the full map lives in bench.json.
  *
  * Execution materializes every output column through the noop sink, so
  * projections can't be cheated away by a count-only plan. The JSON line is
  * ALSO written to bench.json next to the working directory — round 8's
  * driver artifact kept only a truncated 4 KB tail of the stdout line, so
  * the artifact survives log truncation. Within the line, `queries` is kept
  * LAST so a tail-truncated stdout capture still carries the per-row
  * medians.
  */
object Bench {

  /** Warm-up-pass cost above which a row is measured in the dedicated final
    * sweep. ~5 s solo steady-state is where the late-session tax becomes
    * visible (VERDICT r10 #1); warm-up time runs 1.5–2× steady state
    * (JIT-cold), so thresholding the warm-up at the same 5 s pulls in rows
    * from ~2.5 s steady — deliberately conservative. */
  val lateThresholdSec: Double =
    sys.env.get("SPARK_GRAFT_BENCH_LATE_SEC").map(_.toDouble).getOrElse(5.0)

  /** A row whose median exceeds this multiple of min(freshest warm-up,
    * prior committed record) is re-measured in the self-healing session.
    * Warm-up is JIT-cold and therefore an upper bound on the honest
    * steady-state cost, so 2× is already anomalous; a 1 s floor keeps
    * sub-second noise out. The PRIOR joins the bound (round 14, VERDICT
    * r13 #2) because the warm pass can ride the same JVM-warmth staircase
    * it guards against: the official r13 run committed q127 at 6.94 s
    * (prior 2.71) and q169 at 3.49 s (prior 1.48) un-healed — their warm
    * passes read 4.39/2.00 s, inflated by the very staircase that inflated
    * the medians. A genuinely regressed row still commits its regression:
    * the heal re-measures and commits min(main, heal), which confirms a
    * real slowdown and only removes protocol inflation. */
  val healFactor: Double =
    sys.env.get("SPARK_GRAFT_BENCH_HEAL_FACTOR").map(_.toDouble).getOrElse(2.0)

  /** Prior-median ceiling below which a row's warm-up pass is skipped
    * (VERDICT r12 #1b). 0.5 s: on these rows the warm pass costs 2–4× the
    * median and neither of its products matters — the row cannot be
    * late-classified (0.5 ≪ 5 s threshold) and the heal trigger's 1 s
    * floor sits above anything the prior bounds. */
  val skipWarmSec: Double =
    sys.env.get("SPARK_GRAFT_BENCH_SKIP_WARM_SEC").map(_.toDouble).getOrElse(0.5)

  /** Relative gap under which the first two timed passes are declared in
    * agreement and the third pass is skipped (VERDICT r12 #1b). */
  val agreeFrac: Double =
    sys.env.get("SPARK_GRAFT_BENCH_AGREE_FRAC").map(_.toDouble).getOrElse(0.10)

  /** A [[lateAlways]] row is re-measured in the fresh final session only
    * when its main-sweep median exceeds this multiple of the prior
    * committed record (VERDICT r12 #1b). */
  val lateMoveFactor: Double =
    sys.env.get("SPARK_GRAFT_BENCH_LATE_MOVE").map(_.toDouble).getOrElse(1.3)

  /** Prime passes for pin-free rows are skipped unless disabled. */
  def primeSkipEnabled: Boolean =
    !sys.env.get("SPARK_GRAFT_BENCH_PRIME_SKIP").contains("0")

  /** The factorization family keeps a conditional claim on the final
    * fresh-session sweep (see the class doc): its session memo discipline
    * (snapshot/restore of shared components) is the protocol's most
    * inflation-prone corner, and its rows were the original late-tax
    * victims (q116 r8/r9/r11). */
  val lateAlways = Set("q103_lsa_component", "q105_lsa_second",
    "q109_lsa_topk", "q119_lsa_doc_scores", "q116_pca_component",
    "q117_pca_scores", "q123_pca_topk")

  /** Rows that can BUILD session memo entries on a miss (LSA/PCA family +
    * the dup-cluster deployments — `dupClusterAssignment` users in
    * queries/Curation.scala). Their warm-ups seed the memos that later
    * rows' snapshots inherit, so they are never warm-skipped: skipping the
    * first builder would leave later readers' snapshots empty and turn
    * their sub-second memo reads into full CC-chain rebuilds inside timed
    * passes. */
  val memoTouching: Set[String] = lateAlways ++ Set(
    "q70_dup_clusters", "q72_dedup_purge", "q191_soft_dedup_weights",
    "q220_dedup_keep_best", "q226_cluster_safe_split",
    "q232_dup_cluster_histogram", "q236_dup_chain_audit")

  /** The iterative graph family shares a JVM-warmth profile the way the
    * factorization family shares memos: its rows are dominated by the same
    * iterative join-loop machinery (per-round plan compile + JIT of the
    * loop body), and a fresh session pays that warmth as a STAIRCASE —
    * the official r13 run read q134's late passes at 16.7→12.1→2.8 s and
    * q149's at 13.3→7.1→4.7 s while the canary held steady (host band
    * innocent; VERDICT r13 #2). When any member lands in a fresh-session
    * sweep (late or heal), the WHOLE family warms there first so the
    * staircase is paid in warm-ups, not timed passes. No memo coupling —
    * membership only affects fresh-session warm-up chaining. */
  val graphWarmFamily = Set("q127_bfs_hops", "q134_hits", "q138_textrank",
    "q147_shortest_paths", "q149_modularity", "q169_assortativity")

  /** Fresh-session warm-up chains: when a sweep in a fresh session times
    * ANY member of a chain, every member of that chain joins the session's
    * warm-up pass (in catalog order) ahead of the timed slots. */
  val warmChains: Seq[Set[String]] = Seq(lateAlways, graphWarmFamily)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE_PARTITIONS: cluster-shape probe knob (SCALING.md
    // partition-count section) — the driver's runs keep the default 32.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    // NB: driver heap can't be set here (the JVM is already running in
    // local mode) — pass -J-Xmx/JAVA_OPTS at launch instead
    def newSession(): SparkSession =
      Session.local(cpus, shufflePartitions, conf = Map(
        // Codegen class cache sized to the catalog (static conf, default
        // 100): with ~170 interleaved queries, a row's generated classes
        // evict between its own slots, so without a same-query prime every
        // timed pass pays janino compile + fresh JIT — the first prime-skip
        // run read pin-free sub-second rows (q37, q202, q218...) at 1.5–2×
        // their committed medians from exactly this. The OLD protocol's
        // numbers were codegen-warm by construction (each timed pass ran
        // right after its prime); sizing the cache to hold every row's
        // classes preserves those semantics with the prime skipped.
        "spark.sql.codegen.cache.maxEntries" -> "4096"))
    var spark = newSession()

    def runOnce(q: QueryDef): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Prior committed record: read BEFORE the first crash-safe write
    // overwrites it. Drives the three wall-clock cuts; unparseable/missing
    // → empty map → full protocol. Subset runs (SPARK_GRAFT_BENCH_ONLY)
    // default to a side file: overwriting bench.json with a 3-row record
    // would destroy the prior the next full run's cuts key on.
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "bench_subset.json" else "bench.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "bench.json")
    val prior: Map[String, Double] =
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(priorPath)))
        val qn = node.get("queries")
        if (qn == null) Map.empty
        else {
          import scala.jdk.CollectionConverters._
          qn.fieldNames().asScala
            .map(n => n -> qn.get(n).asDouble(-1.0))
            .filter(_._2 >= 0).toMap
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] no prior record ($priorPath): ${e.getMessage}")
        Map.empty
      }

    // Calibration canary: pure-CPU integer sum over a generated range —
    // deterministic, no IO, no cache, no shuffle beyond the 32→1 partial-agg
    // collapse, fixed 32 partitions regardless of the shuffle knob. Its
    // reading moves ONLY with the host band (and JVM health), so bracketing
    // the run with it timestamps the band state into the artifact.
    val canary = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def canaryPass(label: String): Unit =
      try {
        val t0 = System.nanoTime()
        spark.range(0L, 2000000000L, 1L, 32)
          .selectExpr("sum(id * 3 + 1) as s")
          .write.format("noop").mode("overwrite").save()
        canary += label -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => System.err.println(s"[bench] canary $label: ${e.getMessage}") }

    // Optional subset for local iteration (unset → the headline set, as the
    // driver runs it; with a subset, ANY catalog query can be timed)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only.fold(SparkEntry.benchQueries)(names => SparkEntry.all.filter(q => names(q.name)))

    // A rename of any lateAlways/memoTouching query must fail loudly, not
    // silently drop the row out of its protocol family (ADVICE r10).
    // Checked against the full catalog so subset runs catch it too.
    locally {
      val catalog = SparkEntry.all.map(_.name).toSet
      val unresolved = (memoTouching ++ warmChains.flatten).filterNot(catalog)
      require(unresolved.isEmpty,
        s"Bench.lateAlways/memoTouching/warmChains names not in the catalog (renamed?): ${unresolved.mkString(", ")}")
    }

    // Session memos (LSA/PCA factorizations, dup clusters) are
    // session-scoped product behavior: a query needing components 1..k
    // reuses whatever earlier queries extracted (q105 after q103 pays only
    // phase 2). Each timed pass restores every memo to the query's
    // PRE-warm-up SessionMemo.snapshot so the pass measures that marginal
    // work — never a free hit on its own warm-up's entry.
    // Caching.release()/clearCache() after every pass leaves the memos
    // intact (checkpoint blocks are persisted RDDs, not catalog cache
    // entries), so cross-QUERY sharing is exactly what a user session sees.
    // Snapshots are taken in catalog order during the warm-up sweep, which
    // runs in the same order as each timed sweep — a query's snapshot
    // therefore reflects what the queries before it contributed, same as
    // the pre-interleaving sequential bench.
    val memoSnaps = scala.collection.mutable.Map.empty[String, SessionMemo.Snapshot]
    val failed = scala.collection.mutable.Set.empty[String]
    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val gcDeltas = scala.collection.mutable.Map.empty[String, List[Long]].withDefaultValue(Nil)
    // committed value per row so far (later phases only ever LOWER it);
    // passLog keeps each phase's pass list for the diag record
    val committed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val passLog = scala.collection.mutable.Map
      .empty[String, List[(String, List[Double], List[Long])]].withDefaultValue(Nil)
    val warmSecs = scala.collection.mutable.Map.empty[String, Double]
    val warmSkipped = scala.collection.mutable.Set.empty[String]
    val pinsAfterWarm = scala.collection.mutable.Map.empty[String, Int]
    val freshWarm = scala.collection.mutable.Map.empty[String, Double]
    val healWarm = scala.collection.mutable.Map.empty[String, Double]
    val healMedian = scala.collection.mutable.Map.empty[String, Double]
    val lateMedian = scala.collection.mutable.Map.empty[String, Double]
    val preHealMedian = scala.collection.mutable.Map.empty[String, Double]
    var lateNames = Set.empty[String]

    def guarded(q: QueryDef)(body: => Unit): Unit =
      try body
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          failed += q.name
      } finally {
        // release operator pins and drop all cached data between queries:
        // each query is measured against a clean cache, not against the
        // accumulated pins of every query before it (the round-2 bench ran
        // 3-17x slower than isolated runs from exactly this leak)
        Caching.release()
        spark.catalog.clearCache()
      }

    // Per-pass GC deltas are ALWAYS collected (a per-slot MXBean read is
    // free) and land in the artifact; SPARK_GRAFT_BENCH_DIAG=0 only mutes
    // the stderr echo. Round 11's q116 anomaly was unadjudicable because
    // the artifact carried no per-slot diagnostics (VERDICT r11 #1b).
    val diagEcho = !sys.env.get("SPARK_GRAFT_BENCH_DIAG").contains("0")
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Every query's snapshot stays live across the whole interleaved run,
    // so a restore releases only entries no snapshot references: releasing
    // blocks another snapshot still holds fails its later restore
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, round 9), while never releasing
    // pressured the storage layer into multi-× per-run variance.
    def restoreMemos(q: QueryDef): Unit = SessionMemo.restore(memoSnaps(q.name), memoSnaps.values)

    def medianOf(name: String): Double = {
      val ts = times(name).sorted
      ts.size match {
        case 0 => -1.0
        case 1 => ts.head
        case 2 => (ts.head + ts(1)) / 2 // agreeing passes — mean IS the median
        case n => ts(n / 2)
      }
    }

    // ---- Crash-safe artifact emission (round 13) ----
    // `queries` is deliberately LAST: a tail-truncated stdout capture keeps
    // the end of the line, and the medians are the part the driver grades.
    def artifactLine(phase: String, complete: Boolean): String = {
      val live = queries.map { q =>
        val n = q.name
        val base = if (failed(n)) -1.0 else committed.getOrElse(n, -1.0)
        val cur = if (failed(n)) -1.0 else medianOf(n) // in-flight phase passes
        val v =
          if (base >= 0 && cur >= 0) math.min(base, cur)
          else math.max(base, cur) // whichever exists, else -1
        n -> v
      }
      val diagJson = queries.map { q =>
        val n = q.name
        val sweep =
          if (lateAlways(n)) "late-always"
          else if (lateNames(n)) "late-cost"
          else "main"
        val parts = scala.collection.mutable.ListBuffer.empty[String]
        parts += "\"sweep\":\"" + sweep + "\""
        warmSecs.get(n).foreach(w => parts += "\"warm\":" + w)
        if (warmSkipped(n)) parts += "\"warmSkipped\":true"
        prior.get(n).foreach(p => parts += "\"prior\":" + p)
        pinsAfterWarm.get(n).foreach(p => parts += "\"pins\":" + p)
        freshWarm.get(n).foreach(w => parts += "\"freshWarm\":" + w)
        val phases = passLog(n)
        phases.headOption.foreach { case (_, ps, gc) =>
          parts += "\"passes\":" + ps.mkString("[", ",", "]")
          parts += "\"gc_ms\":" + gc.mkString("[", ",", "]")
        }
        lateMedian.get(n).foreach { lm =>
          parts += "\"lateMedian\":" + lm
          phases.find(_._1 == "late").foreach { case (_, ps, gc) =>
            parts += "\"latePasses\":" + ps.mkString("[", ",", "]")
            parts += "\"lateGc_ms\":" + gc.mkString("[", ",", "]")
          }
        }
        healWarm.get(n).foreach(w => parts += "\"healWarm\":" + w)
        healMedian.get(n).foreach { h =>
          parts += "\"healMedian\":" + h
          phases.find(_._1 == "heal").foreach { case (_, ps, gc) =>
            parts += "\"healPasses\":" + ps.mkString("[", ",", "]")
            parts += "\"healGc_ms\":" + gc.mkString("[", ",", "]")
          }
        }
        if (lateMedian.contains(n) || healMedian.contains(n))
          preHealMedian.get(n).foreach(m => parts += "\"mainMedian\":" + m)
        "\"" + n + "\":" + parts.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      val canaryJson = canary.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val qs = live.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val total = live.map(_._2).filter(_ >= 0).sum
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"""" +
        s""","complete":$complete,"phase":"$phase"""" +
        s""","lateThresholdSec":$lateThresholdSec,"healFactor":$healFactor""" +
        s""","skipWarmSec":$skipWarmSec,"agreeFrac":$agreeFrac,"lateMoveFactor":$lateMoveFactor""" +
        s""","canary":$canaryJson,"diag":$diagJson,"queries":$qs}"""
    }
    // temp-file + ATOMIC_MOVE (ADVICE r13): an in-place Files.write killed
    // mid-write — the exact wall-clock-kill scenario the crash-safe artifact
    // exists for — would leave a truncated file, losing both the partial
    // record AND the next run's prior (disabling all three prior-gated cuts)
    def emitFile(phase: String, complete: Boolean): String = {
      val line = artifactLine(phase, complete)
      try {
        val out = java.nio.file.Paths.get(outPath).toAbsolutePath
        val tmp = java.nio.file.Files.createTempFile(out.getParent, ".bench", ".tmp")
        java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, out,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable => System.err.println(s"[bench] artifact write: ${e.getMessage}") }
      line
    }
    def emit(phase: String, complete: Boolean): Unit = println(emitFile(phase, complete))

    // Timed sweeps, round-robin: pass k of every query before pass k+1 of
    // any. Each slot runs a PRIMING pass then the timed pass (pin-free rows
    // skip the prime — see the class doc). The priming pass repopulates the
    // query's own Caching.pin entries (and OS page cache) that the previous
    // slot's cleanup dropped, so the timed pass measures the warm-cache
    // steady state — the protocol every prior round's committed numbers
    // used. Without the prime, interleaving silently switched pin-heavy
    // rows to cold-cache semantics: the round-9 first cut read q34 at
    // 2.6 s where the round-8 binary measures 0.9 s on the same box.
    // Priming inside the slot (rather than letting pins accumulate across
    // the sweep) keeps the round-2 lesson intact: at most ONE query's pins
    // are live at any moment.
    // The memos are restored before the prime and again between prime and
    // timed pass, so the timed pass measures the query's marginal
    // factorization work, not a free hit on its own prime.
    def slot(q: QueryDef): Unit = guarded(q) {
      restoreMemos(q)
      val skipPrime = primeSkipEnabled && pinsAfterWarm.get(q.name).contains(0)
      if (!skipPrime) {
        runOnce(q) // prime: pins + page cache for THIS slot only
        restoreMemos(q)
      }
      val gc0 = gcMillis()
      val t = runOnce(q)
      val gcd = gcMillis() - gc0
      if (diagEcho) System.err.println(
        f"[bench-diag] ${q.name} timed=$t%.2fs gc=${gcd}ms " +
          s"persistedRdds=${spark.sparkContext.getPersistentRDDs.size}")
      times(q.name) = t :: times(q.name)
      gcDeltas(q.name) = gcd :: gcDeltas(q.name)
    }

    def timedSweeps(qs: Seq[QueryDef], phase: String): Unit = {
      for (p <- 1 to 2) {
        for (q <- qs if !failed(q.name)) slot(q)
        emitFile(s"$phase-pass$p", complete = false)
      }
      // median-of-2 when the two passes (a full sweep apart) agree within
      // agreeFrac; the third pass runs only for the disagreeing rows
      val third = qs.filter { q =>
        !failed(q.name) && (times(q.name) match {
          case a :: b :: Nil => math.abs(a - b) > agreeFrac * math.min(a, b)
          case _ => true // fewer than 2 recorded passes — measure, don't guess
        })
      }
      if (third.nonEmpty) {
        System.err.println(s"[bench] $phase third pass (${third.size}/${qs.size} rows)")
        for (q <- third) slot(q)
        emitFile(s"$phase-pass3", complete = false)
      }
    }

    // Fold the finished phase into `committed` (later phases only lower a
    // row's value — inflation is the observed failure mode) and archive its
    // passes; `times` starts empty for the next phase.
    def harvest(phase: String, qs: Seq[QueryDef]): Unit = qs.foreach { q =>
      val n = q.name
      if (times(n).nonEmpty) {
        val m = medianOf(n)
        passLog(n) = passLog(n) :+ ((phase, times(n).reverse, gcDeltas(n).reverse))
        committed(n) = committed.get(n).filter(_ >= 0).fold(m)(math.min(_, m))
        times.remove(n); gcDeltas.remove(n)
      }
    }

    // ---- Session 1: warm-up (cost probe) + main sweep ----
    // Sacrificial init pass: the FIRST query otherwise pays the one-time
    // session costs (codegen framework bootstrap, parquet reader classes,
    // noop sink registration — ~5 s) inside its warm-up and gets
    // misclassified as heavy (q01 steady 0.27 s read >5 s warm in the
    // protocol smoke test).
    try spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] init pass: ${e.getMessage}") }
    canaryPass("start")
    queries.foreach { q =>
      memoSnaps(q.name) = SessionMemo.snapshot()
      val p = prior.get(q.name)
      if (!memoTouching(q.name) && p.exists(_ < skipWarmSec)) {
        warmSkipped += q.name
        warmSecs(q.name) = p.get // classification + heal bound from the prior
      } else guarded(q) {
        val w = runOnce(q)
        pinsAfterWarm(q.name) = Caching.pinnedCount // read before cleanup drops them
        // A first-of-its-family warm-up pays that family's JIT/codegen on
        // top of the query's real cost (q34 steady 0.7 s read >5 s warm in
        // the smoke test). For would-be-late rows only, measure once more —
        // JIT now paid — and classify on the cheaper pass. The retry FIRST
        // restores the row's own memo snapshot: the first pass may have
        // built a session memo entry (the dup clusters for q70) that the row's
        // timed passes will never see — an unrestored retry reads a memo
        // hit (0.08 s vs the honest 3 s), records a warm-up no timed pass
        // can match, and trips the self-heal sweep on a healthy row. The
        // restore releases the first pass's own checkpoint blocks (ADVICE
        // r12): no snapshot references them.
        warmSecs(q.name) = if (w <= lateThresholdSec) w else {
          restoreMemos(q)
          math.min(w, runOnce(q))
        }
      }
    }
    if (warmSkipped.nonEmpty) System.err.println(
      s"[bench] warm-up skipped (prior < $skipWarmSec s): ${warmSkipped.size} rows")
    emitFile("warmup", complete = false)

    // Cost-late rows never run in the main sweep; everyone else — the
    // lateAlways family included (round 13) — is timed here.
    val mainQs = queries.filter(q => warmSecs.getOrElse(q.name, 0.0) <= lateThresholdSec)
    val costLate = queries.filter(q => warmSecs.getOrElse(q.name, 0.0) > lateThresholdSec)
    // assigned BEFORE the main sweep (ADVICE r13): every crash-safe artifact
    // written during warmup/main must already label cost-late rows, or a
    // kill before the late sweep leaves them marked sweep:"main"
    lateNames = costLate.map(_.name).toSet
    timedSweeps(mainQs, "main")
    harvest("main", mainQs)
    canaryPass("mid")
    emit("main", complete = false)

    // ---- Final sweep: fresh SESSION (same context) for the heavy rows ----
    // newSession(), not stop()+new context: the round-11 protocol A/B
    // found NO measurable benefit in a full context restart (all observed
    // deltas were host band variance — PLANS.md round-11 notes), and the
    // late-session tax is already cured by late ORDERING plus
    // session-STATE reset (round 10's q116 fix). newSession() is the
    // cheaper reset: it drops accumulated session state (SQL conf,
    // catalog, temp views) and the sweep clears the factorization memos
    // and cache; executors, block manager, and JIT state carry over —
    // exactly the part that should stay warm.
    // Membership: cost-late rows unconditionally; lateAlways rows only when
    // their main-sweep median moved > lateMoveFactor× from the prior record
    // (or no prior exists) — a stable family round skips its re-runs.
    // The fresh-session warm-up seconds are RECORDED (freshWarm): they are
    // each late row's best available honest-cost bound, and the self-heal
    // trigger below compares medians against them.
    val lateRerunNames = mainQs.filter { q =>
      lateAlways(q.name) && !failed(q.name) && {
        val m = committed.getOrElse(q.name, -1.0)
        val p = prior.getOrElse(q.name, -1.0)
        m < 0 || p < 0 || m > lateMoveFactor * p
      }
    }.map(_.name).toSet
    // CATALOG order, not costLate-then-rerun: the fresh session's warm-ups
    // seed the factorization memos in sequence, so q103 must warm before
    // q105 reads its snapshot — the first concatenated cut warmed q105
    // ahead of q103 and measured q105 at components 1+2 (9.1 s) while
    // q103's own passes hit q105's memo entry (0.09 s), inverting the
    // family's marginal-work semantics.
    val costLateNames = costLate.map(_.name).toSet
    val lateQs = queries.filter(q => costLateNames(q.name) || lateRerunNames(q.name))
    val lateRerun = lateQs.filter(q => lateRerunNames(q.name))
    if (lateQs.nonEmpty) {
      System.err.println(
        s"[bench] final sweep (${lateQs.size} rows): ${lateQs.map(_.name).mkString(", ")}")
      Caching.release()
      spark.catalog.clearCache()
      SessionMemo.clear()
      memoSnaps.clear()
      spark = spark.newSession()
      canaryPass("late_open")
      // When ANY row of a warm chain re-measures here, the WHOLE chain
      // joins the fresh-session WARM-UP pass (still in catalog order). For
      // the factorization family that seeds the memos the re-measured row's
      // snapshot inherits — run 3 of the protocol rework had q105 go late
      // alone and pay components 1+2 (7.3 s) against an empty memo, where
      // its honest marginal (component 2, q103 warmed first) is ~5.6 s.
      // For the graph family (round 14) it pays the iterative-loop JIT
      // staircase before any timed slot. Only the rows that NEED
      // re-measuring are timed; the others' warm-ups just seed state
      // (~15 s for the factorization family vs ~45 s to re-time it).
      val lateChainNames =
        warmChains.filter(c => lateQs.exists(q => c(q.name))).flatten.toSet
      val lateWarmQs = queries.filter(q => lateChainNames(q.name) ||
        costLateNames(q.name) || lateRerunNames(q.name))
      lateWarmQs.foreach { q => // fresh-session warm-up, memo snapshots retaken
        memoSnaps(q.name) = SessionMemo.snapshot()
        guarded(q) {
          freshWarm(q.name) = runOnce(q)
          pinsAfterWarm(q.name) = Caching.pinnedCount
        }
      }
      lateRerun.foreach(q => preHealMedian(q.name) = committed.getOrElse(q.name, -1.0))
      timedSweeps(lateQs, "late")
      lateQs.foreach(q => if (times(q.name).nonEmpty) lateMedian(q.name) = medianOf(q.name))
      harvest("late", lateQs)
    }
    canaryPass("end")
    emit("late", complete = false)

    // ---- Self-healing pass (round 12): re-measure anomalous rows ----
    // A median FAR above the row's own freshest warm-up pass is a protocol
    // artifact, not a plan cost: the warm-up ran the identical plan in the
    // same JVM moments earlier. Re-measure those rows in one more fresh
    // session and commit the MIN of the two medians. q116 r11 is the
    // motivating case: fresh warm-up ~3 s, all three timed passes ~14.5 s —
    // this pass re-measures exactly that shape.
    // The gate bound is min(warm, PRIOR) (round 14, VERDICT r13 #2): the
    // same-run warm pass can itself be inflated by the staircase the heal
    // hunts — r13 committed q127 at 2.56× and q169 at 2.36× their priors
    // un-healed because their warm passes rode the q134 staircase too. The
    // prior is last round's committed steady state on the same box: a
    // committed row landing >healFactor× above it deserves a re-measure
    // attempt no matter what this run's warm pass read. A real regression
    // survives the heal (min(main, heal) confirms it) — the heal only ever
    // removes protocol inflation.
    def honestWarm(name: String): Double = math.min(
      freshWarm.getOrElse(name, warmSecs.getOrElse(name, Double.MaxValue)),
      prior.getOrElse(name, Double.MaxValue))
    // capped at the 16 worst offenders by median/warm ratio: if a host band
    // shift inflates the WHOLE sweep ~2×, re-measuring everything would turn
    // the heal pass into a second full run — the protocol defect it hunts is
    // a per-row anomaly (q116: one row at 5×), not a fleet-wide drift, and
    // fleet-wide drift is what the canary readings are for
    val healQs = queries.filter { q =>
        !failed(q.name) && {
          val m = committed.getOrElse(q.name, -1.0)
          m > 1.0 && m > healFactor * honestWarm(q.name)
        }
      }
      .sortBy(q => -committed(q.name) / honestWarm(q.name))
      .take(16)
    if (healQs.nonEmpty) {
      System.err.println(s"[bench] self-heal sweep (${healQs.size} rows): " +
        healQs.map(q => f"${q.name} median=${committed(q.name)}%.2f warm=${honestWarm(q.name)}%.2f").mkString(", "))
      Caching.release()
      spark.catalog.clearCache()
      SessionMemo.clear()
      memoSnaps.clear()
      spark = spark.newSession()
      canaryPass("heal_open")
      val healFailedBefore = failed.toSet
      // warm-chain expansion (round 14): a healed graph/factorization row
      // warms alongside its whole family so the heal passes measure past
      // the staircase, not inside it (see the late-sweep note above)
      val healNames = healQs.map(_.name).toSet
      val healChainNames =
        warmChains.filter(c => healQs.exists(q => c(q.name))).flatten.toSet
      val healWarmQs = queries.filter(q => healNames(q.name) || healChainNames(q.name))
      healWarmQs.foreach { q =>
        memoSnaps(q.name) = SessionMemo.snapshot()
        guarded(q) { healWarm(q.name) = runOnce(q) }
      }
      healQs.foreach(q => preHealMedian(q.name) = committed.getOrElse(q.name, -1.0))
      timedSweeps(healQs, "heal")
      healQs.foreach(q => if (times(q.name).nonEmpty) healMedian(q.name) = medianOf(q.name))
      harvest("heal", healQs)
      // a failure INSIDE the heal pass (timed slot OR chain warm-up) must
      // not red-flag a row whose main measurement succeeded — the heal
      // result is simply discarded
      failed --= failed.toSet.diff(healFailedBefore)
        .filter(n => committed.get(n).exists(_ >= 0))
      canaryPass("heal_end")
    }

    emit("final", complete = true)

    // COMPACT summary as the very LAST stdout line (VERDICT r13 #1): the
    // full artifact line now spans ~5 KB (170 inlined medians) and the
    // driver's ~2,000-char tail capture truncates it — BENCH_r12/r13 both
    // recorded parsed:null on complete runs. The driver parses its captured
    // tail as JSON, so the final line must fit the window whole: totals +
    // the top-10 medians only; the full per-query map lives one line up
    // and in bench.json (atomically written, complete:true).
    locally {
      val vals = queries.map(q => q.name ->
          (if (failed(q.name)) -1.0 else committed.getOrElse(q.name, -1.0)))
        .filter(_._2 >= 0)
      val top = vals.sortBy(-_._2).take(10)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // "top10", NOT "queries": bench_compare.py (and anything else reading
      // the driver's parsed record) treats a "queries" map as the complete
      // median set — a partial map under that key would silently shrink
      // every cross-round comparison to 10 rows
      println(s"""{"metric":"total","value":${vals.map(_._2).sum},"unit":"sec"""" +
        s""","sf":"$sfDir","n":${vals.size},"failed":${queries.count(q => failed(q.name))}""" +
        s""","complete":true,"artifact":"$outPath","top10":$top}""")
    }
    spark.stop()
  }
}
