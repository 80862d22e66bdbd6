package graft.queries

import graft.QueryDef
import graft.functions.Exprs._
import graft.logs.LogAnalytics
import graft.operators.{AsOf, Hll, RangeJoin, Sessions}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType}

/** Log/event analytics (SURVEY.md §2.4 A10/A13, §2.7 G3): tumbling-window
  * counts and averages, per-user stats, global top-k, and mean-model traffic
  * forecasting scored by RMSE — the PDF1 workload re-expressed over the
  * `events` table with event-time columns, streaming-compatible by shape
  * (same `date_trunc` buckets work under readStream + watermark, see
  * graft.streaming.StreamingWindows).
  */
object Events {

  /** Train/test split point for the forecasting workload (events span 2024-01). */
  private val splitDate = "2024-01-25"

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q12_hourly_counts",
      (s, dir) => LogAnalytics.hourlyCounts(Tables(s, dir, "events"), "event_type"),
      oracle = Some("""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
          event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2"""),
      bench = true),

    QueryDef("q13_per_second_counts",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(epochTrunc("second", col("ts")).as("sec_epoch"))
          .agg(count(lit(1)).as("cnt"))
      },
      oracle = Some("""
        SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_epoch, COUNT(*) AS cnt
        FROM events GROUP BY 1""")),

    QueryDef("q14_hourly_avg_value",
      (s, dir) => LogAnalytics.hourlyAvg(Tables(s, dir, "events"), "event_type", "value"),
      oracle = Some("""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
          event_type, COUNT(*) AS cnt,
          CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS avg_value
        FROM events GROUP BY 1, 2""")),

    QueryDef("q15_user_stats",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"),
            dsum(col("value"), 8).as("sum_value"),
            unix_timestamp(date_trunc("second", min(col("ts")))).cast(LongType).as("first_sec"),
            unix_timestamp(date_trunc("second", max(col("ts")))).cast(LongType).as("last_sec"))
      },
      oracle = Some("""
        SELECT user_id, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types,
          CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value,
          CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS first_sec,
          CAST(epoch(date_trunc('second', MAX(ts))) AS BIGINT) AS last_sec
        FROM events GROUP BY 1""")),

    // Mean model: per (event_type, hour-of-day), avg hourly count over train
    // days predicts each test-day cell; RMSE per event_type (PDF1 p.3).
    QueryDef("q16_forecast_rmse",
      (s, dir) => LogAnalytics.forecastRmse(Tables(s, dir, "events"), "event_type", splitDate),
      oracle = Some(s"""
        WITH cells AS (
          SELECT event_type, CAST(ts AS DATE) AS d, CAST(hour(ts) AS BIGINT) AS h, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2, 3),
        train AS (SELECT * FROM cells WHERE d < DATE '$splitDate'),
        test AS (SELECT * FROM cells WHERE d >= DATE '$splitDate'),
        model AS (
          SELECT event_type, h, CAST(SUM(cnt) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS pred
          FROM train GROUP BY 1, 2),
        diffs AS (
          SELECT t.event_type, m.pred - CAST(t.cnt AS DOUBLE) AS diff
          FROM test t JOIN model m ON t.event_type = m.event_type AND t.h = m.h)
        SELECT event_type, COUNT(*) AS n_cells,
          sqrt(CAST(SUM(CAST(diff*diff AS DECIMAL(30,10))) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)) AS rmse
        FROM diffs GROUP BY 1"""),
      bench = true),

    QueryDef("q17_top_users",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("user_id").asc)
          .limit(10)
      },
      oracle = Some("""
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1
        ORDER BY cnt DESC, user_id ASC LIMIT 10""")),

    // As-of join: each click matched to the user's most recent prior purchase
    // (second granularity; right side deduped per (user, sec) by max value)
    QueryDef("q46_asof_join",
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("id"), col("user_id").as("key"),
            epochTrunc("second", col("ts")).as("ord"))
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("key"), epochTrunc("second", col("ts")).as("ord"))
          .agg(max(col("value")).as("value"))
        AsOf.joinAsOf(clicks, purchases)
          .select(col("id").as("event_id"), col("key").as("user_id"),
            col("ord").as("click_sec"), col("matched_ord").as("purchase_sec"),
            col("matched_value").as("purchase_value"))
      },
      oracle = Some("""
        WITH clicks AS (
          SELECT event_id, user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
          FROM events WHERE event_type = 'click'),
        purch AS (
          SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
            MAX(value) AS value
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        SELECT c.event_id, c.user_id, c.sec AS click_sec,
          p.sec AS purchase_sec, p.value AS purchase_value
        FROM clicks c ASOF JOIN purch p ON c.user_id = p.user_id AND c.sec >= p.sec""")),

    // Inactivity-gap sessionization (30 min) — one row per session
    QueryDef("q47_sessionize",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id").as("key"), epochTrunc("second", col("ts")).as("sec"))
        Sessions.sessionize(e, gapSec = 1800L)
          .select(col("key").as("user_id"), col("session_id"), col("session_start"),
            col("duration_sec"), col("n_events"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events),
        gaps AS (
          SELECT user_id, sec,
            CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC)),
        sess AS (
          SELECT user_id, sec,
            CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec ASC) AS BIGINT) AS session_id
          FROM gaps)
        SELECT user_id, session_id, MIN(sec) AS session_start,
          MAX(sec) - MIN(sec) AS duration_sec, COUNT(*) AS n_events
        FROM sess GROUP BY 1, 2"""),
      bench = true),

    // Ordered-set aggregates: exact interpolated percentiles per event type
    QueryDef("q48_percentiles",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            round(expr("percentile(value, 0.5)"), 8).as("p50"),
            round(expr("percentile(value, 0.9)"), 8).as("p90"))
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS cnt,
          round(quantile_cont(value, 0.5), 8) AS p50,
          round(quantile_cont(value, 0.9), 8) AS p90
        FROM events GROUP BY 1""")),

    // Semi-structured columns: extract a field from the JSON props payload
    QueryDef("q51_json_stats",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast(org.apache.spark.sql.types.LongType))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            countDistinct(col("k")).as("n_distinct_k"))
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS cnt,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
        FROM events GROUP BY 1""")),

    // Dense time-grid resample: every (event_type × hour) cell over the full
    // span, zero-filled — the gap-filling step a forecasting pipeline needs
    QueryDef("q56_dense_hourly",
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val counts = e.groupBy(col("event_type"), epochTrunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val span = e.agg(min(epochTrunc("hour", col("ts"))).as("lo"),
          max(epochTrunc("hour", col("ts"))).as("hi"))
        val grid = e.select(col("event_type")).distinct()
          .crossJoin(broadcast(span))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), lit(3600L))).as("h"))
        grid.join(counts, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))
      },
      oracle = Some("""
        WITH c AS (
          SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        span AS (
          SELECT CAST(epoch(date_trunc('hour', MIN(ts))) AS BIGINT) AS lo,
                 CAST(epoch(date_trunc('hour', MAX(ts))) AS BIGINT) AS hi
          FROM events),
        grid AS (
          SELECT t.event_type, g.h
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT unnest(generate_series(lo, hi, 3600)) AS h FROM span) g)
        SELECT grid.event_type, grid.h, COALESCE(c.cnt, 0) AS cnt
        FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.h = c.h""")),

    // Sketches: HLL distinct-count estimates differ per engine, so the
    // comparable outputs are the exact count plus an engine-local
    // "estimate within 10% of exact" flag (both engines' sketches must hold it)
    QueryDef("q59_approx_distinct",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"),
            (abs(approx_count_distinct(col("user_id")).cast(org.apache.spark.sql.types.DoubleType) -
              countDistinct(col("user_id")).cast(org.apache.spark.sql.types.DoubleType)) <=
              countDistinct(col("user_id")).cast(org.apache.spark.sql.types.DoubleType) * 0.1d)
              .as("approx_within_10pct"))
      },
      oracle = Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
          abs(CAST(approx_count_distinct(user_id) AS DOUBLE) - CAST(COUNT(DISTINCT user_id) AS DOUBLE))
            <= CAST(COUNT(DISTINCT user_id) AS DOUBLE) * 0.1 AS approx_within_10pct
        FROM events GROUP BY 1""")),

    // Portable HyperLogLog (Flajolet et al. 2007), m=64 registers over the
    // md5-derived h60 — the full-hash-match sibling of q59 (whose
    // engine-internal sketch forces a tolerance contract; here the
    // REGISTERS replay in the oracle and the estimate is pinned to 6 dp).
    // Register update is a grouped integer MAX — order-independent,
    // mergeable, ≤ m partials/partition map-side; the harmonic denominator
    // is summed in EXACT INTEGER form (Σ 2^(55−M) < 2^61) so no
    // float-accumulation order can flake the match. Only the final α·m²
    // division and the small-range ln correction are floating point,
    // replayed as single expressions.
    QueryDef("q129_hll_portable",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val regs = Hll.registers(ev, Seq("event_type"), "user_id")
        val est = Hll.estimate(regs, Seq("event_type"))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("exact_users"), col("reg_sum"), col("hll_est"))
      },
      oracle = Some("""
        WITH h AS (
          SELECT event_type,
            CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
          FROM events),
        rk AS (SELECT event_type, hh % 64 AS bucket, hh // 64 AS v FROM h),
        regs AS MATERIALIZED (
          SELECT event_type, bucket,
            MAX(CASE WHEN v = 0 THEN 55 ELSE 55 - length(bin(v)) END) AS r
          FROM rk GROUP BY 1, 2),
        agg AS (
          SELECT event_type,
            CAST(SUM(CAST(power(2, 55 - r) AS BIGINT)) AS BIGINT) AS isum,
            COUNT(*) AS np,
            CAST(SUM(r) AS BIGINT) AS reg_sum
          FROM regs GROUP BY 1),
        est AS (
          SELECT event_type, reg_sum,
            (0.7213e0 / (1e0 + 1.079e0 / 64e0)) * 4096e0 /
              (CAST(isum + (64 - np) * CAST(power(2, 55) AS BIGINT) AS DOUBLE)
                / CAST(power(2, 55) AS DOUBLE)) AS raw,
            64 - np AS zeros
          FROM agg),
        ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
          FROM events GROUP BY 1)
        SELECT e.event_type, x.exact_users, e.reg_sum,
          round(CASE WHEN e.raw <= 160e0 AND e.zeros > 0
            THEN 64e0 * ln(64e0 / CAST(e.zeros AS DOUBLE)) ELSE e.raw END, 6) AS hll_est
        FROM est e JOIN ex x USING (event_type)"""),
      bench = true),

    // Sketch quantiles with the q59 tolerance-contract pattern: Spark's
    // approx_percentile (GK sketch) is mergeable at any scale where the
    // exact ordered-set percentile (q48) needs a per-group sort; the sketch
    // value itself is partitioning-dependent, so the emitted row carries the
    // EXACT value plus a Spark-computed bound check — the oracle replays the
    // exact side and asserts the bound held, never hashing the sketch.
    QueryDef("q85_approx_percentiles",
      (s, dir) => {
        val exact50 = expr("percentile(value, 0.5)")
        val approx50 = expr("approx_percentile(value, 0.5, 1000)")
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            round(exact50, 8).as("exact_p50"),
            (abs(approx50 - exact50) <=
              greatest(abs(exact50) * 0.05d, lit(1.0d))).as("approx_within_5pct"))
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS cnt,
          round(quantile_cont(value, 0.5), 8) AS exact_p50,
          TRUE AS approx_within_5pct
        FROM events GROUP BY 1""")),

    // Z-order layout clustering (the Delta/Iceberg OPTIMIZE ZORDER
    // technique): interleave 10-bit (user, hour) buckets into a Morton
    // key and aggregate per z-prefix cell (zkey >> 8). The quadtree
    // property makes every cell an axis-aligned 16×16 tile — the per-cell
    // min/max spans ARE the file-skipping statistics a 100 TB table gets
    // from z-ordered files: a predicate on user AND time prunes to the
    // cells whose rectangle intersects it, where a one-dimensional sort
    // leaves the other dimension's span at full range (ExprsSpec measures
    // the contrast on this table). Pure integer bit arithmetic — exact,
    // portable, one grouped aggregate.
    QueryDef("q133_zorder_layout",
      (s, dir) => {
        val secs = epochTrunc("hour", col("ts"))
        // hour-truncated seconds are exact multiples of 3600, so the
        // double division is exact and the cast is a floor
        val hours = (secs / lit(3600)).cast(LongType)
        val b = Tables(s, dir, "events").select(
          pmod(col("user_id"), lit(1024L)).as("x"),
          pmod(hours, lit(1024L)).as("y"))
        b.select(col("x"), col("y"),
            graft.functions.Exprs.zorder(col("x"), col("y"), 10).as("zkey"))
          .groupBy(shiftright(col("zkey"), 8).as("cell"))
          .agg(count(lit(1)).as("n_events"),
            min(col("x")).as("u_min"), max(col("x")).as("u_max"),
            min(col("y")).as("h_min"), max(col("y")).as("h_max"))
      },
      oracle = Some {
        val zsql = (0 until 10)
          .map(k => s"(((x >> $k) & 1) << ${2 * k}) + (((y >> $k) & 1) << ${2 * k + 1})")
          .mkString(" + ")
        s"""
        WITH b AS (
          SELECT user_id % 1024 AS x,
            (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600) % 1024 AS y
          FROM events),
        z AS (SELECT x, y, ($zsql) AS zkey FROM b)
        SELECT zkey >> 8 AS cell, CAST(COUNT(*) AS BIGINT) AS n_events,
          MIN(x) AS u_min, MAX(x) AS u_max, MIN(y) AS h_min, MAX(y) AS h_max
        FROM z GROUP BY 1"""
      },
      bench = true),

    // Range join via bin bucketing: every high-value event anchors a ±2 min
    // incident window; count the traffic inside each window. The naive
    // `e.ts BETWEEN a.t0 AND a.t1` join has no equi key (Catalyst plans a
    // BroadcastNestedLoopJoin — |P|×|I| at scale); RangeJoin decomposes it
    // into an equi join on 2-minute bins + exact range recheck, and
    // RangeJoinSpec pins both the naive-join equivalence and the
    // no-nested-loop plan shape.
    QueryDef("q87_range_join_windows",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            unix_micros(col("ts")).as("us"))
        val win = 120000000L // ±2 min in micros; binWidth = the half-width
        val anchors = ev.filter(col("value") > 300)
          .select(col("event_id").as("win_id"),
            (col("us") - win).as("t0"), (col("us") + win).as("t1"))
        RangeJoin.pointInInterval(ev, "us", anchors, "t0", "t1", win)
          .groupBy(col("win_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            dsum(col("value"), 8).as("sum_value"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events),
        anchors AS (
          SELECT event_id AS win_id, us - 120000000 AS t0, us + 120000000 AS t1
          FROM ev WHERE value > 300)
        SELECT a.win_id, COUNT(*) AS n_events,
          COUNT(DISTINCT e.user_id) AS n_users,
          CAST(SUM(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
        FROM anchors a JOIN ev e ON e.us >= a.t0 AND e.us < a.t1
        GROUP BY 1"""),
      bench = true),

    // Ordered conversion funnel: users progressing view → click → purchase
    // with strictly increasing event times. Three stage frames, each an
    // equi-shuffle on user_id (min-timestamp aggregate, then a filtered
    // re-join of the next stage's events) — no window over a global order,
    // no per-user event collection, so the plan survives power-law users.
    QueryDef("q106_funnel",
      (s, dir) => {
        val e = Tables(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
        val t1 = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
          .filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        t1.agg(count(lit(1)).as("n_view"))
          .crossJoin(t2.agg(count(lit(1)).as("n_view_click")))
          .crossJoin(t3.agg(count(lit(1)).as("n_view_click_purchase")))
      },
      oracle = Some("""
        WITH t1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        t2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        t3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        SELECT (SELECT COUNT(*) FROM t1) AS n_view,
               (SELECT COUNT(*) FROM t2) AS n_view_click,
               (SELECT COUNT(*) FROM t3) AS n_view_click_purchase"""),
      bench = true),

    // Cohort retention: users grouped by first-activity date, retention at
    // each day offset = distinct active users / cohort size. The user-day
    // distinct and the first-day aggregate are both user_id equi-shuffles;
    // the per-cohort rollup is date-keyed (bounded by the calendar, never
    // corpus-sized). Dates ship cross-engine as ISO strings.
    QueryDef("q107_retention",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"), col("ts").cast(DateType).as("d"))
        val first = e.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
        val sizes = first.groupBy(col("d0")).agg(count(lit(1)).as("cohort_n"))
        val userDays = e.distinct()
        val act = userDays.join(first, "user_id")
          .groupBy(col("d0"), datediff(col("d"), col("d0")).cast(LongType).as("day_offset"))
          .agg(count(lit(1)).as("n_active"))
          .filter(col("day_offset") <= 14)
        // retention ships as an integer: the half-up-rounded ratio ×1e8,
        // computed in pure BIGINT arithmetic ((2·n·1e8 + d) div 2d) — no
        // double rounding whose representational boundaries could flip a
        // digit on one engine but not the other (the repo's exact-decimal
        // ethos: dsum, q113's integer 2-sigma rewrite).
        act.join(sizes, "d0")
          .select(date_format(col("d0"), "yyyy-MM-dd").as("cohort_date"),
            col("day_offset"), col("cohort_n"), col("n_active"),
            expr("(n_active * 200000000L + cohort_n) div (2 * cohort_n)")
              .as("retention_e8"))
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        first AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY 1),
        sizes AS (SELECT d0, COUNT(*) AS cohort_n FROM first GROUP BY 1),
        act AS (
          SELECT f.d0, CAST(ud.d - f.d0 AS BIGINT) AS day_offset, COUNT(*) AS n_active
          FROM (SELECT DISTINCT user_id, d FROM e) ud JOIN first f USING (user_id)
          GROUP BY 1, 2 HAVING day_offset <= 14)
        SELECT strftime(a.d0, '%Y-%m-%d') AS cohort_date, a.day_offset, s.cohort_n,
          a.n_active,
          (a.n_active * 200000000 + s.cohort_n) // (2 * s.cohort_n) AS retention_e8
        FROM act a JOIN sizes s USING (d0)"""),
      bench = true),

    // Multi-level aggregate in one pass: ROLLUP(event_type, day) computes the
    // detail cells, per-type subtotals, and the grand total in a single
    // shuffle (Spark expands grouping sets map-side; no re-scan per level).
    // Subtotal rows are labeled 'ALL' via GROUPING(col) — the grouping
    // indicator, not a COALESCE of the grouped value — so a genuine NULL
    // (or literal 'ALL') data value can never masquerade as a subtotal.
    QueryDef("q108_rollup",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .rollup(col("event_type"), col("day"))
          .agg(count(lit(1)).as("cnt"), dsum(col("value"), 8).as("sum_value"),
            grouping(col("event_type")).as("g_et"), grouping(col("day")).as("g_day"))
          .select(
            when(col("g_et") === 1, lit("ALL")).otherwise(col("event_type")).as("event_type"),
            when(col("g_day") === 1, lit("ALL")).otherwise(col("day")).as("day"),
            col("cnt"), col("sum_value"))
      },
      oracle = Some("""
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
          CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day, COUNT(*) AS cnt,
          CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
        FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events)
        GROUP BY ROLLUP (event_type, day)"""),
      bench = true),

    // Hourly error-count anomalies at 2σ. The moments are integer sums
    // (S1 = Σcnt, S2 = Σcnt²) and the 2σ test is multiplied through to an
    // all-integer comparison, (n·cnt − S1)² > 4·(n·S2 − S1²), evaluated in
    // DECIMAL(38,0) — no double mean/stddev whose rounding could flip a
    // boundary row on one engine but not the other. Single hour-keyed
    // shuffle + a 1-row broadcast of the moments.
    QueryDef("q113_anomaly",
      (s, dir) => {
        val hourly = Tables(s, dir, "events")
          .filter(col("event_type") === "error")
          .groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"))
          .agg(count(lit(1)).as("cnt"))
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val moments = hourly.agg(count(lit(1)).as("n"), sum(col("cnt")).as("s1"),
          sum(col("cnt") * col("cnt")).as("s2"))
        hourly.crossJoin(broadcast(moments))
          .select(col("hour_epoch"), col("cnt"),
            ((col("n").cast(dec) * col("cnt").cast(dec) - col("s1").cast(dec)) *
              (col("n").cast(dec) * col("cnt").cast(dec) - col("s1").cast(dec)) >
              lit(4).cast(dec) * (col("n").cast(dec) * col("s2").cast(dec) -
                col("s1").cast(dec) * col("s1").cast(dec))).as("is_anomaly"))
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, COUNT(*) AS cnt
          FROM events WHERE event_type = 'error' GROUP BY 1),
        m AS (
          SELECT COUNT(*) AS n, SUM(cnt) AS s1, SUM(cnt*cnt) AS s2 FROM hourly)
        SELECT h.hour_epoch, h.cnt,
          (CAST(m.n AS DECIMAL(38,0)) * CAST(h.cnt AS DECIMAL(38,0)) - CAST(m.s1 AS DECIMAL(38,0)))
            * (CAST(m.n AS DECIMAL(38,0)) * CAST(h.cnt AS DECIMAL(38,0)) - CAST(m.s1 AS DECIMAL(38,0)))
            > 4 * (CAST(m.n AS DECIMAL(38,0)) * CAST(m.s2 AS DECIMAL(38,0))
                   - CAST(m.s1 AS DECIMAL(38,0)) * CAST(m.s1 AS DECIMAL(38,0))) AS is_anomaly
        FROM hourly h CROSS JOIN m"""),
      bench = true),

    // KMV theta-sketch set operations (Beyer et al. SIGMOD'07; the
    // DataSketches theta framework): distinct (user, day) cardinalities of
    // the click and purchase audiences, their union, and their overlap —
    // estimated from k = 256 minimum md5 hash values per set, never the
    // full distinct sets. Sub-k sets fall back to the standard exact mode.
    // Everything downstream of the distinct is k-bounded: the k-min
    // samples ride the bounded heap, membership flags return via one
    // broadcast join of 256 rows. Exact counts ship alongside as the
    // tolerance evidence (they ARE the q59-style contract columns); the
    // oracle replays the sketch itself, hash for hash.
    QueryDef("q137_kmv_setops",
      (s, dir) => {
        val it = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), col("user_id"),
            unix_timestamp(date_trunc("day", col("ts"))).cast(LongType).as("day"))
          .distinct()
        val items = it.groupBy(
          conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"),
            lit(":"), col("day").cast("string"))), 1, 12), 16, 10).cast(LongType).as("h"))
          .agg(bool_or(col("event_type") === "click").as("ina"),
            bool_or(col("event_type") === "purchase").as("inb"))
        graft.operators.Kmv.setOps(items, k = 256)
      },
      oracle = Some("""
        WITH it AS (
          SELECT DISTINCT event_type, user_id,
            CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day
          FROM events WHERE event_type IN ('click', 'purchase')),
        hh AS MATERIALIZED (
          SELECT CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR) || ':' || CAST(day AS VARCHAR)), 1, 12) AS BIGINT) AS h,
            bool_or(event_type = 'click') AS ina,
            bool_or(event_type = 'purchase') AS inb
          FROM it GROUP BY 1),
        ex AS (
          SELECT CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS exact_a,
            CAST(SUM(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS exact_b,
            CAST(COUNT(*) AS BIGINT) AS exact_union,
            CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
          FROM hh),
        ka AS (SELECT MAX(h) AS kth_a FROM (SELECT h FROM hh WHERE ina ORDER BY h ASC LIMIT 256)),
        kb AS (SELECT MAX(h) AS kth_b FROM (SELECT h FROM hh WHERE inb ORDER BY h ASC LIMIT 256)),
        kus AS MATERIALIZED (SELECT h FROM hh ORDER BY h ASC LIMIT 256),
        ku AS (SELECT MAX(h) AS kth_u FROM kus),
        ci AS (
          SELECT CAST(SUM(CASE WHEN hh.ina AND hh.inb THEN 1 ELSE 0 END) AS BIGINT) AS c_inter
          FROM hh JOIN kus ON hh.h = kus.h),
        sel AS (
          SELECT ex.*,
            CASE WHEN ex.exact_a < 256 THEN CAST(ex.exact_a AS DOUBLE)
              ELSE round(CAST(255 AS DOUBLE) /
                ((CAST(ka.kth_a AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(281474976710656 AS DOUBLE)), 4) END AS est_a,
            CASE WHEN ex.exact_b < 256 THEN CAST(ex.exact_b AS DOUBLE)
              ELSE round(CAST(255 AS DOUBLE) /
                ((CAST(kb.kth_b AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(281474976710656 AS DOUBLE)), 4) END AS est_b,
            CASE WHEN ex.exact_union < 256 THEN CAST(ex.exact_union AS DOUBLE)
              ELSE round(CAST(255 AS DOUBLE) /
                ((CAST(ku.kth_u AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(281474976710656 AS DOUBLE)), 4) END AS est_union,
            ci.c_inter
          FROM ex CROSS JOIN ka CROSS JOIN kb CROSS JOIN ku CROSS JOIN ci)
        SELECT exact_a, exact_b, exact_union, exact_inter, est_a, est_b, est_union,
          CASE WHEN exact_union < 256 THEN CAST(exact_inter AS DOUBLE)
            ELSE round(CAST(c_inter AS DOUBLE) / CAST(256 AS DOUBLE) * est_union, 4) END AS est_inter
        FROM sel"""),
      bench = true),

    // Slowly-changing-dimension (type 2) build by interval compression —
    // the gaps-and-islands pattern every warehouse pipeline runs: each
    // user's dominant daily event_type (ties to the alphabetically first),
    // with consecutive identical statuses collapsed into
    // [valid_from, valid_to] validity ranges via the lag-flag + running-sum
    // island id. Both windows partition BY USER (calendar-bounded rows per
    // partition — never a global window); every output column is integer
    // or string, so the row set hash-matches with no float ladder at all.
    QueryDef("q139_scd2_intervals",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val daily = Tables(s, dir, "events")
          .groupBy(col("user_id"),
            unix_timestamp(date_trunc("day", col("ts"))).cast(LongType).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"), col("day"))
              .orderBy(col("cnt").desc, col("event_type").asc)))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("day"), col("event_type").as("status"))
        daily
          .withColumn("chg",
            when(lag(col("status"), 1).over(w).isNull ||
              lag(col("status"), 1).over(w) =!= col("status"), 1L).otherwise(0L))
          .withColumn("island", sum(col("chg")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("island"), col("status"))
          .agg(min(col("day")).as("valid_from"), max(col("day")).as("valid_to"),
            count(lit(1)).as("n_days"))
          .select(col("user_id"), col("status"), col("valid_from"),
            col("valid_to"), col("n_days"))
      },
      oracle = Some("""
        WITH daily AS (
          SELECT user_id, day, event_type AS status FROM (
            SELECT user_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day,
              event_type, COUNT(*) AS cnt,
              row_number() OVER (PARTITION BY user_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                                 ORDER BY COUNT(*) DESC, event_type ASC) AS rn
            FROM events GROUP BY 1, 2, 3) z
          WHERE rn = 1),
        flagged AS (
          SELECT user_id, day, status,
            CASE WHEN lag(status) OVER (PARTITION BY user_id ORDER BY day) IS NULL
                   OR lag(status) OVER (PARTITION BY user_id ORDER BY day) <> status
              THEN 1 ELSE 0 END AS chg
          FROM daily),
        islands AS (
          SELECT user_id, day, status,
            SUM(chg) OVER (PARTITION BY user_id ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM flagged)
        SELECT user_id, status, MIN(day) AS valid_from, MAX(day) AS valid_to,
          COUNT(*) AS n_days
        FROM islands GROUP BY user_id, island, status"""),
      bench = true),

    // Finite-window EWMA smoothing of the hourly event-rate series — the
    // anomaly-baseline/trend primitive (Holt 1957's level term; the
    // truncated form Σ_{j<24} w_j·x_{t-j} / Σw_j with w_j = α(1−α)^j,
    // α = 0.3). The 24 weights are PLAN-TIME constants generated once in
    // Scala and embedded as literals in BOTH engines, so there is no pow()
    // in either plan to diverge; products ride the 10-dp DECIMAL fold.
    // Shape: the q56 dense grid (zeros filled) × a 24-row broadcast offset
    // table → one (type, hour)-keyed join + grouped sum — no window
    // function, partition-friendly at any series count; only complete
    // windows emit (h ≥ lo + 23h).
    QueryDef("q140_ewma",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val e = Tables(s, dir, "events")
        val counts = e.groupBy(col("event_type"), epochTrunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val span = e.agg(min(epochTrunc("hour", col("ts"))).as("lo"),
          max(epochTrunc("hour", col("ts"))).as("hi"))
        val dense = e.select(col("event_type")).distinct()
          .crossJoin(broadcast(span))
          .select(col("event_type"), explode(sequence(col("lo"), col("hi"), lit(3600L))).as("h"))
          .join(counts, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        val w = ewmaWeights.zipWithIndex
          .map { case (wj, j) => (j.toLong, wj) }.toDF("j", "w")
        dense.select(col("event_type"), col("h"))
          .crossJoin(broadcast(w))
          .select(col("event_type"), col("h"),
            (col("h") - col("j") * lit(3600L)).as("hj"), col("w"))
          .join(dense.select(col("event_type"), col("h").as("hj"), col("cnt")),
            Seq("event_type", "hj"))
          .groupBy(col("event_type"), col("h"))
          .agg(round(dsum(round(col("w") * col("cnt").cast(DoubleType), 10), 10) /
            lit(ewmaNorm), 6).as("ewma"))
          .crossJoin(broadcast(span))
          .filter(col("h") >= col("lo") + lit(23L * 3600L))
          .select(col("event_type"), col("h"), col("ewma"))
      },
      oracle = Some {
        val wVals = ewmaWeights.zipWithIndex
          .map { case (wj, j) => s"($j, CAST($wj AS DOUBLE))" }.mkString(", ")
        s"""
        WITH c AS (
          SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        span AS (
          SELECT CAST(epoch(date_trunc('hour', MIN(ts))) AS BIGINT) AS lo,
                 CAST(epoch(date_trunc('hour', MAX(ts))) AS BIGINT) AS hi
          FROM events),
        dense AS MATERIALIZED (
          SELECT t.event_type, g.h, COALESCE(c.cnt, 0) AS cnt
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT UNNEST(generate_series((SELECT lo FROM span), (SELECT hi FROM span), 3600)) AS h) g
          LEFT JOIN c ON c.event_type = t.event_type AND c.h = g.h),
        w(j, wv) AS (SELECT * FROM (VALUES $wVals) t(j, wv))
        SELECT a.event_type, a.h,
          round(CAST(SUM(CAST(round(w.wv * CAST(d.cnt AS DOUBLE), 10) AS DECIMAL(30,10))) AS DOUBLE)
            / CAST($ewmaNorm AS DOUBLE), 6) AS ewma
        FROM dense a
        JOIN w ON TRUE
        JOIN dense d ON d.event_type = a.event_type AND d.h = a.h - w.j * 3600
        WHERE a.h >= (SELECT lo FROM span) + ${23L * 3600L}
        GROUP BY 1, 2"""
      },
      bench = true),

    // Market-basket association rules (Agrawal & Srikant's A-Priori setting,
    // VLDB 1994) over (user, day) baskets of event types: every ordered
    // pair (a → b) co-occurring in ≥ minSupport baskets, with support,
    // confidence = supp(ab)/supp(a) and lift = supp(ab)·n/(supp(a)·supp(b)).
    // Baskets are tiny (≤ |event_type| items), so pairs generate ROW-LOCALLY
    // from each basket's sorted distinct item array — no self-join of an
    // item table; the wide stages are one basket distinct + one pair count.
    // All three measures are integer ratios — single-division determinism.
    QueryDef("q143_basket_rules",
      (s, dir) => {
        val baskets = Tables(s, dir, "events")
          .select(col("user_id"),
            unix_timestamp(date_trunc("day", col("ts"))).cast(LongType).as("day"),
            col("event_type"))
          .groupBy(col("user_id"), col("day"))
          .agg(array_sort(collect_set(col("event_type"))).as("items"))
        val n = baskets.agg(count(lit(1)).as("n"))
        val singles = baskets
          .select(explode(col("items")).as("item"))
          .groupBy(col("item")).agg(count(lit(1)).as("supp1"))
        val pairs = baskets
          .select(explode(expr(
            """flatten(transform(items, a ->
                 filter(transform(items, b -> named_struct('a', a, 'b', b)),
                        x -> x.a <> x.b)))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("supp_ab"))
          .filter(col("supp_ab") >= 20L)
        pairs
          .join(broadcast(singles.select(col("item").as("a"), col("supp1").as("supp_a"))), "a")
          .join(broadcast(singles.select(col("item").as("b"), col("supp1").as("supp_b"))), "b")
          .crossJoin(broadcast(n))
          .select(col("a"), col("b"), col("supp_ab"), col("supp_a"), col("supp_b"),
            round(col("supp_ab").cast(DoubleType) / col("supp_a").cast(DoubleType), 8)
              .as("confidence"),
            round((col("supp_ab") * col("n")).cast(DoubleType) /
              (col("supp_a") * col("supp_b")).cast(DoubleType), 8).as("lift"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT user_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day,
            list_sort(list_distinct(list(event_type))) AS items
          FROM events GROUP BY 1, 2),
        n AS (SELECT COUNT(*) AS n FROM b),
        s1 AS (SELECT item, COUNT(*) AS supp1 FROM
                 (SELECT UNNEST(items) AS item FROM b) u GROUP BY 1),
        pr AS (
          SELECT p.a, p.b, COUNT(*) AS supp_ab FROM (
            SELECT UNNEST(flatten(list_transform(items, a ->
              list_filter(list_transform(items, bb -> {'a': a, 'b': bb}),
                          x -> x.a <> x.b)))) AS p
            FROM b) z
          GROUP BY 1, 2 HAVING COUNT(*) >= 20)
        SELECT pr.a, pr.b, pr.supp_ab, sa.supp1 AS supp_a, sb.supp1 AS supp_b,
          round(CAST(pr.supp_ab AS DOUBLE) / CAST(sa.supp1 AS DOUBLE), 8) AS confidence,
          round(CAST(pr.supp_ab * (SELECT n FROM n) AS DOUBLE) /
            CAST(sa.supp1 * sb.supp1 AS DOUBLE), 8) AS lift
        FROM pr JOIN s1 sa ON pr.a = sa.item JOIN s1 sb ON pr.b = sb.item"""),
      bench = true),

    // Incremental aggregate maintenance (the lambda-architecture / IVM
    // contract): an hourly-stats STATE table built from history (< split)
    // merged with a DELTA batch (≥ split) by re-aggregating partials —
    // counts add, DECIMAL sums add, mins/maxes re-min/max. The oracle is
    // the FULL recompute over all events: merge(partial(A), partial(B)) ≡
    // aggregate(A ∪ B) is exactly the property that lets a 100 TB mart
    // absorb a day's delta without rescanning history. Both inputs arrive
    // pre-aggregated, so the merge shuffle carries hour-bucket partials,
    // never raw events.
    QueryDef("q144_incremental_agg",
      (s, dir) => {
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 8))).as("sv"),
            min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        val e = Tables(s, dir, "events")
        val state = partial(e.filter(col("ts") < lit(splitDate).cast("timestamp")))
        val delta = partial(e.filter(col("ts") >= lit(splitDate).cast("timestamp")))
        state.union(delta)
          .groupBy(col("hour_epoch"), col("event_type"))
          .agg(sum(col("cnt")).as("cnt"),
            sum(col("sv")).cast(DoubleType).as("sum_value"),
            min(col("min_value")).as("min_value"), max(col("max_value")).as("max_value"))
      },
      oracle = Some("""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
          COUNT(*) AS cnt,
          CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value,
          MIN(value) AS min_value, MAX(value) AS max_value
        FROM events GROUP BY 1, 2"""),
      bench = true),

    // Per-type linear trend of the hourly event-rate series: closed-form
    // least squares over (hour index, count) — slope and intercept from
    // the FIVE integer sufficient statistics (n, Σx, Σy, Σxy, Σx²), so
    // the whole regression is two exact integer aggregates and two final
    // divisions (DECIMAL(38,0) numerators, the q113 moment ladder). The
    // trend-detection primitive a metrics mart runs per series; one
    // type-keyed shuffle, map-side combined.
    QueryDef("q150_trend_slopes",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables(s, dir, "events")
        val lo = e.agg(min(epochTrunc("hour", col("ts"))).as("lo"))
        val hourly = e.groupBy(col("event_type"), epochTrunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("y"))
          .crossJoin(broadcast(lo))
          .select(col("event_type"), ((col("h") - col("lo")) / lit(3600L)).cast(LongType).as("x"),
            col("y"))
        hourly.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
          .select(col("event_type"), col("n"),
            round((col("n").cast(dec) * col("sxy").cast(dec) -
              col("sx").cast(dec) * col("sy").cast(dec)).cast(DoubleType) /
              (col("n").cast(dec) * col("sxx").cast(dec) -
                col("sx").cast(dec) * col("sx").cast(dec)).cast(DoubleType), 8).as("slope"),
            round((col("sy").cast(dec) * col("sxx").cast(dec) -
              col("sx").cast(dec) * col("sxy").cast(dec)).cast(DoubleType) /
              (col("n").cast(dec) * col("sxx").cast(dec) -
                col("sx").cast(dec) * col("sx").cast(dec)).cast(DoubleType), 8).as("intercept"))
      },
      oracle = Some("""
        WITH lo AS (SELECT CAST(epoch(date_trunc('hour', MIN(ts))) AS BIGINT) AS lo FROM events),
        hourly AS (
          SELECT event_type,
            (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - (SELECT lo FROM lo)) // 3600 AS x,
            COUNT(*) AS y
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
            CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
            CAST(SUM(x*x) AS BIGINT) AS sxx
          FROM hourly GROUP BY 1)
        SELECT event_type, n,
          round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE) /
                CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 8) AS slope,
          round(CAST(CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy AS DOUBLE) /
                CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 8) AS intercept
        FROM st"""),
      bench = true),

    // Two-cohort conversion chi-square (the 2×2 contingency A/B primitive,
    // Pearson 1900): did odd-user_id users purchase at a different rate
    // than even ones? Conversion = a purchase above 180 (the whale
    // threshold keeps all four contingency cells populated — plain
    // "any purchase" saturates at this corpus's event density).
    // χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) — a
    // single rational expression over FOUR integer cells, computed in
    // DECIMAL(38,0) with one final division, plus the fixed-threshold
    // decision at 3.841 (α = 0.05, df = 1). One grouped pass over users.
    QueryDef("q151_chi_square",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val users = Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" && col("value") > lit(180.0d), 1L)
            .otherwise(0L)).as("converted"))
          .select((col("user_id") % 2 === 1).as("cohort_a"), col("converted"))
        val cells = users.agg(
          sum(when(col("cohort_a") && col("converted") === 1L, 1L).otherwise(0L)).as("a"),
          sum(when(col("cohort_a") && col("converted") === 0L, 1L).otherwise(0L)).as("b"),
          sum(when(!col("cohort_a") && col("converted") === 1L, 1L).otherwise(0L)).as("c"),
          sum(when(!col("cohort_a") && col("converted") === 0L, 1L).otherwise(0L)).as("d"))
        cells.select(col("a"), col("b"), col("c"), col("d"),
          round(((col("a") + col("b") + col("c") + col("d")).cast(dec) *
            (col("a").cast(dec) * col("d").cast(dec) - col("b").cast(dec) * col("c").cast(dec)) *
            (col("a").cast(dec) * col("d").cast(dec) - col("b").cast(dec) * col("c").cast(dec)))
            .cast(DoubleType) /
            ((col("a") + col("b")).cast(dec) * (col("c") + col("d")).cast(dec) *
              (col("a") + col("c")).cast(dec) * (col("b") + col("d")).cast(dec)).cast(DoubleType),
            8).as("chi2"))
          .withColumn("significant_05", col("chi2") > lit(3.841d))
      },
      oracle = Some("""
        WITH u AS (
          SELECT user_id % 2 = 1 AS cohort_a,
            MAX(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS converted
          FROM events GROUP BY user_id),
        cells AS (
          SELECT
            CAST(SUM(CASE WHEN cohort_a AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN cohort_a AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN NOT cohort_a AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN NOT cohort_a AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM u)
        SELECT a, b, c, d,
          round(CAST(CAST(a + b + c + d AS DECIMAL(38,0)) *
              (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) *
              (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) AS DOUBLE) /
            CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d) AS DOUBLE), 8) AS chi2,
          round(CAST(CAST(a + b + c + d AS DECIMAL(38,0)) *
              (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) *
              (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) AS DOUBLE) /
            CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d) AS DOUBLE), 8)
            > 3.841 AS significant_05
        FROM cells"""),
      bench = true),

    // Population Stability Index (the standard model/data drift monitor;
    // the discrete KL-symmetrization credit-scoring literature popularized):
    // PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over 20 fixed-width value buckets,
    // early window (< split) vs late window (≥ split). Fixed-width buckets
    // — floor(value/10), clamped to [0, 19] — so NO global sort/quantile
    // pass exists; add-one smoothing keeps empty buckets finite. Ratios of
    // integers → 10-dp-rounded ln terms → exact DECIMAL fold: bit-portable.
    QueryDef("q154_psi_drift",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("ts"), least(floor(col("value") / lit(10.0d)).cast(LongType), lit(19L))
            .as("b"))
        val early = e.filter(col("ts") < lit(splitDate).cast("timestamp"))
          .groupBy(col("b")).agg(count(lit(1)).as("ce"))
        val late = e.filter(col("ts") >= lit(splitDate).cast("timestamp"))
          .groupBy(col("b")).agg(count(lit(1)).as("cl"))
        val grid = s.range(0, 20).select(col("id").as("b"))
        val cells = grid
          .join(early, Seq("b"), "left").join(late, Seq("b"), "left")
          .select(col("b"), coalesce(col("ce"), lit(0L)).as("ce"),
            coalesce(col("cl"), lit(0L)).as("cl"))
        val tot = cells.agg(sum(col("ce")).as("ne"), sum(col("cl")).as("nl"))
        val terms = cells.crossJoin(broadcast(tot))
          .select(col("b"), col("ce"), col("cl"),
            // p, q with add-one over the 20-bucket grid; the PSI term
            // re-syncs at 10 dp before the exact fold
            round((((col("ce") + 1).cast(DoubleType) / (col("ne") + 20).cast(DoubleType)) -
              ((col("cl") + 1).cast(DoubleType) / (col("nl") + 20).cast(DoubleType))) *
              round(log(((col("ce") + 1).cast(DoubleType) / (col("ne") + 20).cast(DoubleType)) /
                ((col("cl") + 1).cast(DoubleType) / (col("nl") + 20).cast(DoubleType))), 10),
              10).as("term"))
        terms.agg(count(lit(1)).as("n_buckets"),
          // round the EXACT decimal sum before the double cast (q145 lesson)
          round(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(30, 10))), 8)
            .cast(DoubleType).as("psi"))
      },
      oracle = Some(s"""
        WITH e AS (
          SELECT ts, least(CAST(floor(value / CAST(10 AS DOUBLE)) AS BIGINT), 19) AS b
          FROM events),
        early AS (SELECT b, COUNT(*) AS ce FROM e WHERE ts < TIMESTAMP '$splitDate' GROUP BY 1),
        late AS (SELECT b, COUNT(*) AS cl FROM e WHERE ts >= TIMESTAMP '$splitDate' GROUP BY 1),
        grid AS (SELECT UNNEST(generate_series(0, 19)) AS b),
        cells AS (
          SELECT g.b, COALESCE(early.ce, 0) AS ce, COALESCE(late.cl, 0) AS cl
          FROM grid g LEFT JOIN early ON early.b = g.b LEFT JOIN late ON late.b = g.b),
        tot AS (SELECT CAST(SUM(ce) AS BIGINT) AS ne, CAST(SUM(cl) AS BIGINT) AS nl FROM cells),
        terms AS (
          SELECT round(
            ((CAST(ce + 1 AS DOUBLE) / CAST(ne + 20 AS DOUBLE)) -
             (CAST(cl + 1 AS DOUBLE) / CAST(nl + 20 AS DOUBLE))) *
            round(ln((CAST(ce + 1 AS DOUBLE) / CAST(ne + 20 AS DOUBLE)) /
                     (CAST(cl + 1 AS DOUBLE) / CAST(nl + 20 AS DOUBLE))), 10),
            10) AS term
          FROM cells CROSS JOIN tot)
        SELECT COUNT(*) AS n_buckets,
          CAST(round(SUM(CAST(term AS DECIMAL(30,10))), 8) AS DOUBLE) AS psi
        FROM terms"""),
      bench = true),

    // Inter-arrival burstiness per user: the coefficient of variation of
    // event gaps (CV = 1 for Poisson arrivals, > 1 bursty, < 1 regular —
    // Goh & Barabási's burstiness setting). Gaps come from a per-USER
    // ordered lag (calendar-bounded partitions); the CV computes from the
    // three INTEGER moments (n, Σg, Σg²) in DECIMAL(38,0) — population
    // variance n·Σg² − (Σg)² — with one sqrt+division at the end, so the
    // stat is bit-portable. Users with < 2 gaps or all-zero gaps drop.
    QueryDef("q158_burstiness",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
        val gaps = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), epochTrunc("second", col("ts")).as("sec"))
          .withColumn("g", col("sec") - lag(col("sec"), 1).over(w))
          .filter(col("g").isNotNull)
        gaps.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
            sum(col("g") * col("g")).as("sgg"))
          .filter(col("n") >= 2 && col("sg") > 0)
          .select(col("user_id"), col("n"),
            round(sqrt((col("n").cast(dec) * col("sgg").cast(dec) -
              col("sg").cast(dec) * col("sg").cast(dec)).cast(DoubleType)) /
              col("sg").cast(DoubleType), 8).as("cv"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT user_id,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) -
              lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id) AS gap
          FROM events),
        m AS (
          SELECT user_id, COUNT(*) AS n, CAST(SUM(gap) AS BIGINT) AS sg,
            CAST(SUM(gap*gap) AS BIGINT) AS sgg
          FROM g WHERE gap IS NOT NULL GROUP BY 1)
        SELECT user_id, n,
          round(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sgg
            - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)) / CAST(sg AS DOUBLE), 8) AS cv
        FROM m WHERE n >= 2 AND sg > 0"""),
      bench = true),

    // Hourly Shannon entropy of the event-type mix — the diversity-drift
    // monitor (an hour whose traffic collapses to one type is an incident
    // signature even at normal volume, which plain counts like q12 cannot
    // see). H = −Σ p·ln p over the hour's type distribution: integer
    // ratios → 10-dp ln → 10-dp products → exact DECIMAL fold, rounded as
    // decimal before the double cast. Two hour-keyed grouped passes.
    QueryDef("q161_type_entropy",
      (s, dir) => {
        val byType = Tables(s, dir, "events")
          .groupBy(epochTrunc("hour", col("ts")).as("hour_epoch"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val byHour = byType.groupBy(col("hour_epoch"))
          .agg(sum(col("c")).as("n_events"), count(lit(1)).as("n_types"))
        byType.join(byHour, "hour_epoch")
          .select(col("hour_epoch"), col("n_events"), col("n_types"),
            round((col("c").cast(DoubleType) / col("n_events").cast(DoubleType)) *
              round(log(col("c").cast(DoubleType) / col("n_events").cast(DoubleType)), 10),
              10).as("term"))
          .groupBy(col("hour_epoch"))
          .agg(max(col("n_events")).as("n_events"), max(col("n_types")).as("n_types"),
            (-round(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(30, 10))), 8)
              .cast(DoubleType)).as("entropy"))
      },
      oracle = Some("""
        WITH bt AS (
          SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
            event_type, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        bh AS (
          SELECT hour_epoch, CAST(SUM(c) AS BIGINT) AS n_events, COUNT(*) AS n_types
          FROM bt GROUP BY 1),
        terms AS (
          SELECT bt.hour_epoch, bh.n_events, bh.n_types,
            round((CAST(bt.c AS DOUBLE) / CAST(bh.n_events AS DOUBLE)) *
              round(ln(CAST(bt.c AS DOUBLE) / CAST(bh.n_events AS DOUBLE)), 10), 10) AS term
          FROM bt JOIN bh ON bh.hour_epoch = bt.hour_epoch)
        SELECT hour_epoch, MAX(n_events) AS n_events, MAX(n_types) AS n_types,
          -CAST(round(SUM(CAST(term AS DECIMAL(30,10))), 8) AS DOUBLE) AS entropy
        FROM terms GROUP BY 1"""),
      bench = true),

    // Signup→purchase conversion latency by signup-day cohort — the
    // time-to-event funnel metric (how long a cohort takes to convert,
    // not just whether — q107 retention's missing axis): per user the
    // FIRST signup and the first purchase AT OR AFTER it, latencies
    // aggregated per cohort day with integer seconds end to end (sum,
    // min, max exact; the mean is one integer ratio). Two user-keyed
    // grouped mins + one user-keyed join — no windows.
    QueryDef("q167_conversion_latency",
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val su = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(epochTrunc("second", col("ts"))).as("s_sec"))
        val pu = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), epochTrunc("second", col("ts")).as("p_sec"))
        // the at-or-after condition lives IN the left join: a user whose
        // purchases all precede signup must survive as unconverted (NULL),
        // not vanish through a post-join filter
        val lat = su.join(pu.withColumnRenamed("user_id", "p_uid"),
            col("user_id") === col("p_uid") && col("p_sec") >= col("s_sec"), "left")
          .groupBy(col("user_id"), col("s_sec"))
          .agg(min(col("p_sec")).as("first_p"))
          .select(col("user_id"),
            (floor(col("s_sec") / lit(86400L)) * lit(86400L)).cast(LongType).as("cohort_day"),
            (col("first_p") - col("s_sec")).as("latency"))
        lat.groupBy(col("cohort_day"))
          .agg(count(lit(1)).as("n_signups"),
            count(col("latency")).as("n_converted"),
            round(sum(col("latency")).cast(DoubleType) /
              count(col("latency")).cast(DoubleType), 6).as("mean_latency_sec"),
            min(col("latency")).as("min_latency_sec"),
            max(col("latency")).as("max_latency_sec"))
      },
      oracle = Some("""
        WITH su AS (
          SELECT user_id, MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS s_sec
          FROM events WHERE event_type = 'signup' GROUP BY 1),
        pu AS (
          SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS p_sec
          FROM events WHERE event_type = 'purchase'),
        lat AS (
          SELECT su.user_id, (s_sec // 86400) * 86400 AS cohort_day,
            MIN(pu.p_sec) - s_sec AS latency
          FROM su LEFT JOIN pu ON pu.user_id = su.user_id AND pu.p_sec >= su.s_sec
          GROUP BY su.user_id, su.s_sec)
        SELECT cohort_day, COUNT(*) AS n_signups,
          CAST(COUNT(latency) AS BIGINT) AS n_converted,
          round(CAST(SUM(latency) AS DOUBLE) / CAST(COUNT(latency) AS DOUBLE), 6) AS mean_latency_sec,
          MIN(latency) AS min_latency_sec, MAX(latency) AS max_latency_sec
        FROM lat GROUP BY 1"""),
      bench = true),

    // First-order Markov transition matrix over each user's event-type
    // sequence — the behavioral model behind next-action prediction and
    // anomalous-flow detection: consecutive (prev → next) pairs from
    // per-USER ordered lags (calendar-bounded partitions, ties broken by
    // event_id), counts row-normalized into transition probabilities.
    // Integer counts → one ratio per cell; the matrix is |types|²-bounded.
    QueryDef("q172_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
        val pairs = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            epochTrunc("second", col("ts")).as("sec"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
        val cells = pairs.groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("n"))
        val rows = cells.groupBy(col("prev")).agg(sum(col("n")).as("row_n"))
        cells.join(rows, "prev")
          .select(col("prev"), col("next"), col("n"),
            round(col("n").cast(DoubleType) / col("row_n").cast(DoubleType), 8).as("p"))
      },
      oracle = Some("""
        WITH seqd AS (
          SELECT user_id, event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
            event_type,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id) AS prev
          FROM events),
        cells AS (
          SELECT prev, event_type AS next, COUNT(*) AS n
          FROM seqd WHERE prev IS NOT NULL GROUP BY 1, 2),
        rn AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY 1)
        SELECT c.prev, c.next, c.n,
          round(CAST(c.n AS DOUBLE) / CAST(rn.row_n AS DOUBLE), 8) AS p
        FROM cells c JOIN rn ON rn.prev = c.prev"""),
      bench = true),

    // Item-item collaborative filtering over the user×item interaction
    // matrix (props.k is the item; Sarwar et al., "Item-based
    // collaborative filtering recommendation algorithms", WWW 2001):
    // binary-set cosine sim(i, j) = |U_i ∩ U_j| / √(|U_i|·|U_j|), top-5
    // neighbors per item — the classic recommender primitive. Candidate
    // pairs come from the user-keyed inverted index (only items sharing a
    // user ever pair — per-user item sets bound the fan-out, the q33
    // blocking idea on interaction data); counts stay integer until one
    // sqrt ratio; the neighbor window partitions per item (≤ |items| rows).
    QueryDef("q173_item_cf",
      (s, dir) => {
        val ui = Tables(s, dir, "events")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast(LongType).as("item"))
          .filter(col("item").isNotNull)
          .distinct()
        val ni = ui.groupBy(col("item")).agg(count(lit(1)).as("n"))
        val co = ui.as("a").join(ui.as("b"),
            col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
          .agg(count(lit(1)).as("co"))
        val sym = co.select(col("ia").as("item"), col("ib").as("nbr"), col("co"))
          .union(co.select(col("ib").as("item"), col("ia").as("nbr"), col("co")))
        sym
          .join(ni.select(col("item"), col("n").as("n_item")), "item")
          .join(ni.select(col("item").as("nbr"), col("n").as("n_nbr")), "nbr")
          .select(col("item"), col("nbr"), col("co"),
            round(col("co").cast(DoubleType) /
              sqrt((col("n_item") * col("n_nbr")).cast(DoubleType)), 8).as("sim"))
          .withColumn("rk", row_number().over(Window.partitionBy(col("item"))
            .orderBy(col("sim").desc, col("nbr").asc)).cast(LongType))
          .filter(col("rk") <= 5)
          .select(col("item"), col("nbr"), col("co"), col("sim"), col("rk"))
      },
      oracle = Some("""
        WITH ui AS (
          SELECT DISTINCT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
          FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        ni AS (SELECT item, COUNT(*) AS n FROM ui GROUP BY 1),
        co AS (
          SELECT a.item AS ia, b.item AS ib, COUNT(*) AS co
          FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
          GROUP BY 1, 2),
        sym AS (
          SELECT ia AS item, ib AS nbr, co FROM co
          UNION ALL SELECT ib AS item, ia AS nbr, co FROM co),
        scored AS (
          SELECT s.item, s.nbr, s.co,
            round(CAST(s.co AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)), 8) AS sim
          FROM sym s JOIN ni na ON na.item = s.item JOIN ni nb ON nb.item = s.nbr)
        SELECT item, nbr, co, sim,
          CAST(row_number() OVER (PARTITION BY item ORDER BY sim DESC, nbr ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY item ORDER BY sim DESC, nbr ASC) <= 5"""),
      bench = true),

    // RFM segmentation (Hughes' recency/frequency/monetary scoring, the
    // standard customer-value grid): per user the days since last
    // activity (vs the corpus horizon), purchase count, and EXACT DECIMAL
    // purchase total, each banded on FIXED thresholds (no global
    // quantile/sort pass — the bands are the analyst's declared contract,
    // like every cap in this repo), then one rollup per (r, f, m) cell.
    // Monetary comparisons band on the exact DECIMAL total, so no double
    // boundary can flip a segment cross-engine; the cell mean is one
    // ratio of exact quantities.
    QueryDef("q174_rfm_segments",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(30, 8)
        val e = Tables(s, dir, "events")
        val horizon = e.agg(max(col("ts").cast(DateType)).as("hmax"))
        val perUser = e.groupBy(col("user_id"))
          .agg(max(col("ts").cast(DateType)).as("last_d"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"),
            sum(when(col("event_type") === "purchase", col("value").cast(dec))
              .otherwise(lit(0).cast(dec))).as("monetary"))
          .crossJoin(broadcast(horizon))
          .select(col("user_id"), col("n_purch"), col("monetary"),
            datediff(col("hmax"), col("last_d")).cast(LongType).as("recency_days"))
        perUser
          .select(
            when(col("recency_days") <= 7, 3L).when(col("recency_days") <= 14, 2L)
              .otherwise(1L).as("r"),
            when(col("n_purch") >= 20, 3L).when(col("n_purch") >= 5, 2L)
              .otherwise(1L).as("f"),
            when(col("monetary") >= lit(500).cast(dec), 3L)
              .when(col("monetary") >= lit(100).cast(dec), 2L).otherwise(1L).as("m"),
            col("monetary"))
          .groupBy(col("r"), col("f"), col("m"))
          .agg(count(lit(1)).as("n_users"),
            round(sum(col("monetary")), 4).cast(org.apache.spark.sql.types.DoubleType)
              .as("total_monetary"))
      },
      oracle = Some("""
        WITH h AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
        pu AS (
          SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch,
            SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(30,8))
                     ELSE CAST(0 AS DECIMAL(30,8)) END) AS monetary
          FROM events GROUP BY 1),
        scored AS (
          SELECT
            CASE WHEN date_diff('day', last_d, (SELECT hmax FROM h)) <= 7 THEN 3
                 WHEN date_diff('day', last_d, (SELECT hmax FROM h)) <= 14 THEN 2
                 ELSE 1 END AS r,
            CASE WHEN n_purch >= 20 THEN 3 WHEN n_purch >= 5 THEN 2 ELSE 1 END AS f,
            CASE WHEN monetary >= 500 THEN 3 WHEN monetary >= 100 THEN 2 ELSE 1 END AS m,
            monetary
          FROM pu)
        SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
          COUNT(*) AS n_users,
          CAST(round(SUM(monetary), 4) AS DOUBLE) AS total_monetary
        FROM scored GROUP BY 1, 2, 3"""),
      bench = true)
  )

  /** q140's 24 truncated-EWMA weights α(1−α)^j, α = 0.3, 12-dp — computed
    * ONCE here and embedded as literals in both the Spark plan and the
    * DuckDB oracle, so no transcendental runs in either engine. */
  private lazy val ewmaWeights: Seq[Double] =
    (0 until 24).map(j => graft.functions.SparkRound(0.3 * math.pow(0.7, j), 12))

  /** Σ of the rounded weights, the shared normalizer literal. */
  private lazy val ewmaNorm: Double =
    graft.functions.SparkRound(ewmaWeights.map(BigDecimal(_)).sum.toDouble, 12)
}
