package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable.pround
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-shaped operators over the `events` table, checked in batch mode
  * (the reference is batch-only — SURVEY.md §2.3): JSON extraction, tumbling
  * time windows, gap-based sessionization and value histograms. The same
  * logical window/sessionize ops run under Structured Streaming in
  * `graft.streaming` (test-only; DuckDB can't oracle a stream).
  *
  * DuckDB oracle note: events.ts is parquet TIMESTAMP(NANOS); DuckDB reads
  * it as TIMESTAMP_NS, so every oracle casts through CAST(ts AS TIMESTAMP)
  * — the same µs truncation `Tables.events` applies on the Spark side.
  */
object EventQueries {

  /** JSON field extraction from the `props` column. */
  private val jsonFuncs = Q(
    "q_json_funcs",
    (spark, dir) =>
      Tables(spark, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy(col("event_id")),
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events ORDER BY event_id"""))

  /** Tumbling 1-hour window aggregate — the batch twin of the Structured
    * Streaming windowed count. One shuffle on (window, type); partial
    * aggregation makes it linear-scan shaped at any scale.
    */
  private val timeWindow = Q(
    "q_time_window",
    (spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), pround(sum(col("value")), 4).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("cnt"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
              CAST(COUNT(*) AS BIGINT) AS cnt, FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""))

  /** Gap-based sessionization (30-minute inactivity gap): lag + running sum
    * assigns session ids within a single shuffle on user_id. This is the
    * batch twin of `session_window(ts, "30 minutes")` in streaming mode.
    */
  private val sessionize = Q(
    "q_sessionize",
    (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            (unix_micros(col("ts")) - col("prev_us")) > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(run).cast("bigint"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), pround(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
            l AS (SELECT user_id, event_id, value, ts,
                    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                  FROM e),
            f AS (SELECT user_id, event_id, value, ts,
                    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM l),
            g AS (SELECT user_id, value,
                    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                  FROM f)
            SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS sum_value
            FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id"""))

  /** Bucketed value histogram. */
  private val histogram = Q(
    "q_histogram",
    (spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(floor(col("value") / 10).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("bucket")),
    Some("""SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1 ORDER BY bucket"""))

  /** Interval self-join: per purchase, the same user's click count in the
    * following hour. Equi-key on user_id carries the join (hash shuffle,
    * scale-safe); the time band is a residual predicate — the batch twin
    * of a stream-stream interval join (`graft.streaming` has the
    * watermarked variant).
    */
  private val eventWindowJoin = Q(
    "q_event_window_join",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      purchases.join(clicks,
          purchases("user_id") === clicks("user_id") &&
            col("cts") > col("ts") &&
            col("cts") <= col("ts") + expr("INTERVAL 1 HOUR"),
          "left")
        .groupBy(col("event_id"))
        .agg(count(col("cts")).as("clicks_1h"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id, CAST(COUNT(c.cts) AS BIGINT) AS clicks_1h
            FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                  FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
                       FROM events WHERE event_type = 'click') c
              ON c.user_id = p.user_id
             AND c.cts > p.ts AND c.cts <= p.ts + INTERVAL 1 HOUR
            GROUP BY p.event_id ORDER BY p.event_id"""))

  /** Quantile bucketing: exact ntile(10) decile assignment over event
    * values, then per-decile aggregates — score calibration / threshold
    * picking with EXACT edges.
    *
    * Scale shape: an unpartitioned `ntile().over(orderBy(...))` window
    * would funnel the whole table into one task, so the total order comes
    * from `Ranks.withGlobalRowNumber` instead (range repartition +
    * per-partition offsets — every stage distributed), and the decile is
    * computed from the global row number with the exact ANSI ntile
    * bucket-size rule (first n%10 buckets get one extra row), which is
    * what DuckDB's ntile implements — the oracle replays the window form
    * verbatim and still hash-matches. q_decile_approx below trades exact
    * edges for a pure map-side assignment.
    */
  private val decileStats = Q(
    "q_decile_stats",
    (spark, dir) => {
      val ev = Tables.events(spark, dir).select(col("event_id"), col("value"))
      val (numbered, n) = graft.functions.Ranks.withGlobalRowNumber(
        ev, Seq(col("value"), col("event_id")), "rn")
      val base = n / 10; val rem = n % 10
      // ANSI ntile: buckets 1..rem have base+1 rows, the rest base rows.
      // When n < 10 (base = 0) every row satisfies the first branch and
      // gets its own bucket — exactly ntile's degenerate behavior.
      // Integral DIV, not `/`: long `/` is double division, which loses
      // exactness past 2^53 — a knife edge at large n.
      val cut = rem * (base + 1)
      val decile = expr(
        s"""CAST(CASE WHEN rn <= $cut THEN ((rn - 1) DIV ${base + 1}) + 1
           |     ELSE $rem + ((rn - $cut - 1) DIV $base) + 1 END AS INT)""".stripMargin)
      numbered
        .withColumn("decile", decile)
        .groupBy(col("decile"))
        // mean via the micro-unit integer funnel, NOT avg(double): the
        // range partitioner samples fresh bounds every run, so raw double
        // accumulation order varies run-to-run and pround(avg) sits one
        // ulp from a knife edge (observed: decile-2 mean flipping
        // 14.5873/14.5874 at sf0.01). min/max are order-independent.
        .agg(count(lit(1)).as("n"),
          pround(min(col("value")), 4).as("lo"),
          pround(max(col("value")), 4).as("hi"),
          pround(
            sum(floor(col("value") * 1e6).cast("decimal(38,0)")).cast("double")
              / 1e6 / count(lit(1)).cast("double"), 4).as("mean"))
        .orderBy(col("decile"))
    },
    Some("""WITH d AS (SELECT event_id, value,
                    CAST(ntile(10) OVER (ORDER BY value, event_id) AS INT) AS decile
                  FROM events)
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
              FLOOR((MIN(value)) * 10000 + 0.5) / 10000 AS lo,
              FLOOR((MAX(value)) * 10000 + 0.5) / 10000 AS hi,
              FLOOR((CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS DOUBLE)
                     / 1000000 / CAST(COUNT(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean
            FROM d GROUP BY decile ORDER BY decile"""))

  /** Sliding time-range window: per event, the same user's trailing
    * 1-hour value sum — RANGE frame over epoch-microsecond ordering, the
    * batch twin of a sliding streaming window (q_time_window is the
    * tumbling twin). Partitioned by user_id, so parallelism scales with
    * users; RANGE semantics make equal-timestamp peers a single frame,
    * so the result is deterministic under any tie order.
    */
  private val windowRangeTime = Q(
    "q_window_range_time",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0)
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          pround(sum(col("value")).over(w), 4).as("sum_1h"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
              FLOOR((SUM(value) OVER (PARTITION BY user_id
                ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)) * 10000 + 0.5)
                / 10000 AS sum_1h
            FROM events ORDER BY event_id"""))

  /** Scale-safe decile bucketing — the 100 TB twin of q_decile_stats.
    * No global sort anywhere: a fixed-grid histogram (0.1-wide bins, one
    * partial+final count aggregate) stands in for the total order; the
    * cumulative window runs over the tiny histogram (hundreds of rows,
    * not the table); each bin's decile is ceil(cum*10/N); and rows get
    * their decile by a broadcast join on bin — map-side at any scale.
    * All rows in a bin share a decile, so edges are approximate within
    * one bin width (the documented trade vs the exact ntile twin), but
    * the computation is deterministic in both engines, so the hash gate
    * checks it exactly.
    */
  private val decileApprox = Q(
    "q_decile_approx",
    (spark, dir) => {
      val binned = Tables.events(spark, dir)
        .select(col("value"), floor(col("value") * 10).cast("bigint").as("bin"))
      val hist = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
      // null-ordering pinned explicitly (determinism rule 7): Spark
      // defaults nulls-first ascending, DuckDB nulls-last — a single
      // NULL value would silently shift every cumulative count.
      val deciles = hist
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("bin").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("bin"),
          ceil(col("cum") * 10.0 / col("n")).cast("int").as("decile"))
      binned.join(broadcast(deciles), "bin")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          pround(min(col("value")), 4).as("lo"),
          pround(max(col("value")), 4).as("hi"),
          pround(avg(col("value")), 4).as("mean"))
        .orderBy(col("decile"))
    },
    Some("""WITH b AS (SELECT value, CAST(FLOOR(value * 10) AS BIGINT) AS bin FROM events),
            h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bin),
            cum AS (SELECT bin,
                  CAST(SUM(c) OVER (ORDER BY bin NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                  CAST(SUM(c) OVER () AS BIGINT) AS n
                FROM h),
            d AS (SELECT bin, CAST(CEIL(cum * 10.0 / n) AS INT) AS decile FROM cum)
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
              FLOOR((MIN(value)) * 10000 + 0.5) / 10000 AS lo,
              FLOOR((MAX(value)) * 10000 + 0.5) / 10000 AS hi,
              FLOOR((AVG(value)) * 10000 + 0.5) / 10000 AS mean
            FROM b JOIN d USING (bin) GROUP BY decile ORDER BY decile"""))

  /** Ordered funnel: per user, view → click within a day of the first
    * view → purchase within a day of that click; users counted at their
    * deepest stage. Three conditional min-aggregates chained by strict
    * time order — each stage is a groupBy(user) shuffle, no window over
    * the event stream.
    */
  private val funnel = Q(
    "q_funnel",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 1 DAY"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 1 DAY"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      val stage = ev.select(col("user_id")).distinct()
        .join(v, Seq("user_id"), "left")
        .join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("t_purchase")), Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0).as("stage"))
      stage.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
            v AS (SELECT user_id, MIN(ts) AS t_view FROM e
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM e JOIN v USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts > v.t_view
                    AND e.ts <= v.t_view + INTERVAL 1 DAY GROUP BY e.user_id),
            p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM e JOIN c USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
                    AND e.ts <= c.t_click + INTERVAL 1 DAY GROUP BY e.user_id),
            stage AS (SELECT u.user_id,
                        CASE WHEN p.t_purchase IS NOT NULL THEN 3
                             WHEN c.t_click IS NOT NULL THEN 2
                             WHEN v.t_view IS NOT NULL THEN 1
                             ELSE 0 END AS stage
                      FROM (SELECT DISTINCT user_id FROM e) u
                      LEFT JOIN v USING (user_id)
                      LEFT JOIN c USING (user_id)
                      LEFT JOIN p USING (user_id))
            SELECT CAST(stage AS INT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM stage GROUP BY stage ORDER BY stage"""))

  /** Cohort retention: users grouped by first-activity day, retained if
    * active again 7+ days later. Two aggregates over the same shuffle
    * key (user) then a per-cohort rollup — the standard retention shape.
    */
  private val retention = Q(
    "q_retention",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val byUser = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_day"),
          max(to_date(col("ts"))).as("last_day"))
      byUser
        .select(col("user_id"), col("cohort_day"),
          (datediff(col("last_day"), col("cohort_day")) >= 7).cast("long").as("retained"))
        .groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_size"),
          sum(col("retained")).as("retained_7d"))
        .orderBy(col("cohort_day"))
    },
    Some("""WITH u AS (SELECT user_id,
                    MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day,
                    MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS last_day
                  FROM events GROUP BY user_id)
            SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size,
              CAST(SUM(CASE WHEN last_day - cohort_day >= 7 THEN 1 ELSE 0 END) AS BIGINT)
                AS retained_7d
            FROM u GROUP BY cohort_day ORDER BY cohort_day"""))

  /** First-order Markov transition matrix over per-user event sequences:
    * consecutive (prev → next) event-type pairs with row-normalized
    * probabilities — the behavioral-model estimation step of an event
    * pipeline. The lag window partitions by user_id (high cardinality →
    * unbounded parallelism; a user's history is the natural per-task
    * unit, same posture as sessionization); the transition matrix itself
    * is |types|² rows, so the normalizing window is over a tiny relation.
    * (ts, event_id) is a total order, so ties don't reorder across
    * engines.
    */
  private val markovTransitions = Q(
    "q_markov_transitions",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val m = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
      m.withColumn("prob",
          pround(col("cnt").cast("double") /
            sum(col("cnt")).over(Window.partitionBy(col("prev_type"))).cast("double"), 4))
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some("""WITH seq AS (SELECT user_id, event_type,
              lag(event_type, 1) OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
              FROM events),
            m AS (SELECT prev_type, event_type AS next_type,
                    CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM seq WHERE prev_type IS NOT NULL
                  GROUP BY prev_type, next_type)
            SELECT prev_type, next_type, cnt,
              FLOOR((CAST(cnt AS DOUBLE)
                / CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS DOUBLE))
                * 10000 + 0.5) / 10000 AS prob
            FROM m ORDER BY prev_type, next_type"""))

  /** Sequence-pattern detection (the MATCH_RECOGNIZE shape): per user,
    * whether the time-ordered event-type sequence contains a signup later
    * followed by a purchase with no intervening error — the regex
    * `s[^e]*p` over the initial-letter sequence. That pattern holds iff
    * some 'p' event's most recent preceding {s,e}-event is an 's'
    * (choose the last 's' before the matching 'p': nothing in between
    * may be an 'e'; conversely a non-'e' gap means the latest marker is
    * an 's'), so it reduces to a running struct-max over marker events —
    * one lag-style window partitioned by user, O(1) running state, never
    * a whole-history buffer (a bot user with 10⁸ events streams through
    * like anyone else; the round-4 collect_list→string→regex shape
    * materialized that history in one aggregation buffer). Output
    * aggregates to (matched → user count), tiny at any scale.
    */
  private val eventPattern = Q(
    "q_event_pattern",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val hits = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("init"))
        // latest strictly-preceding marker event ('s' or 'e'), carried as
        // a struct so max() orders by (ts, event_id) — a total order
        .withColumn("marker",
          max(when(col("init").isin("s", "e"),
            struct(col("ts"), col("event_id"), col("init")))).over(w))
        .withColumn("hit",
          when(col("init") === "p" && col("marker").getField("init") === "s", 1)
            .otherwise(0))
      hits.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("hit")).as("matched"))
        .groupBy(col("matched"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).cast("bigint").as("n_events_total"))
        .orderBy(col("matched"))
    },
    Some("""WITH seq AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              string_agg(substr(event_type, 1, 1), ''
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
              FROM events GROUP BY user_id),
            f AS (SELECT user_id, n_events,
                    CAST(regexp_matches(seq, 's[^e]*p') AS INT) AS matched
                  FROM seq)
            SELECT matched, CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(n_events) AS BIGINT) AS n_events_total
            FROM f GROUP BY matched ORDER BY matched"""))

  /** 2-D histogram (heatmap): hour-of-day × value bucket — the joint
    * distribution view dashboards build on. One partial+final aggregate;
    * output bounded by 24 × value-range/50 cells at any scale. UTC hour
    * on both engines (session timezone pinned; oracle casts through the
    * shared ns→µs truncation).
    */
  private val histogram2d = Q(
    "q_histogram_2d",
    (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(hour(col("ts")).as("hod"),
          floor(col("value") / 50.0).cast("int").as("vbucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("hod"), col("vbucket")),
    Some("""SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
              CAST(FLOOR(value / 50.0) AS INT) AS vbucket,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY hod, vbucket ORDER BY hod, vbucket"""))

  /** Weekly cohort-retention matrix — the grid generalization of
    * q_retention's single pair: users bucketed by first-active week
    * (cohort), counted in every later week they return, reported as
    * (cohort week, week offset, users, share of cohort). Two hash
    * aggregates ((user, week) distinct → per-user min → grid count) —
    * all partial+final, keyed on user then on the bounded grid. The week
    * epoch is the fixture's stream start (2024-01-01); a deployment
    * would substitute its own anchor — the arithmetic `days div 7` is
    * anchor-independent. Output bounded by (#weeks)².
    */
  private val cohortMatrix = Q(
    "q_cohort_matrix",
    (spark, dir) => {
      val uw = Tables.events(spark, dir)
        .select(col("user_id"),
          (datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
            .cast("int").as("week"))
        .distinct()
      val c0 = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      val sizes = c0.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_n"))
      uw.join(c0, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).cast("bigint").as("n_users"))
        .join(broadcast(sizes), "cohort_week")
        .select(col("cohort_week"), col("week_offset").cast("int").as("week_offset"),
          col("n_users"),
          pround(col("n_users").cast("double") / col("cohort_n").cast("double"), 4)
            .as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id,
                  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS TIMESTAMP)) // 7 AS INT) AS week
                FROM events),
            c0 AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
            sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_n
                      FROM c0 GROUP BY cohort_week),
            grid AS (SELECT c0.cohort_week, uw.week - c0.cohort_week AS week_offset,
                       CAST(COUNT(*) AS BIGINT) AS n_users
                     FROM uw JOIN c0 USING (user_id)
                     GROUP BY c0.cohort_week, week_offset)
            SELECT g.cohort_week, CAST(g.week_offset AS INT) AS week_offset, g.n_users,
              FLOOR((CAST(g.n_users AS DOUBLE) / CAST(s.cohort_n AS DOUBLE))
                * 10000 + 0.5) / 10000 AS retention
            FROM grid g JOIN sizes s USING (cohort_week)
            ORDER BY cohort_week, week_offset"""))

  /** Last-touch marketing attribution: every purchase's value is
    * credited to the user's most recent preceding non-purchase event
    * type ('direct' when the purchase is the user's first event). The
    * preceding touch comes from the same O(1) running-window idiom as
    * q_event_pattern (last IGNORE NULLS over ROWS UNBOUNDED
    * PRECEDING..1 PRECEDING, ordered by the (ts, event_id) total order)
    * — per-user state is one value, never a history buffer, and the
    * window partitions by user_id (unbounded parallelism). Revenue
    * funnels through exact integer cents; the share computes over the
    * channel-bounded aggregate.
    */
  private val attribution = Q(
    "q_attribution",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val attributed = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("touch",
          last(when(col("event_type") =!= "purchase", col("event_type")), true).over(w))
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("touch"), lit("direct")).as("channel"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val byChannel = attributed.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).cast("bigint").as("revenue_cents"))
      byChannel
        .withColumn("share",
          pround(col("revenue_cents").cast("double") /
            sum(col("revenue_cents")).over(Window.partitionBy()).cast("double"), 4))
        .orderBy(col("channel"))
    },
    Some("""WITH t AS (SELECT user_id, event_type, value,
                  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
                FROM events),
            a AS (SELECT COALESCE(touch, 'direct') AS channel,
                    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
                  FROM t WHERE event_type = 'purchase'),
            g AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
                    CAST(SUM(cents) AS BIGINT) AS revenue_cents
                  FROM a GROUP BY channel)
            SELECT channel, n_purchases, revenue_cents,
              FLOOR((CAST(revenue_cents AS DOUBLE)
                  / CAST(SUM(revenue_cents) OVER () AS DOUBLE))
                * 10000 + 0.5) / 10000 AS share
            FROM g ORDER BY channel"""))

  /** Time-to-convert: per user, the latency from FIRST view to the first
    * purchase at-or-after it, bucketed into whole days — the
    * conversion-latency histogram a growth report leads with. Both
    * "firsts" are min-aggregates (partial+final on user_id); the
    * view→purchase correlation is a user_id equi-join whose `p ≥ v`
    * residual Spark evaluates post-join, never a time-range cross join.
    * All arithmetic is integer microseconds (`div` floor = DuckDB `//` on
    * the non-negative latency), so buckets match bit-for-bit.
    */
  private val timeToConvert = Q(
    "q_time_to_convert",
    (spark, dir) => {
      val ev = graft.Tables.events(spark, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("p"))
      v.join(p, col("user_id") === col("pu") && col("p") >= col("v"))
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(p) - unix_micros(v)")).as("lat_us"))
        .select(expr("lat_us div 86400000000").as("latency_days"))
        .groupBy(col("latency_days")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("latency_days"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                       FROM events),
            v AS (SELECT user_id, MIN(ts) AS v FROM e
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT v.user_id,
                    MIN(epoch_us(p.ts) - epoch_us(v.v)) AS lat_us
                  FROM v JOIN e p ON p.user_id = v.user_id
                    AND p.event_type = 'purchase' AND p.ts >= v.v
                  GROUP BY v.user_id)
            SELECT lat_us // 86400000000 AS latency_days,
              CAST(COUNT(*) AS BIGINT) AS n_users
            FROM c GROUP BY latency_days ORDER BY latency_days"""))

  /** Top navigation paths: the first three events of every session
    * (q_sessionize's exact 30-minute gap rule), joined into a '>' path
    * string, ranked by session count — the "what do users do first"
    * product report. The path is assembled by sorting a collected
    * (rank, type) struct array INSIDE each group — rank is unique within
    * the session, so array_sort gives one deterministic order with no
    * cross-partition collection; sessions are user-bounded so no group
    * outgrows a task. TakeOrdered(20) caps the output.
    */
  private val sessionPaths = Q(
    "q_session_paths",
    (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bySession = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(spark, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            (unix_micros(col("ts")) - col("prev_us")) > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(run).cast("bigint"))
        .withColumn("rn", row_number().over(bySession))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("session_id"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type), '>')")
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
            l AS (SELECT user_id, event_id, event_type, ts,
                    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                  FROM e),
            f AS (SELECT user_id, event_id, event_type, ts,
                    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM l),
            g AS (SELECT user_id, event_id, event_type, ts,
                    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                  FROM f),
            r AS (SELECT user_id, session_id, event_type,
                    ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn
                  FROM g),
            p AS (SELECT user_id, session_id,
                    string_agg(event_type, '>' ORDER BY rn) AS path
                  FROM r WHERE rn <= 3 GROUP BY user_id, session_id)
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20"""))

  /** Cold-start conversion share: purchasers whose FIRST purchase has no
    * view at-or-before it — the "bought without browsing" segment that
    * calibrates attribution models. One min-aggregate for first
    * purchases, one left-anti join against views with the time residual
    * riding the user_id equi-join, three bounded counts.
    */
  private val coldStart = Q(
    "q_cold_start",
    (spark, dir) => {
      val ev = graft.Tables.events(spark, dir)
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("ts").as("vts"))
      val cold = fp.join(views,
        col("user_id") === col("vu") && col("vts") <= col("fp"), "left_anti")
      val nP = broadcast(fp.agg(count(lit(1)).as("n_purchasers")))
      cold.agg(count(lit(1)).as("n_cold")).crossJoin(nP)
        .select(col("n_purchasers"), col("n_cold"),
          // 0-purchaser guard: 0/0 is NaN on Spark but engine-dependent in
          // DuckDB (ieee_floating_point_ops) — the q_minhash_recall rule
          when(col("n_purchasers") === 0, lit(null).cast("double"))
            .otherwise(
              pround(col("n_cold").cast("double") / col("n_purchasers").cast("double"), 4))
            .as("cold_share"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
            fp AS (SELECT user_id, MIN(ts) AS fp FROM e
                   WHERE event_type = 'purchase' GROUP BY user_id),
            cold AS (SELECT fp.user_id FROM fp
                     WHERE NOT EXISTS (SELECT 1 FROM e v WHERE v.user_id = fp.user_id
                                       AND v.event_type = 'view' AND v.ts <= fp.fp))
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_purchasers,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM cold) AS n_cold,
              CASE WHEN (SELECT COUNT(*) FROM fp) = 0 THEN NULL
                   ELSE FLOOR((CAST((SELECT COUNT(*) FROM cold) AS DOUBLE)
                     / CAST((SELECT COUNT(*) FROM fp) AS DOUBLE)) * 10000 + 0.5) / 10000
              END AS cold_share"""))

  /** Week-over-week volume growth: weekly event counts plus the growth
    * rate vs the prior week — the BI pulse metric. The week relation is
    * bounded by the calendar, so the single ordered lag window runs over
    * an already-aggregated handful of rows (never the raw events), and
    * the growth ratio divides two exact counts.
    */
  private val growthWow = Q(
    "q_growth_wow",
    (spark, dir) => {
      val w = graft.Tables.events(spark, dir)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"))
      w.withColumn("prev", lag(col("n"), 1).over(Window.orderBy(col("week"))))
        .select(col("week"), col("n"), col("prev"),
          when(col("prev").isNull, lit(null).cast("double"))
            .otherwise(pround(col("n").cast("double") / col("prev").cast("double") - 1.0, 4))
            .as("wow_growth"))
        .orderBy(col("week"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
            w AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                    CAST(COUNT(*) AS BIGINT) AS n
                  FROM e GROUP BY week),
            g AS (SELECT week, n, lag(n) OVER (ORDER BY week) AS prev FROM w)
            SELECT week, n, prev,
              CASE WHEN prev IS NULL THEN NULL
                   ELSE FLOOR((CAST(n AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0) * 10000 + 0.5) / 10000
              END AS wow_growth
            FROM g ORDER BY week"""))

  /** SCD2 history reconstruction from the append-only event log — the
    * lakehouse upsert/merge primitive (slowly-changing-dimension type 2,
    * Kimball DW Toolkit ch.5): treat each user's `event_type` as a
    * versioned attribute; a VERSION opens where the value differs from the
    * previous row (per user, ordered by ts then event_id — the
    * gaps-and-islands change detection) and stays valid until the next
    * version opens (NULL valid_to = the current version, exactly what a
    * MERGE INTO ... WHEN MATCHED UPDATE would materialize). Reported per
    * attribute value: versions opened, currently-open versions, total
    * closed-version lifetime in exact µs (unix_micros / epoch_us on both
    * engines — no float time arithmetic anywhere).
    *
    * Scale posture (100 TB): both windows partition on user_id and share
    * one ordering, so the whole reconstruction is ONE hash shuffle of the
    * change-relevant columns followed by per-partition sorts; the census
    * is a bounded partial+final aggregate. This is how SCD2 backfills run
    * on event streams at scale — never a self-join on adjacency.
    */
  private val scd2 = Q(
    "q_scd2",
    (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val chg = Tables(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      chg.withColumn("valid_to", lead(col("ts"), 1).over(byUser))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n_versions"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L))
            .cast("bigint").as("n_open"),
          coalesce(sum(unix_micros(col("valid_to")) - unix_micros(col("ts"))),
            lit(0L)).cast("bigint").as("closed_us"))
        .orderBy(col("event_type"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                          event_id, event_type FROM events),
            c AS (SELECT *, lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS prev
                  FROM ev),
            chg AS (SELECT user_id, ts, event_id, event_type FROM c
                    WHERE prev IS NULL OR prev <> event_type),
            vers AS (SELECT *, lead(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
                     FROM chg)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_versions,
              CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
              CAST(COALESCE(SUM(epoch_us(valid_to) - epoch_us(ts)), 0) AS BIGINT) AS closed_us
            FROM vers GROUP BY event_type ORDER BY event_type"""))

  /** INCREMENTAL sessionization against a persisted open-session store —
    * the day-boundary stitch every batch-incremental event pipeline
    * needs (and the batch twin of streaming session-window state):
    * q_sessionize recomputes all sessions from all events; in
    * production, yesterday's events were already sessionized and
    * REPORTED, and tonight's run must (a) read ONLY today's events plus
    * per-user state, and (b) still produce exactly what a full
    * recompute would — a session straddling midnight must not split.
    *
    * The store (built once per ingest, [[StoreOnce]],
    * bucketed on user_id — the q_bucketed_join sink) holds ONE row per
    * user active before the cut (2024-01-16): the user's last event
    * time, last session id, and that open session's running (count,
    * value-cents) — exactly the state a streaming session window keeps.
    * Today's pass: today's events join the store on user_id (store side
    * rides the bucket layout), the first per-user event's gap tests
    * against the STORED last_us, session numbering continues from the
    * stored last_sid, and the continued session's totals stitch the
    * stored partial onto today's. Value sums run in exact integer cents
    * (determinism rule 2 — stitching two float partials would re-order
    * the addition a full recompute does in one order).
    *
    * THE property is the oracle itself: the stitched output ≡ a
    * full-corpus sessionize RESTRICTED to sessions containing at least
    * one today event (the DuckDB replay runs exactly that), so the
    * incremental pass is proven to change NOTHING except what it reads.
    *
    * Scale posture: today's pass shuffles today's events once on
    * user_id (the window + both store joins reuse it); the store is one
    * row per active user, read bucketed. Nothing re-reads yesterday's
    * events — the cost tracks today's mass, exactly like
    * q_dedup_incremental.
    */
  /** Events as (user_id, event_id, ts, us, vc): µs timestamps and the
    * value in exact cents. */
  private def centEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))

  /** Each user's events in time order, event_id tiebreak. */
  private def byUserTime = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))

  /** [[byUserTime]] framed from the user's first event to the current one. */
  private def runningByUser = byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** `evs` numbered into 30-minute-gap sessions: `sid` per user. */
  private def sessionized(evs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    evs.withColumn("prev_us", lag(col("us"), 1).over(byUserTime))
      .withColumn("new_s", when(col("prev_us").isNull ||
        col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(runningByUser).cast("bigint"))

  /** Today's events (ts ≥ `cut`) stitched onto the stored per-user state:
    * `new_s` flags a session start against the previous event, or the
    * store's last event for a user's first event today. */
  private def stitchedToday(evs: org.apache.spark.sql.DataFrame,
      cut: org.apache.spark.sql.Column,
      store: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    evs.filter(col("ts") >= cut)
      .select(col("user_id"), col("event_id"), col("us"), col("vc"))
      .join(store.hint("merge"), Seq("user_id"), "left")
      .withColumn("prev_us", lag(col("us"), 1).over(byUserTime))
      .withColumn("prev_eff", coalesce(col("prev_us"), col("last_us")))
      .withColumn("new_s", when(col("prev_eff").isNull ||
        col("us") - col("prev_eff") > 1800000000L, 1).otherwise(0))

  private val sessionStore = Q(
    "q_session_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "sessstore")
      val sT = ws.table("session_store")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val evs = centEvents(spark, dir)
      StoreOnce(ws.dir) {
        val perSess = sessionized(evs.filter(col("ts") < cut))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).cast("long").as("n"), sum(col("vc")).cast("long").as("c"),
            max(col("us")).as("mx"))
        val wLast = Window.partitionBy(col("user_id")).orderBy(col("sid").desc)
        Stores.create(perSess.withColumn("rn", row_number().over(wLast))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("mx").as("last_us"), col("sid").as("last_sid"),
              col("n").as("last_n"), col("c").as("last_c")),
          sT, ws.path("state"), Some("user_id"))
      }
      val store = spark.table(sT)
      val marked = stitchedToday(evs, cut, store)
        .withColumn("session_id",
          (coalesce(col("last_sid"), lit(0L)) + sum(col("new_s")).over(runningByUser))
            .cast("bigint"))
      val grouped = marked.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_t"), sum(col("vc")).as("c_t"))
      val st2 = store.select(col("user_id").as("su"), col("last_sid").as("ssid"),
        col("last_n").as("sn"), col("last_c").as("sc"))
      grouped.join(broadcast(st2),
          col("user_id") === col("su") && col("session_id") === col("ssid"), "left")
        .select(col("user_id"), col("session_id"),
          (col("n_t") + coalesce(col("sn"), lit(0L))).cast("bigint").as("n_events"),
          (col("c_t") + coalesce(col("sc"), lit(0L))).cast("bigint").as("sum_value_c"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
                FROM events),
            l AS (SELECT user_id, event_id, ts, us, vc,
                    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
                  FROM e),
            f AS (SELECT user_id, event_id, ts, us, vc,
                    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM l),
            g AS (SELECT user_id, ts, vc,
                    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                      AS session_id
                  FROM f),
            s AS (SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                    CAST(SUM(vc) AS BIGINT) AS sum_value_c,
                    BOOL_OR(ts >= TIMESTAMP '2024-01-16 00:00:00') AS has_today
                  FROM g GROUP BY user_id, session_id)
            SELECT user_id, session_id, n_events, sum_value_c
            FROM s WHERE has_today ORDER BY user_id, session_id"""))

  /** q_session_expire's two catalog tables: the full open-session store
    * and its TTL-evicted rewrite. */
  private[graft] def expireStoreTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val ws = Stores(spark, dir, "sessttl")
    (ws.table("sess_ttl_full"), ws.table("sess_ttl_live"))
  }

  /** TTL EXPIRY of the open-session store — the retention verb of the
    * store lifecycle, and the batch twin of a streaming state
    * watermark: q_session_store's state grows one row per ever-active
    * user forever; a production store evicts users idle past a horizon.
    * The horizon must be ≥ the session gap (here 2 days vs 30 min), and
    * then eviction is SEMANTICS-PRESERVING: an evicted user's next
    * event is > gap away from their last, so a full recompute would
    * start a fresh session anyway — dropping the state row changes
    * nothing a future output can see. That claim IS the oracle: today's
    * stitched pass against the EVICTED store ≡ a full-corpus sessionize
    * restricted to sessions with ≥ 1 today event (the q_session_store
    * restriction idiom), keyed by session START time — state-loss-proof
    * keying (a stitched session reports its stored pre-cut start; id
    * numbering would not survive eviction and is exactly what
    * production pipelines don't key on).
    *
    * The store here extends q_session_store's row with the open
    * session's start_us (streaming session state holds its window
    * start); eviction = filter(last_us ≥ cut − TTL) rewritten under the
    * SAME 8-bucket user_id layout (plan-pinned bucketed read).
    * from_store marks sessions stitched from retained state — visible
    * eviction semantics (property-tested on a planted corpus with a
    * retained stitcher, an evicted returner, and an evicted absentee).
    *
    * Scale posture: eviction is one scan of the ≤1-row-per-user store +
    * bucketed rewrite; today's pass shuffles today's events once on
    * user_id; nothing re-reads pre-cut events (the q_session_store
    * pin).
    */
  private val sessionExpire = Q(
    "q_session_expire",
    (spark, dir) => {
      val ws = Stores(spark, dir, "sessttl")
      val (fullT, liveT) = expireStoreTables(spark, dir)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val cutUs = 1705363200000000L // 2024-01-16 00:00:00 UTC in µs
      val ttlUs = 2L * 86400000000L // 2-day idle horizon (≥ the 30-min gap)
      val evs = centEvents(spark, dir)
      StoreOnce(ws.dir) {
        val perSess = sessionized(evs.filter(col("ts") < cut))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).cast("long").as("n"), sum(col("vc")).cast("long").as("c"),
            max(col("us")).as("mx"), min(col("us")).as("mn"))
        val wLast = Window.partitionBy(col("user_id")).orderBy(col("sid").desc)
        Stores.create(perSess.withColumn("rn", row_number().over(wLast))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("mx").as("last_us"), col("mn").as("start_us"),
              col("n").as("last_n"), col("c").as("last_c")),
          fullT, ws.path("full"), Some("user_id"))
        // the retention pass: evict state idle past the horizon,
        // preserving the bucket layout for the stitch join
        Stores.create(spark.table(fullT).filter(col("last_us") >= cutUs - ttlUs),
          liveT, ws.path("live"), Some("user_id"))
      }
      val store = spark.table(liveT)
      val marked = stitchedToday(evs, cut, store)
        .withColumn("sid", sum(col("new_s")).over(runningByUser).cast("bigint"))
      val grouped = marked.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_t"), sum(col("vc")).as("c_t"),
          min(col("us")).as("first_us"))
      val st2 = store.select(col("user_id").as("su"), col("start_us").as("s_start"),
        col("last_n").as("sn"), col("last_c").as("sc"))
      // sid = 0 ⟺ the first today event continued the stored open
      // session (running new_s sum still zero) — the stitch marker
      grouped.join(broadcast(st2),
          col("user_id") === col("su") && col("sid") === 0, "left")
        .select(col("user_id"),
          when(col("sid") === 0, col("s_start")).otherwise(col("first_us"))
            .cast("bigint").as("start_us"),
          (col("n_t") + when(col("sid") === 0, coalesce(col("sn"), lit(0L)))
            .otherwise(lit(0L))).cast("bigint").as("n_events"),
          (col("c_t") + when(col("sid") === 0, coalesce(col("sc"), lit(0L)))
            .otherwise(lit(0L))).cast("bigint").as("sum_value_c"),
          (col("sid") === 0).as("from_store"))
        .orderBy(col("user_id"), col("start_us"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
                FROM events),
            l AS (SELECT user_id, event_id, us, vc,
                    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
                  FROM e),
            f AS (SELECT user_id, event_id, us, vc,
                    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM l),
            g AS (SELECT user_id, us, vc,
                    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM f),
            s AS (SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
                    CAST(COUNT(*) AS BIGINT) AS n_events,
                    CAST(SUM(vc) AS BIGINT) AS sum_value_c,
                    BOOL_OR(us >= epoch_us(TIMESTAMP '2024-01-16 00:00:00')) AS has_today
                  FROM g GROUP BY user_id, sid)
            SELECT user_id, start_us, n_events, sum_value_c,
              start_us < epoch_us(TIMESTAMP '2024-01-16 00:00:00') AS from_store
            FROM s WHERE has_today ORDER BY user_id, start_us"""))

  val all: Seq[Q] = Seq(jsonFuncs, timeWindow, sessionize, histogram,
    eventWindowJoin, windowRangeTime, decileStats, decileApprox, funnel,
    retention, markovTransitions, eventPattern, histogram2d, cohortMatrix,
    attribution, timeToConvert, sessionPaths, coldStart, growthWow, scd2,
    sessionStore, sessionExpire)
}
