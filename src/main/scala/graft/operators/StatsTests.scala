package graft.operators

import graft.{Caches, Q, Tables}
import graft.functions.Portable.pround
import graft.functions.Prefix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-comparison tests — the nonparametric/statistical leg of a
  * data-quality stack (did a pipeline change shift the value
  * distribution? are two categorical dims independent?). The reference
  * engine has no statistics surface (SURVEY.md §2.2); these extend the
  * round-4 battery (Welch's t, OLS, Gini) with the rank-based tests,
  * whose scale problem — global ranking — is solved by the distributed
  * prefix-sum primitive ([[graft.functions.Prefix]]) instead of an
  * unpartitioned running window.
  *
  * Determinism posture: every statistic funnels through exact integer
  * counts (per-value group counts, prefix sums, tie cubes); the float
  * formulas at the end compute from identical integers in identical
  * operation order on both engines, then pass through pround.
  */
object StatsTests {

  /** Mann-Whitney U (Wilcoxon rank-sum) comparing `value` between
    * purchase and click events. Per-value counts by one hash aggregate;
    * average ranks from the distributed prefix sum over distinct values
    * (avg rank of value v = C(<v) + (n_v+1)/2); U and the tie-corrected
    * normal approximation z from exact integer sums only — 2·R₁ =
    * Σ n1·(2·C(<v) + n_v + 1) stays integral, so both engines agree
    * bit-for-bit before the final division. Distinct-value cardinality
    * bounds every relation after the first aggregate.
    */
  private val mannWhitney = Q(
    "q_mann_whitney",
    (spark, dir) => {
      val base = Tables.events(spark, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"), (col("event_type") === "purchase").as("a"))
      val perv = base.groupBy(col("v"))
        .agg(count_if(col("a")).as("n1"), count_if(!col("a")).as("n2"),
          count(lit(1)).as("n"))
      val c = Prefix.withRunningTotals(perv, Seq(col("v")), Seq("n"))
      val s = c.agg(
        sum(col("n1")).cast("bigint").as("n1t"),
        sum(col("n2")).cast("bigint").as("n2t"),
        sum(col("n")).cast("bigint").as("nt"),
        // 2·(sum of group-1 average ranks): exact integer
        sum(col("n1") * (lit(2) * (col("n_cum") - col("n")) + col("n") + 1))
          .cast("bigint").as("r1x2"),
        sum(col("n") * col("n") * col("n") - col("n")).cast("bigint").as("ties"))
      s.select(
          col("n1t").as("n1"), col("n2t").as("n2"),
          ((col("r1x2").cast("double") - (col("n1t") * (col("n1t") + 1)).cast("double")) / 2.0).as("u1"),
          col("n1t"), col("n2t"), col("nt"), col("ties"))
        .select(col("n1"), col("n2"), col("u1"),
          ((col("n1t") * col("n2t")).cast("double") - col("u1")).as("u2"),
          pround(
            (col("u1") - (col("n1t") * col("n2t")).cast("double") / 2.0) /
              sqrt((col("n1t") * col("n2t")).cast("double") / 12.0 *
                ((col("nt") + 1).cast("double") -
                  col("ties").cast("double") /
                    (col("nt").cast("double") * (col("nt") - 1).cast("double")))), 4)
            .as("z"))
    },
    Some("""WITH base AS (SELECT value AS v, event_type = 'purchase' AS a
                          FROM events WHERE event_type IN ('purchase', 'click')),
            perv AS (SELECT v, CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS n1,
                       CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS n2,
                       CAST(COUNT(*) AS BIGINT) AS n
                     FROM base GROUP BY v),
            c AS (SELECT v, n1, n2, n,
                    CAST(SUM(n) OVER (ORDER BY v) AS BIGINT) AS n_cum
                  FROM perv),
            s AS (SELECT CAST(SUM(n1) AS BIGINT) AS n1t, CAST(SUM(n2) AS BIGINT) AS n2t,
                    CAST(SUM(n) AS BIGINT) AS nt,
                    CAST(SUM(n1 * (2 * (n_cum - n) + n + 1)) AS BIGINT) AS r1x2,
                    CAST(SUM(n * n * n - n) AS BIGINT) AS ties
                  FROM c),
            u AS (SELECT n1t, n2t, nt, ties,
                    (CAST(r1x2 AS DOUBLE) - CAST(n1t * (n1t + 1) AS DOUBLE)) / 2.0 AS u1
                  FROM s)
            SELECT n1t AS n1, n2t AS n2, u1,
              CAST(n1t * n2t AS DOUBLE) - u1 AS u2,
              FLOOR(((u1 - CAST(n1t * n2t AS DOUBLE) / 2.0)
                / sqrt(CAST(n1t * n2t AS DOUBLE) / 12.0
                  * (CAST(nt + 1 AS DOUBLE)
                     - CAST(ties AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt - 1 AS DOUBLE)))))
                * 10000 + 0.5) / 10000 AS z
            FROM u"""))

  /** Two-sample Kolmogorov-Smirnov D statistic over the same two groups:
    * D = max over distinct values of |F₁(v) − F₂(v)|, with both empirical
    * CDFs coming from one two-weight distributed prefix sum. The max
    * ranges over floats computed from identical integers, so both
    * engines pick the same supremum.
    */
  private val ksTest = Q(
    "q_ks_test",
    (spark, dir) => {
      val base = Tables.events(spark, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"), (col("event_type") === "purchase").as("a"))
      val perv = base.groupBy(col("v"))
        .agg(count_if(col("a")).as("n1"), count_if(!col("a")).as("n2"))
      val c = Prefix.withRunningTotals(perv, Seq(col("v")), Seq("n1", "n2"))
      val t = broadcast(perv.agg(
        sum(col("n1")).cast("bigint").as("n1t"),
        sum(col("n2")).cast("bigint").as("n2t")))
      c.crossJoin(t)
        .groupBy(col("n1t"), col("n2t"))
        .agg(pround(max(abs(
          col("n1_cum").cast("double") / col("n1t").cast("double") -
            col("n2_cum").cast("double") / col("n2t").cast("double"))), 4).as("ks_d"))
        .select(col("n1t").as("n1"), col("n2t").as("n2"), col("ks_d"))
    },
    Some("""WITH base AS (SELECT value AS v, event_type = 'purchase' AS a
                          FROM events WHERE event_type IN ('purchase', 'click')),
            perv AS (SELECT v, CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS n1,
                       CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS n2
                     FROM base GROUP BY v),
            c AS (SELECT v, CAST(SUM(n1) OVER (ORDER BY v) AS BIGINT) AS n1_cum,
                    CAST(SUM(n2) OVER (ORDER BY v) AS BIGINT) AS n2_cum
                  FROM perv),
            t AS (SELECT CAST(SUM(n1) AS BIGINT) AS n1t, CAST(SUM(n2) AS BIGINT) AS n2t
                  FROM perv)
            SELECT n1t AS n1, n2t AS n2,
              FLOOR(MAX(ABS(CAST(n1_cum AS DOUBLE) / CAST(n1t AS DOUBLE)
                - CAST(n2_cum AS DOUBLE) / CAST(n2t AS DOUBLE))) * 10000 + 0.5) / 10000 AS ks_d
            FROM c CROSS JOIN t GROUP BY n1t, n2t"""))

  /** Chi-square test of independence for the orders contingency table
    * (order status × priority). Observed counts by one hash aggregate;
    * the full grid — including zero-observed cells, which a naive
    * join-on-observed silently drops — comes from crossing the two
    * bounded marginal relations. Everything after the first aggregate is
    * dimension-bounded (≤ |status|·|priority| rows), so the test costs
    * one scan at any scale.
    */
  /** Every (s, p) cell of the contingency grid of the observed counts
    * `obs` (s, p, o): observed `o` (0 where absent), expected `e` =
    * row·col / total, and the total `t`. */
  private[operators] def contingencyCells(obs: DataFrame): DataFrame = {
    // cached: marginals, total and the grid join all re-read the tiny
    // observed relation; released by the harness post-query
    val o = Caches.persisted(obs)
    val rt = o.groupBy(col("s")).agg(sum(col("o")).cast("bigint").as("r"))
    val ct = o.groupBy(col("p")).agg(sum(col("o")).cast("bigint").as("c"))
    val tot = broadcast(o.agg(sum(col("o")).cast("bigint").as("t")))
    rt.crossJoin(ct).crossJoin(tot)
      .join(o, Seq("s", "p"), "left")
      .select(col("s"), col("p"), coalesce(col("o"), lit(0L)).as("o"),
        ((col("r") * col("c")).cast("double") / col("t").cast("double")).as("e"),
        col("t"))
  }

  private val chi2 = Q(
    "q_chi2",
    (spark, dir) => {
      contingencyCells(Tables(spark, dir, "orders")
          .groupBy(col("o_orderstatus").as("s"), col("o_orderpriority").as("p"))
          .agg(count(lit(1)).as("o")))
        .agg(
          max(col("t")).as("n"),
          ((countDistinct(col("s")) - 1) * (countDistinct(col("p")) - 1))
            .cast("int").as("dof"),
          pround(sum((col("o").cast("double") - col("e")) *
            (col("o").cast("double") - col("e")) / col("e")), 4).as("chi2"))
    },
    Some("""WITH obs AS (SELECT o_orderstatus AS s, o_orderpriority AS p,
                     CAST(COUNT(*) AS BIGINT) AS o
                   FROM orders GROUP BY 1, 2),
            rt AS (SELECT s, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY s),
            ct AS (SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY p),
            tot AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM obs),
            grid AS (SELECT rt.s, ct.p, COALESCE(obs.o, 0) AS o,
                       CAST(rt.r * ct.c AS DOUBLE) / CAST(tot.t AS DOUBLE) AS e,
                       tot.t AS t
                     FROM rt CROSS JOIN ct CROSS JOIN tot
                     LEFT JOIN obs ON obs.s = rt.s AND obs.p = ct.p)
            SELECT MAX(t) AS n,
              CAST((COUNT(DISTINCT s) - 1) * (COUNT(DISTINCT p) - 1) AS INT) AS dof,
              FLOOR(SUM((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e)
                * 10000 + 0.5) / 10000 AS chi2
            FROM grid"""))

  /** Revenue-concentration (Pareto) audit: the smallest share of
    * customers covering 50/80/90% of total revenue. The descending
    * cumulative revenue comes from the distributed prefix sum over the
    * per-customer aggregate — the audit works at any customer
    * cardinality, where `SUM() OVER (ORDER BY rev DESC)` would
    * single-task. Revenue funnels through exact integer cents, and the
    * threshold test is the integer comparison cum·100 ≥ pct·total (safe
    * to ~$10¹⁴ total revenue in 64 bits), so both engines pick identical
    * crossing points.
    */
  private val paretoShare = Q(
    "q_pareto_share",
    (spark, dir) => {
      val rev = Tables(spark, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("cents"))
        .withColumn("one", lit(1L))
      val c = Prefix.withRunningTotals(rev,
        Seq(col("cents").desc, col("o_custkey")), Seq("cents", "one"))
      val tot = broadcast(rev.agg(
        sum(col("cents")).cast("bigint").as("tot"),
        count(lit(1)).as("ncust")))
      c.crossJoin(tot)
        .select(explode(array(lit(50), lit(80), lit(90))).as("pct"),
          col("cents_cum"), col("one_cum"), col("tot"), col("ncust"))
        .filter(col("cents_cum") * 100 >= col("pct") * col("tot"))
        .groupBy(col("pct"), col("ncust"))
        .agg(min(col("one_cum")).as("n_customers"))
        .select(col("pct"), col("n_customers"),
          pround(col("n_customers").cast("double") / col("ncust").cast("double"), 4)
            .as("cust_share"))
        .orderBy(col("pct"))
    },
    Some("""WITH rev AS (SELECT o_custkey,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey),
            c AS (SELECT cents,
                    CAST(SUM(cents) OVER w AS BIGINT) AS cents_cum,
                    CAST(ROW_NUMBER() OVER w AS BIGINT) AS one_cum
                  FROM rev
                  WINDOW w AS (ORDER BY cents DESC, o_custkey)),
            t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot,
                    CAST(COUNT(*) AS BIGINT) AS ncust FROM rev),
            th AS (SELECT UNNEST([50, 80, 90]) AS pct)
            SELECT pct, MIN(one_cum) AS n_customers,
              FLOOR((CAST(MIN(one_cum) AS DOUBLE) / CAST(ncust AS DOUBLE))
                * 10000 + 0.5) / 10000 AS cust_share
            FROM c CROSS JOIN t CROSS JOIN th
            WHERE cents_cum * 100 >= pct * tot
            GROUP BY pct, ncust ORDER BY pct"""))

  /** Global revenue percentile per customer (first 20 custkeys reported):
    * position share pos/n under the total order (cents, custkey) — the
    * feature-engineering "rank transform", computed with the distributed
    * row-numbering primitive instead of a single-task global window. The
    * tiebreak makes the order total, so this is row-position share
    * (equal-revenue customers get adjacent, not equal, positions —
    * deterministic on both engines by construction).
    */
  private val percentileRank = Q(
    "q_percentile_rank",
    (spark, dir) => {
      val rev = Tables(spark, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("cents")).cast("bigint").as("cents"))
      val (numbered, n) = graft.functions.Ranks.withGlobalRowNumber(
        rev, Seq(col("cents"), col("o_custkey")), "rn")
      numbered.filter(col("o_custkey") <= 20)
        .select(col("o_custkey"), col("cents"),
          pround((col("rn") - 1).cast("double") / lit(n - 1).cast("double"), 4)
            .as("pos_share"))
        .orderBy(col("o_custkey"))
    },
    Some("""WITH rev AS (SELECT o_custkey,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey),
            r AS (SELECT o_custkey, cents,
                    CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rn,
                    CAST(COUNT(*) OVER () AS BIGINT) AS n
                  FROM rev)
            SELECT o_custkey, cents,
              FLOOR((CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                * 10000 + 0.5) / 10000 AS pos_share
            FROM r WHERE o_custkey <= 20 ORDER BY o_custkey"""))

  /** Kendall tau-b rank correlation between daily revenue and daily
    * order count. The naive all-pairs concordance scan is O(n²) in ROWS;
    * aggregating to the daily series first makes the pair relation
    * bounded by the date domain squared — a business constant (~2400
    * days → ~2.9M pairs) that does not grow with corpus size, the same
    * bounded-post-aggregate idiom as the histogram windows. Concordance
    * is decided by integer comparisons (never a difference product,
    * which would overflow at 100 TB daily-cents magnitudes); ties in
    * either margin enter the tau-b denominator exactly; float appears
    * only in the final 1-row formula.
    */
  private val kendallTau = Q(
    "q_kendall_tau",
    (spark, dir) => {
      val d = Tables(spark, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("bigint").as("x"),
          count(lit(1)).cast("bigint").as("y"))
      val a = d.select(col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
      val b = d.select(col("day").as("db"), col("x").as("xb"), col("y").as("yb"))
      a.join(b, col("da") < col("db"))
        .agg(
          count(lit(1)).cast("bigint").as("n0"),
          sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
            (col("xa") > col("xb") && col("ya") > col("yb")), 1L).otherwise(0L))
            .cast("bigint").as("nc"),
          sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
            (col("xa") > col("xb") && col("ya") < col("yb")), 1L).otherwise(0L))
            .cast("bigint").as("nd"),
          sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).cast("bigint").as("nx"),
          sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).cast("bigint").as("ny"))
        .select(col("n0"), col("nc"), col("nd"),
          pround((col("nc") - col("nd")).cast("double") /
            sqrt((col("n0") - col("nx")).cast("double") *
              (col("n0") - col("ny")).cast("double")), 4).as("tau_b"))
    },
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x,
                  CAST(COUNT(*) AS BIGINT) AS y
                FROM orders GROUP BY 1),
            p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
                  FROM d a JOIN d b ON a.day < b.day),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                    CAST(SUM(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                    CAST(SUM(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                    CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS nx,
                    CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ny
                  FROM p)
            SELECT n0, nc, nd,
              FLOOR((CAST(nc - nd AS DOUBLE)
                  / sqrt(CAST(n0 - nx AS DOUBLE) * CAST(n0 - ny AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS tau_b
            FROM s"""))

  /** Theil T inequality index over per-customer revenue — the
    * decomposable companion to q_gini / q_hhi (Theil splits exactly into
    * between-group + within-group terms, the property a training-mix
    * audit wants when attributing inequality to sources). Revenue
    * funnels through exact integer cents; each customer's term
    * (x/μ)·ln(x/μ) is floored to integer picounits and summed as
    * decimal(38,0) (order-independent; ln's cross-engine ulp
    * disagreement is bounded by the funnel and absorbed by pround — the
    * q_js_divergence discipline). Also reports T normalized by its
    * ln(n) maximum.
    */
  private val theilIndex = Q(
    "q_theil_index",
    (spark, dir) => {
      val rev = Tables(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("bigint").as("cents"))
      val tot = broadcast(rev.agg(
        count(lit(1)).cast("bigint").as("n"),
        sum(col("cents")).cast("bigint").as("tot")))
      rev.crossJoin(tot)
        .select(col("n"),
          (col("cents").cast("double") /
            (col("tot").cast("double") / col("n").cast("double"))).as("r"))
        .select(col("n"),
          // decimal-space floor: floor(double) yields LongType, which wraps
          // once r·ln(r)·1e12 passes ~9.2e18 (r ≈ 6e5 under extreme revenue
          // skew) while the oracle's HUGEINT keeps going. decimal(38,6)
          // carries the funnel exactly to ~1e26 picounits.
          floor((col("r") * log(col("r")) * 1e12).cast("decimal(38,6)"))
            .cast("decimal(38,0)").as("i"))
        .groupBy(col("n"))
        .agg((sum(col("i")).cast("double") / 1e12).as("s"))
        .select(col("n").as("n_customers"),
          pround(col("s") / col("n").cast("double"), 4).as("theil"),
          pround(col("s") / col("n").cast("double") /
            log(col("n").cast("double")), 4).as("theil_norm"))
    },
    Some("""WITH rev AS (SELECT o_custkey,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(cents) AS BIGINT) AS tot FROM rev),
            i AS (SELECT t.n,
                    CAST(FLOOR(CAST((CAST(cents AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
                      * ln(CAST(cents AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
                      * 1e12 AS DECIMAL(38,6))) AS HUGEINT) AS i
                  FROM rev CROSS JOIN t),
            s AS (SELECT n, CAST(SUM(i) AS DOUBLE) / 1e12 AS s FROM i GROUP BY n)
            SELECT n AS n_customers,
              FLOOR((s / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000 AS theil,
              FLOOR((s / CAST(n AS DOUBLE) / ln(CAST(n AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS theil_norm
            FROM s"""))

  /** Bootstrap confidence interval for the mean order value — the
    * uncertainty quantification a single mean never carries, via the
    * Poisson bootstrap (Chamandy et al.'s "Estimating Uncertainty for
    * Massive Data Streams" shape, the resampler that works in one
    * distributed pass): each of the 100 resamples weights every row by
    * an INDEPENDENT Poisson(1) draw — derived deterministically from
    * the portable md5 of (orderkey, hash-group): each 128-bit digest
    * yields EIGHT independent 16-bit uniforms (4 hex chars each), so a
    * row pays 13 hashes for its 100 draws instead of 100 (measured 7×
    * on the whole query); the Poisson CDF is encoded as fixed 16-bit
    * integer thresholds (24111/48223/60281/64299, tail collapsed to
    * w = 4) so both engines draw bit-identical weights. The
    * per-resample weighted means are ranked and the nearest-rank
    * 2.5%/97.5% pair is the CI.
    *
    * Scale posture: the hash-group and chunk grids are 13- and 8-row
    * broadcasts; the corpus-sized relation peaks at rows × 13 digests
    * and rows × 100 draws that partial-aggregate map-side to 100
    * (sum_wx, sum_w) integer pairs; the ranking window runs over 100
    * rows. Exact integer cents throughout; doubles appear only in the
    * final divisions.
    */
  private val bootstrapCi = Q(
    "q_bootstrap_ci",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      // ONE projection computes the row's 13 digests and parses them to
      // 52 32-bit integer chunks (8 hex chars each), cached so
      // CollapseProject can never inline the md5s/parses into the 100
      // weight expressions below (measured: inlining recomputes digests
      // per draw and the whole saving vanishes). Parsing ONCE per chunk
      // matters (r17, guide §4 expression cost): the old per-draw
      // `conv(substring(hex, c*4+1, 4), 16, 10) as bigint` paid a
      // hex-parse → decimal-string format → decimal reparse PLUS two
      // string allocations for every one of the 15M draws — profiled at
      // 86.5 s summed task time for a 5.3 s exec; the 52 chunk parses
      // per row replace 100 string rounds with per-draw shift/mask on a
      // cached long (each 16-bit field is exactly the old substring:
      // hex is big-endian, so chars [8k+1, 8k+4] = chunk_k >> 16 and
      // [8k+5, 8k+8] = chunk_k & 0xffff — draws bit-identical). The
      // spread matters at SMALL input: orders at sf0.1 is one
      // unsplittable parquet split, and without it the whole 15M-draw
      // aggregate runs on ONE core (measured 6-8 s; ~1 s spread) —
      // Tables.spreadIfUnderSplit is a no-op once the input has real
      // splits.
      val withArr = Caches.persisted(Tables.spreadIfUnderSplit(o)
        .select(col("cents"),
          array((0 until 13).flatMap { g =>
            val h = md5(concat(lit(s"bs$g-"), col("k").cast("string")))
            (0 until 4).map(k =>
              conv(substring(h, k * 8 + 1, 8), 16, 10).cast("long"))
          }: _*).as("cs")))
      // ALL 100 resamples aggregate as 200 COLUMNS of one no-key
      // aggregate — the corpus relation is never row-expanded (the
      // rows×100 draw relation of the naive form was the measured
      // bottleneck: ~14 s vs ~1 s); the 1×200 result stacks to 100 rows
      val aggCols = (0 until 100).flatMap { b =>
        val g = b / 8; val c = b % 8
        val chunk = col("cs").getItem(g * 4 + c / 2)
        val u = if (c % 2 == 0) shiftright(chunk, 16)
          else chunk.bitwiseAND(lit(65535L))
        val w = when(u < 24111L, 0L).when(u < 48223L, 1L)
          .when(u < 60281L, 2L).when(u < 64299L, 3L).otherwise(4L)
        Seq(sum(w * col("cents")).as(s"swx$b"), sum(w).as(s"sw$b"))
      }
      val means = withArr.agg(aggCols.head, aggCols.tail: _*)
        .selectExpr(s"stack(100, ${(0 until 100).map(b => s"$b, swx$b, sw$b").mkString(", ")}) AS (b, swx, sw)")
        .filter(col("sw") > 0)
        .select(col("b"),
          (col("swx").cast("double") / col("sw").cast("double")).as("m"))
      // 100-row bounded relation: the unpartitioned rank window is fine;
      // both CI bounds come from ONE conditional aggregation so the
      // resample subtree executes once, not once per bound
      val ci = means
        .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("b"))))
        .agg(max(when(col("rn") === 3, col("m") / 100d)).as("lo"),
          max(when(col("rn") === 98, col("m") / 100d)).as("hi"))
      o.agg((sum(col("cents")).cast("double") / count(lit(1)).cast("double") / 100d)
          .as("mean"))
        .crossJoin(broadcast(ci))
        .select(pround(col("mean"), 4).as("mean"),
          pround(col("lo"), 4).as("ci_lo"), pround(col("hi"), 4).as("ci_hi"),
          lit(100).as("n_resamples"))
    },
    Some("""WITH o AS (SELECT o_orderkey AS k,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM orders),
            hashed AS (SELECT o.cents, t.g,
                         md5('bs' || CAST(t.g AS VARCHAR) || '-'
                           || CAST(o.k AS VARCHAR)) AS hx
                       FROM o, UNNEST(generate_series(0, 12)) AS t(g)),
            wtd AS (SELECT b, cents,
                      CASE WHEN u < 24111 THEN 0 WHEN u < 48223 THEN 1
                           WHEN u < 60281 THEN 2 WHEN u < 64299 THEN 3
                           ELSE 4 END AS w
                    FROM (SELECT h.g * 8 + t.c AS b, h.cents,
                            CAST('0x' || substr(h.hx, t.c * 4 + 1, 4) AS BIGINT) AS u
                          FROM hashed h, UNNEST(generate_series(0, 7)) AS t(c))
                    WHERE b < 100),
            means AS (SELECT b,
                        CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
                      FROM wtd GROUP BY b HAVING SUM(w) > 0),
            ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means),
            lo AS (SELECT m / 100 AS lo FROM ranked WHERE rn = 3),
            hi AS (SELECT m / 100 AS hi FROM ranked WHERE rn = 98),
            pt AS (SELECT CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100 AS mean
                   FROM o)
            SELECT FLOOR(mean * 10000 + 0.5) / 10000 AS mean,
              FLOOR(lo * 10000 + 0.5) / 10000 AS ci_lo,
              FLOOR(hi * 10000 + 0.5) / 10000 AS ci_hi,
              100 AS n_resamples
            FROM pt CROSS JOIN lo CROSS JOIN hi"""))

  /** Welch's unequal-variance two-sample t-test — the parametric twin of
    * q_mann_whitney over the same two groups (purchase vs click values):
    * the stats battery had the rank test, KS, χ², ANOVA and the
    * bootstrap, but not the classic two-sample mean comparison that
    * doesn't assume equal variances. All moments come from ONE no-key
    * partial+final aggregate of exact integer cents (value floored to
    * cents, squares summed in decimal(38,0) mirroring DuckDB HUGEINT —
    * no order-dependent float accumulation, no bigint wrap at scale);
    * means, variances, t and the Welch–Satterthwaite df
    * are then single closed-form expressions over those integers, so
    * both engines compute bit-identical doubles (+,−,×,÷,sqrt are
    * IEEE-exact). n≤1 arms yield NULL (the 0/0 house rule).
    */
  private val welchT = Q(
    "q_welch_t",
    (spark, dir) => {
      val base = Tables.events(spark, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(floor(col("value") * 100 + 0.5d).cast("long").as("c"),
          (col("event_type") === "purchase").as("a"))
      // cents² sums overflow BIGINT at large sf: factors cast to
      // decimal(19,0) BEFORE the product so the accumulator runs in
      // decimal(38,0), mirroring DuckDB's HUGEINT promotion (the
      // q_neyman_alloc / q_assortativity posture)
      val cd = col("c").cast("decimal(19,0)")
      val s = base.agg(
        count_if(col("a")).cast("bigint").as("n1"),
        count_if(!col("a")).cast("bigint").as("n2"),
        sum(when(col("a"), col("c")).otherwise(0L)).cast("bigint").as("s1"),
        sum(when(!col("a"), col("c")).otherwise(0L)).cast("bigint").as("s2"),
        sum(when(col("a"), cd * cd).otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
        sum(when(!col("a"), cd * cd).otherwise(lit(0).cast("decimal(38,0)"))).as("q2"))
      val v1 = (col("q1").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("n1").cast("double")) /
        (col("n1") - 1).cast("double")
      val v2 = (col("q2").cast("double") -
        col("s2").cast("double") * col("s2").cast("double") / col("n2").cast("double")) /
        (col("n2") - 1).cast("double")
      val se1 = v1 / col("n1").cast("double")
      val se2 = v2 / col("n2").cast("double")
      val ok = col("n1") > 1 && col("n2") > 1
      s.select(col("n1"), col("n2"),
        when(col("n1") === 0, lit(null).cast("double"))
          .otherwise(pround(col("s1").cast("double") / (col("n1") * 100L).cast("double"), 4))
          .as("mean1"),
        when(col("n2") === 0, lit(null).cast("double"))
          .otherwise(pround(col("s2").cast("double") / (col("n2") * 100L).cast("double"), 4))
          .as("mean2"),
        when(!ok, lit(null).cast("double")).otherwise(pround(
          (col("s1").cast("double") / col("n1").cast("double") -
            col("s2").cast("double") / col("n2").cast("double")) /
            sqrt(se1 + se2), 4)).as("t_stat"),
        when(!ok, lit(null).cast("double")).otherwise(pround(
          (se1 + se2) * (se1 + se2) /
            (se1 * se1 / (col("n1") - 1).cast("double") +
              se2 * se2 / (col("n2") - 1).cast("double")), 2)).as("df"))
    },
    Some("""WITH base AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
                  event_type = 'purchase' AS a
                FROM events WHERE event_type IN ('purchase', 'click')),
            s AS (SELECT CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS n1,
                  CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS n2,
                  CAST(COALESCE(SUM(c) FILTER (WHERE a), 0) AS BIGINT) AS s1,
                  CAST(COALESCE(SUM(c) FILTER (WHERE NOT a), 0) AS BIGINT) AS s2,
                  COALESCE(SUM(CAST(c AS HUGEINT) * c) FILTER (WHERE a), 0) AS q1,
                  COALESCE(SUM(CAST(c AS HUGEINT) * c) FILTER (WHERE NOT a), 0) AS q2
                FROM base),
            v AS (SELECT n1, n2, s1, s2,
                  (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS v1,
                  (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS v2
                FROM s)
            SELECT n1, n2,
              CASE WHEN n1 = 0 THEN NULL
                   ELSE FLOOR((CAST(s1 AS DOUBLE) / CAST(n1 * 100 AS DOUBLE))
                     * 10000 + 0.5) / 10000 END AS mean1,
              CASE WHEN n2 = 0 THEN NULL
                   ELSE FLOOR((CAST(s2 AS DOUBLE) / CAST(n2 * 100 AS DOUBLE))
                     * 10000 + 0.5) / 10000 END AS mean2,
              CASE WHEN n1 <= 1 OR n2 <= 1 THEN NULL
                   ELSE FLOOR(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)))
                     * 10000 + 0.5) / 10000 END AS t_stat,
              CASE WHEN n1 <= 1 OR n2 <= 1 THEN NULL
                   ELSE FLOOR(((v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
                       * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
                     / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                         / CAST(n1 - 1 AS DOUBLE)
                       + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
                         / CAST(n2 - 1 AS DOUBLE)))
                     * 100 + 0.5) / 100 END AS df
            FROM v"""))

  /** Grouped EXACT quantiles at UNBOUNDED key cardinality — the one
    * quantile shape the suite lacked (exact percentiles existed globally
    * — q_pareto_share / q_percentile_rank via [[Prefix]]/Ranks — and per
    * bounded group only): exact type-1 p50/p90 of order price cents PER
    * CUSTOMER, for every customer.
    *
    * Scale posture — why a window is RIGHT here and was wrong in
    * q_quantile_merge's yardstick: the cumulative count partitions by
    * o_custkey, a HIGH-cardinality key, so the window parallelizes
    * without bound — each task holds ONE customer's distinct price
    * points (bounded by that customer's order count), the opposite of
    * the 3-partition vintage trap task 6 removed. Per-group counting
    * runs FIRST (groupBy (custkey, cents)), so the window input is
    * distinct values per group, not raw rows, and both quantiles come
    * from ONE conditional aggregation over the cumulated relation — no
    * self-join, no double consumption, no second shuffle.
    */
  private val groupedMedian = Q(
    "q_grouped_median",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vc = Tables(spark, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("o_custkey"), col("cents")).agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy(col("o_custkey")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("cum", sum(col("c")).over(wcum))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("o_custkey"))))
        .groupBy(col("o_custkey"), col("n"))
        .agg(
          min(when(col("cum") * 100 >= col("n") * 50, col("cents"))).as("p50"),
          min(when(col("cum") * 100 >= col("n") * 90, col("cents"))).as("p90"))
        .select(col("o_custkey"), col("n").cast("bigint").as("n_orders"),
          col("p50").cast("bigint").as("p50_cents"),
          col("p90").cast("bigint").as("p90_cents"))
        .orderBy(col("o_custkey"))
    },
    Some("""WITH vc AS (SELECT o_custkey,
                  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                  CAST(COUNT(*) AS BIGINT) AS c
                FROM orders GROUP BY 1, 2),
            cum AS (SELECT o_custkey, cents,
                      CAST(SUM(c) OVER (PARTITION BY o_custkey ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum,
                      CAST(SUM(c) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
                    FROM vc)
            SELECT o_custkey, n AS n_orders,
              CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN cents END) AS BIGINT)
                AS p50_cents,
              CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN cents END) AS BIGINT)
                AS p90_cents
            FROM cum GROUP BY o_custkey, n ORDER BY o_custkey"""))

  val all: Seq[Q] = Seq(mannWhitney, ksTest, chi2, paretoShare, percentileRank,
    kendallTau, theilIndex, bootstrapCi, welchT, groupedMedian)
}
