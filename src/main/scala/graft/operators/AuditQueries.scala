package graft.operators

import graft.{Caches, Q, Tables}
import graft.functions.Portable.{hash60, pround}
import graft.functions.{Prefix, Ranks}
import org.apache.spark.sql.functions._

/** Data-quality and distribution audits — the round-5 third wave. Each is
  * a shape a production corpus/warehouse audit actually runs (rank
  * correlation, robust outlier fences, first-digit fraud screens, drift
  * detection, engagement stickiness, split-leakage checks, association
  * strength, market concentration), built on the round-5 distributed
  * prefix-sum / exact-percentile primitives so every plan survives
  * unbounded cardinality. The reference engine has no statistics surface
  * (SURVEY.md §2.2); these extend the §2.7 battery.
  *
  * Determinism posture (house rules): every statistic funnels through
  * exact integers (counts, cents, doubled average ranks); the float
  * formula at the end computes from identical integers in identical IEEE
  * operation order on both engines, then passes through pround.
  */
object AuditQueries {

  /** Spearman rank correlation between l_quantity and l_extendedprice.
    * Average ranks with ties come from per-value counts + the distributed
    * prefix sum — kept integral as 2·rank = 2·C(<v) + n_v + 1 — joined
    * back to rows by value (hash join keyed on the value, any
    * cardinality). Pearson's formula over the doubled ranks needs only
    * the five product sums; each product is formed in decimal(38,0) —
    * the cast happens BEFORE the multiply, exactly as the oracle's
    * CAST(rx AS HUGEINT) * rx — so nothing wraps at any corpus size
    * (doubled ranks reach 2n; a LongType product would silently wrap
    * past n ≈ 1.5e9 rows with ANSI off).
    */
  private val spearman = Q(
    "q_spearman",
    (spark, dir) => {
      val base = Tables(spark, dir, "lineitem")
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def ranks2(v: String) = {
        val perv = base.groupBy(col(v)).agg(count(lit(1)).as("n"))
        Prefix.withRunningTotals(perv, Seq(col(v)), Seq("n"))
          .select(col(v), (lit(2) * col("n_cum") - col("n") + 1).as(s"r$v"))
      }
      // the x and y rank ladders are INDEPENDENT (each reads only base)
      // but each blocks the driver on its Prefix per-partition-sums
      // collect — overlap the two build chains (r17, guide §2.6 via Par)
      val Seq(rksX, rksY) = graft.functions.Par.all(Seq(
        () => ranks2("x"), () => ranks2("y")))
      val r = base.join(rksX, "x").join(rksY, "y")
        .select(col("rx"), col("ry"))
      val dec = "decimal(38,0)"
      r.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("rx").cast(dec)).as("sx"), sum(col("ry").cast(dec)).as("sy"),
          sum(col("rx").cast(dec) * col("rx")).as("sxx"),
          sum(col("ry").cast(dec) * col("ry")).as("syy"),
          sum(col("rx").cast(dec) * col("ry")).as("sxy"))
        .select(col("n"),
          pround(
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (sqrt(col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
                sqrt(col("n").cast("double") * col("syy").cast("double") -
                  col("sy").cast("double") * col("sy").cast("double"))), 4)
            .as("rho"))
    },
    Some("""WITH base AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
            px AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY x),
            cx AS (SELECT x, 2 * CAST(SUM(n) OVER (ORDER BY x) AS BIGINT) - n + 1 AS rx
                   FROM px),
            py AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY y),
            cy AS (SELECT y, 2 * CAST(SUM(n) OVER (ORDER BY y) AS BIGINT) - n + 1 AS ry
                   FROM py),
            r AS (SELECT rx, ry FROM base JOIN cx USING (x) JOIN cy USING (y)),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
                    SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
                    SUM(CAST(ry AS HUGEINT) * ry) AS syy,
                    SUM(CAST(rx AS HUGEINT) * ry) AS sxy
                  FROM r)
            SELECT n,
              FLOOR(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                * 10000 + 0.5) / 10000 AS rho
            FROM s"""))

  /** Tukey-fence (IQR) outlier screen per return flag: exact Q1/Q3 from
    * the distributed percentile primitive, fences at 1.5·IQR, outlier
    * count + share. The heavy-tail companion to q_zscore_outlier /
    * q_mad_outlier; the fence arithmetic is the same IEEE expression on
    * both engines over identical interpolated quantiles.
    */
  private val iqrOutlier = Q(
    "q_iqr_outlier",
    (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
      val bounds = Ranks
        .exactPercentiles(li, "l_returnflag", "l_extendedprice", Seq(0.25, 0.75))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("p") === 0.25, col("v"))).as("q1"),
          min(when(col("p") === 0.75, col("v"))).as("q3"))
        .select(col("l_returnflag"),
          (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
          (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
      li.join(broadcast(bounds), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          pround(min(col("lo")), 2).as("fence_lo"),
          pround(min(col("hi")), 2).as("fence_hi"),
          count_if(col("l_extendedprice") < col("lo") ||
            col("l_extendedprice") > col("hi")).cast("bigint").as("n_outliers"))
        .withColumn("outlier_share",
          pround(col("n_outliers").cast("double") / col("n").cast("double"), 4))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH q AS (SELECT l_returnflag,
                  quantile_cont(l_extendedprice, 0.25) AS q1,
                  quantile_cont(l_extendedprice, 0.75) AS q3
                FROM lineitem GROUP BY l_returnflag),
            b AS (SELECT l_returnflag, q1 - 1.5 * (q3 - q1) AS lo,
                    q3 + 1.5 * (q3 - q1) AS hi
                  FROM q)
            SELECT li.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
              FLOOR(MIN(lo) * 100 + 0.5) / 100 AS fence_lo,
              FLOOR(MIN(hi) * 100 + 0.5) / 100 AS fence_hi,
              CAST(COUNT(*) FILTER (WHERE l_extendedprice < lo
                OR l_extendedprice > hi) AS BIGINT) AS n_outliers,
              FLOOR((CAST(COUNT(*) FILTER (WHERE l_extendedprice < lo
                  OR l_extendedprice > hi) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                * 10000 + 0.5) / 10000 AS outlier_share
            FROM lineitem li JOIN b USING (l_returnflag)
            GROUP BY li.l_returnflag ORDER BY li.l_returnflag"""))

  /** Benford first-digit audit of order totals — the classic fabricated-
    * data screen. The first significant digit comes from the decimal
    * rendering of exact integer cents (substring of an integer string is
    * portable; FLOOR(log10(x)) on a float is not), so the whole query is
    * one hash aggregate into a 9-row grid crossed with the expected
    * log10(1+1/d) shares.
    */
  private val benford = Q(
    "q_benford",
    (spark, dir) => {
      val g = Tables(spark, dir, "orders")
        .select(substring(floor(col("o_totalprice") * 100 + 0.5)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).cast("bigint").as("n"))
      val tot = broadcast(g.agg(sum(col("n")).cast("bigint").as("tot")))
      g.crossJoin(tot)
        .select(col("digit"), col("n"),
          pround(col("n").cast("double") / col("tot").cast("double"), 4).as("share"),
          pround(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 4)
            .as("expected"),
          pround(col("n").cast("double") / col("tot").cast("double") -
            log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 4).as("dev"))
        .orderBy(col("digit"))
    },
    Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                     AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
                   FROM orders),
            g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
            t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
            SELECT digit, n,
              FLOOR((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) * 10000 + 0.5) / 10000 AS share,
              FLOOR(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 10000 + 0.5) / 10000 AS expected,
              FLOOR((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
                  - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) * 10000 + 0.5) / 10000 AS dev
            FROM g CROSS JOIN t ORDER BY digit"""))

  /** CUSUM drift detection over the daily revenue series: the top-5 days
    * by |cumulative deviation from the long-run daily mean|. The
    * deviation is kept integral by scaling — dev_i = cents_i·D − total —
    * and the running sum comes from the distributed prefix-sum primitive,
    * so the detector works at any date-domain size without an
    * unpartitioned window. Reported drift is scaled back to dollars only
    * at the end.
    */
  private val cusum = Q(
    "q_cusum",
    (spark, dir) => {
      val daily = Tables(spark, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("bigint").as("cents"))
      val tot = broadcast(daily.agg(
        sum(col("cents")).cast("bigint").as("tot"),
        count(lit(1)).cast("bigint").as("d")))
      val dev = daily.crossJoin(tot)
        .select(col("day"), col("d"),
          (col("cents") * col("d") - col("tot")).cast("long").as("dev"))
      Prefix.withRunningTotals(dev, Seq(col("day")), Seq("dev"))
        .select(col("day").cast("string").as("day"),
          pround(col("dev_cum").cast("double") / col("d").cast("double") / 100.0, 2)
            .as("drift_usd"))
        .orderBy(abs(col("drift_usd")).desc, col("day"))
        .limit(5)
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY 1),
            t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot,
                    CAST(COUNT(*) AS BIGINT) AS d FROM daily),
            dv AS (SELECT day, d, CAST(cents * d - tot AS BIGINT) AS dev
                   FROM daily CROSS JOIN t),
            c AS (SELECT day, d, CAST(SUM(dev) OVER (ORDER BY day) AS BIGINT) AS dev_cum
                  FROM dv)
            SELECT CAST(day AS VARCHAR) AS day,
              FLOOR((CAST(dev_cum AS DOUBLE) / CAST(d AS DOUBLE) / 100.0)
                * 100 + 0.5) / 100 AS drift_usd
            FROM c ORDER BY ABS(FLOOR((CAST(dev_cum AS DOUBLE) / CAST(d AS DOUBLE)
              / 100.0) * 100 + 0.5) / 100) DESC, day LIMIT 5"""))

  /** Engagement stickiness per ISO week: distinct weekly actives, summed
    * daily actives, and the DAU/WAU ratio. Two distinct-count hash
    * aggregates keyed on (period, user) — unbounded parallelism — into a
    * week-bounded grid.
    */
  private val dauStickiness = Q(
    "q_dau_stickiness",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).cast("bigint").as("dau"))
      val weekly = ev.groupBy(to_date(date_trunc("week", col("day"))).as("week"))
        .agg(countDistinct(col("user_id")).cast("bigint").as("wau"))
      daily.groupBy(to_date(date_trunc("week", col("day"))).as("week"))
        .agg(count(lit(1)).cast("bigint").as("n_days"),
          sum(col("dau")).cast("bigint").as("sum_dau"))
        .join(weekly, "week")
        .select(col("week").cast("string").as("week"),
          col("n_days"), col("sum_dau"), col("wau"),
          pround(col("sum_dau").cast("double") /
            (col("n_days").cast("double") * col("wau").cast("double")), 4)
            .as("stickiness"))
        .orderBy(col("week"))
    },
    Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
            daily AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
                      FROM ev GROUP BY day),
            weekly AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week,
                         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
                       FROM ev GROUP BY 1),
            dw AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week,
                     CAST(COUNT(*) AS BIGINT) AS n_days,
                     CAST(SUM(dau) AS BIGINT) AS sum_dau
                   FROM daily GROUP BY 1)
            SELECT CAST(week AS VARCHAR) AS week, n_days, sum_dau, wau,
              FLOOR((CAST(sum_dau AS DOUBLE)
                  / (CAST(n_days AS DOUBLE) * CAST(wau AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS stickiness
            FROM dw JOIN weekly USING (week) ORDER BY week"""))

  /** Train/test split-leakage audit: after the q_train_test_split hash
    * split (md5-threshold, 90/10), how many test documents share a
    * canonicalized content key (the q_dedup_canonical chain) with any
    * train document — the dedup-before-split check every corpus pipeline
    * ships. One semi-join keyed on the content hash; scales as exact
    * dedup does.
    */
  private val splitLeakage = Q(
    "q_split_leakage",
    (spark, dir) => {
      // cached: the keyed relation feeds the counts aggregate and both
      // sides of the semi-join; released by the harness post-query
      val d = Caches.persisted(Tables(spark, dir, "documents")
        .select(
          md5(trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
            .as("k"),
          (pmod(hash60(concat(lit("split"), col("doc_id").cast("string"))),
            lit(100L)) < 90).as("train")))
      val leaked = d.filter(!col("train"))
        .join(d.filter(col("train")).select(col("k")).distinct(), Seq("k"), "left_semi")
        .agg(count(lit(1)).cast("bigint").as("n_leaked"))
      d.agg(count_if(col("train")).cast("bigint").as("n_train"),
          count_if(!col("train")).cast("bigint").as("n_test"))
        .crossJoin(broadcast(leaked))
        .select(col("n_train"), col("n_test"), col("n_leaked"),
          // empty-test-split guard: the q_minhash_recall NULL rule
          when(col("n_test") === 0, lit(null).cast("double"))
            .otherwise(pround(col("n_leaked").cast("double") / col("n_test").cast("double"), 4))
            .as("leak_rate"))
    },
    Some("""WITH d AS (SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS k,
                     CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 100 < 90 AS train
                   FROM documents),
            tr AS (SELECT DISTINCT k FROM d WHERE train),
            lk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked
                   FROM d WHERE NOT train AND k IN (SELECT k FROM tr)),
            c AS (SELECT CAST(COUNT(*) FILTER (WHERE train) AS BIGINT) AS n_train,
                    CAST(COUNT(*) FILTER (WHERE NOT train) AS BIGINT) AS n_test
                  FROM d)
            SELECT n_train, n_test, n_leaked,
              CASE WHEN n_test = 0 THEN NULL
                   ELSE FLOOR((CAST(n_leaked AS DOUBLE) / CAST(n_test AS DOUBLE))
                     * 10000 + 0.5) / 10000 END AS leak_rate
            FROM c CROSS JOIN lk"""))

  /** Cramér's V association strength between event type and 6-hour
    * time-of-day bucket — "is engagement seasonal by action?" as one
    * effect-size number. Same full-grid (zero cells included) chi-square
    * shape as q_chi2 over bounded marginal relations, then
    * V = sqrt(χ² / (n·min(r−1, c−1))). Each chi-square cell term is
    * floored to integer picounits (⌊term·10¹²⌋) before summing — double
    * sums are partial-aggregation-order-dependent in Spark and scan-order
    * -dependent in DuckDB, integer sums are not — and the bounded grid
    * makes the ≤1e-12-per-cell precision cost negligible (the q_js_divergence
    * funnel).
    */
  private val cramersV = Q(
    "q_cramers_v",
    (spark, dir) => {
      StatsTests.contingencyCells(Tables.events(spark, dir)
          .groupBy(col("event_type").as("s"), expr("hour(ts) div 6").as("p"))
          .agg(count(lit(1)).as("o")))
        .agg(
          max(col("t")).as("n"),
          countDistinct(col("s")).cast("bigint").as("rdim"),
          countDistinct(col("p")).cast("bigint").as("cdim"),
          // floor in decimal space: Spark's floor(double) lands in LongType,
          // which wraps once a cell term passes ~9.2e6 (terms scale with n,
          // unlike the ≤1-bounded q_js_divergence probabilities). Casting the
          // double to decimal(38,6) first keeps the funnel exact to ~1e26
          // picounits, mirroring the oracle's HUGEINT path.
          (sum(floor(((col("o").cast("double") - col("e")) *
            (col("o").cast("double") - col("e")) / col("e") * 1e12)
            .cast("decimal(38,6)"))).cast("double") / 1e12).as("x2"))
        .select(col("n"), col("rdim").cast("int").as("r"), col("cdim").cast("int").as("c"),
          pround(col("x2"), 4).as("chi2"),
          pround(sqrt(col("x2") / (col("n").cast("double") *
            least(col("rdim") - 1, col("cdim") - 1).cast("double"))), 4).as("v"))
    },
    Some("""WITH obs AS (SELECT event_type AS s, hour(ts) // 6 AS p,
                     CAST(COUNT(*) AS BIGINT) AS o
                   FROM events GROUP BY 1, 2),
            rt AS (SELECT s, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY s),
            ct AS (SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY p),
            tot AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM obs),
            grid AS (SELECT rt.s, ct.p, COALESCE(obs.o, 0) AS o,
                       CAST(rt.r * ct.c AS DOUBLE) / CAST(tot.t AS DOUBLE) AS e,
                       tot.t AS t
                     FROM rt CROSS JOIN ct CROSS JOIN tot
                     LEFT JOIN obs ON obs.s = rt.s AND obs.p = ct.p),
            s AS (SELECT MAX(t) AS n,
                    CAST(COUNT(DISTINCT s) AS BIGINT) AS rdim,
                    CAST(COUNT(DISTINCT p) AS BIGINT) AS cdim,
                    CAST(SUM(CAST(FLOOR(CAST((CAST(o AS DOUBLE) - e)
                        * (CAST(o AS DOUBLE) - e) / e * 1e12 AS DECIMAL(38,6))) AS HUGEINT))
                      AS DOUBLE) / 1e12 AS x2
                  FROM grid)
            SELECT n, CAST(rdim AS INT) AS r, CAST(cdim AS INT) AS c,
              FLOOR(x2 * 10000 + 0.5) / 10000 AS chi2,
              FLOOR(sqrt(x2 / (CAST(n AS DOUBLE)
                  * CAST(LEAST(rdim - 1, cdim - 1) AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS v
            FROM s"""))

  /** Herfindahl-Hirschman market-concentration index over supplier
    * revenue shares (0–10000 scale), plus the top single share — the
    * concentration companion to q_gini / q_pareto_share. Revenue funnels
    * through exact integer cents; the share-square sum accumulates as
    * decimal(38,0) (HUGEINT in the oracle) so the statistic never
    * overflows regardless of supplier count or revenue magnitude.
    */
  private val hhi = Q(
    "q_hhi",
    (spark, dir) => {
      val s = Tables(spark, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .cast("bigint").as("cents"))
      s.agg(
          count(lit(1)).cast("bigint").as("n_suppliers"),
          sum(col("cents")).cast("bigint").as("tot"),
          sum((col("cents").cast("decimal(38,0)") * col("cents"))).as("ssq"),
          max(col("cents")).cast("bigint").as("top_cents"))
        .select(col("n_suppliers"),
          pround(col("ssq").cast("double") /
            (col("tot").cast("double") * col("tot").cast("double")) * 10000.0, 4)
            .as("hhi"),
          pround(col("top_cents").cast("double") / col("tot").cast("double"), 4)
            .as("top_share"))
    },
    Some("""WITH s AS (SELECT l_suppkey,
                  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                FROM lineitem GROUP BY l_suppkey),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                    CAST(SUM(cents) AS BIGINT) AS tot,
                    SUM(CAST(cents AS HUGEINT) * cents) AS ssq,
                    CAST(MAX(cents) AS BIGINT) AS top_cents
                  FROM s)
            SELECT n_suppliers,
              FLOOR((CAST(ssq AS DOUBLE)
                  / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) * 10000.0)
                * 10000 + 0.5) / 10000 AS hhi,
              FLOOR((CAST(top_cents AS DOUBLE) / CAST(tot AS DOUBLE))
                * 10000 + 0.5) / 10000 AS top_share
            FROM t"""))

  /** Jensen-Shannon divergence of each source's token distribution from
    * the corpus distribution — the training-mix drift audit ("which
    * source reads least like the corpus"). Distributions are restricted
    * to the top-500 global tokens plus an OTHER bucket, so they are
    * complete (probabilities sum to 1) and every per-source summation is
    * 501-bounded. Each JSD term is floored to integer picounats
    * (⌊term·10¹²⌋) before summing: float sums are order-dependent across
    * engines, integer sums are not. The per-term float math computes
    * from exact integer counts in the same operation order, but log2 is
    * not a correctly-rounded IEEE operation (JVM Math.log vs DuckDB
    * libm may differ by ulps), so a term sitting exactly on a picounat
    * boundary can floor differently across engines — the funnel bounds
    * that disagreement to ≤501·10⁻¹² total, which pround(·, 4) absorbs
    * with ~8 orders of magnitude to spare. The
    * vocabulary head is TakeOrdered-bounded and broadcast; token
    * counting is one hash aggregate per keying.
    */
  private val jsDivergence = Q(
    "q_js_divergence",
    (spark, dir) => {
      val tok = Tables(spark, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .filter(col("t") =!= "")
      // cached: global totals, the vocab head and the OTHER remainder all
      // reuse the per-token aggregate; released by the harness post-query
      val global = Caches.persisted(
        tok.groupBy(col("t")).agg(count(lit(1)).as("g")))
      val bigN = broadcast(global.agg(sum(col("g")).cast("bigint").as("n")))
      val vocab = global.orderBy(col("g").desc, col("t")).limit(500)
      // OTHER bucket global mass = N − Σ vocab g
      val vocabG = broadcast(vocab.agg(sum(col("g")).cast("bigint").as("vg")))
      val srcCounts = tok.join(broadcast(vocab.select(col("t"))), Seq("t"), "left_semi")
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      val srcTotals = tok.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("ns"))
      val srcVocabMass = srcCounts.groupBy(col("source"))
        .agg(sum(col("c")).cast("bigint").as("vs"))
      // full (source × vocab∪OTHER) grid with zero cells
      val grid = srcTotals.crossJoin(broadcast(vocab))
        .join(srcCounts, Seq("source", "t"), "left")
        .select(col("source"), col("ns"),
          coalesce(col("c"), lit(0L)).as("c"), col("g"))
        .unionAll(srcTotals
          .join(srcVocabMass, Seq("source"), "left")
          .crossJoin(vocabG).crossJoin(bigN)
          .select(col("source"), col("ns"),
            (col("ns") - coalesce(col("vs"), lit(0L))).as("c"),
            (col("n") - col("vg")).as("g")))
      grid.crossJoin(bigN)
        .select(col("source"), col("ns"),
          (col("c").cast("double") / col("ns").cast("double")).as("p"),
          (col("g").cast("double") / col("n").cast("double")).as("q"))
        .select(col("source"), col("ns"), col("p"), col("q"),
          ((col("p") + col("q")) / 2.0).as("m"))
        .select(col("source"), col("ns"),
          floor((when(col("p") > 0.0, col("p") * log2(col("p") / col("m")))
            .otherwise(lit(0.0)) * 0.5 +
            when(col("q") > 0.0, col("q") * log2(col("q") / col("m")))
              .otherwise(lit(0.0)) * 0.5) * 1e12).cast("long").as("i"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          pround(sum(col("i")).cast("double") / 1e12, 4).as("jsd"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (SELECT source, t
                   FROM (SELECT source, UNNEST(string_split(text, ' ')) AS t
                         FROM documents)
                   WHERE t <> ''),
            global AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS g FROM tok GROUP BY t),
            bign AS (SELECT CAST(SUM(g) AS BIGINT) AS n FROM global),
            vocab AS (SELECT t, g FROM global ORDER BY g DESC, t LIMIT 500),
            vocabg AS (SELECT CAST(SUM(g) AS BIGINT) AS vg FROM vocab),
            sc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
                   FROM tok WHERE t IN (SELECT t FROM vocab)
                   GROUP BY source, t),
            st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM tok GROUP BY source),
            sv AS (SELECT source, CAST(SUM(c) AS BIGINT) AS vs FROM sc GROUP BY source),
            grid AS (SELECT st.source, st.ns, COALESCE(sc.c, 0) AS c, v.g
                     FROM st CROSS JOIN vocab v
                     LEFT JOIN sc ON sc.source = st.source AND sc.t = v.t
                     UNION ALL
                     SELECT st.source, st.ns, st.ns - COALESCE(sv.vs, 0) AS c,
                       bign.n - vocabg.vg AS g
                     FROM st LEFT JOIN sv ON sv.source = st.source
                     CROSS JOIN vocabg CROSS JOIN bign),
            pq AS (SELECT source, ns,
                     CAST(c AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
                     CAST(g AS DOUBLE) / CAST(n AS DOUBLE) AS q
                   FROM grid CROSS JOIN bign),
            terms AS (SELECT source, ns,
                        CAST(FLOOR((CASE WHEN p > 0.0 THEN p * log2(p / ((p + q) / 2.0))
                               ELSE 0.0 END * 0.5
                             + CASE WHEN q > 0.0 THEN q * log2(q / ((p + q) / 2.0))
                               ELSE 0.0 END * 0.5) * 1e12) AS BIGINT) AS i
                      FROM pq)
            SELECT source, MAX(ns) AS n_tokens,
              FLOOR((CAST(SUM(i) AS DOUBLE) / 1e12) * 10000 + 0.5) / 10000 AS jsd
            FROM terms GROUP BY source ORDER BY source"""))

  /** Referential-integrity audit — the foreign-key orphan census every
    * warehouse ingestion gate runs before anything downstream is
    * trusted: for each FK edge of the schema (orders→customer,
    * lineitem→orders, lineitem→part, lineitem→supplier), total rows,
    * rows whose key has no parent, and the orphan rate. Healthy
    * pipelines report four zero rows; the query exists for the day they
    * don't.
    *
    * Scale posture: four LEFT-ANTI joins keyed on the FK (each the
    * standard broadcast-or-shuffle key join — the parent key side is
    * dim-sized for 3 of 4 edges), each reduced to one count before the
    * 4-row union. Nothing wide, nothing collected.
    */
  private val fkOrphans = Q(
    "q_fk_orphans",
    (spark, dir) => {
      def edge(name: String, child: org.apache.spark.sql.DataFrame, fk: String,
          parent: org.apache.spark.sql.DataFrame, pk: String) = {
        val total = child.agg(count(lit(1)).cast("bigint").as("n_rows"))
        val orph = child.join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).cast("bigint").as("n_orphans"))
        total.crossJoin(broadcast(orph))
          .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"),
            when(col("n_rows") === 0, lit(null).cast("double"))
              .otherwise(pround(col("n_orphans").cast("double") /
                col("n_rows").cast("double"), 4)).as("orphan_rate"))
      }
      val o = Tables(spark, dir, "orders")
      val l = Tables(spark, dir, "lineitem")
      Seq(
        edge("orders->customer", o, "o_custkey",
          Tables(spark, dir, "customer"), "c_custkey"),
        edge("lineitem->orders", l, "l_orderkey", o, "o_orderkey"),
        edge("lineitem->part", l, "l_partkey",
          Tables(spark, dir, "part"), "p_partkey"),
        edge("lineitem->supplier", l, "l_suppkey",
          Tables(spark, dir, "supplier"), "s_suppkey"))
        .reduce(_ unionAll _)
        .orderBy(col("fk_edge"))
    },
    Some("""WITH e1 AS (SELECT 'orders->customer' AS fk_edge,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                      WHERE NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey)) AS n_orphans),
            e2 AS (SELECT 'lineitem->orders',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                      WHERE NOT EXISTS (SELECT 1 FROM orders oo
                                        WHERE oo.o_orderkey = l.l_orderkey))),
            e3 AS (SELECT 'lineitem->part',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                      WHERE NOT EXISTS (SELECT 1 FROM part p
                                        WHERE p.p_partkey = l.l_partkey))),
            e4 AS (SELECT 'lineitem->supplier',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                      WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                        WHERE s.s_suppkey = l.l_suppkey))),
            u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
                  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
            SELECT fk_edge, n_rows, n_orphans,
              CASE WHEN n_rows = 0 THEN NULL
                   ELSE FLOOR((CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE))
                     * 10000 + 0.5) / 10000 END AS orphan_rate
            FROM u ORDER BY fk_edge"""))

  /** Per-column data profiling — the ANALYZE / stats-collection pass every
    * warehouse runs before query planning and every pipeline runs on a
    * new data drop: for each numeric lineitem measure, the row count,
    * null count, EXACT distinct cardinality, and min/max. One stacked
    * relation (5 narrow (col_name, v) streams off a single scan) feeding
    * one hash aggregate — the profile of a 100 TB table is one
    * partial+final pass per column group, never five separate scans.
    * min/max are raw parquet doubles (no arithmetic → no rounding rule
    * needed); counts are exact integers. The distinct count is exact
    * (count(distinct) expand) — the sketch twin is q_approx_distinct.
    */
  private val columnProfile = Q(
    "q_column_profile",
    (spark, dir) => {
      Tables(spark, dir, "lineitem")
        .select(expr("""stack(5,
            'l_partkey', cast(l_partkey as double),
            'l_quantity', l_quantity,
            'l_extendedprice', l_extendedprice,
            'l_discount', l_discount,
            'l_tax', l_tax) as (col_name, v)"""))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          (count(lit(1)) - count(col("v"))).cast("bigint").as("n_null"),
          countDistinct(col("v")).cast("bigint").as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("col_name"))
    },
    Some("""WITH s AS (
              SELECT 'l_partkey' AS col_name, CAST(l_partkey AS DOUBLE) AS v FROM lineitem
              UNION ALL SELECT 'l_quantity', l_quantity FROM lineitem
              UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL SELECT 'l_discount', l_discount FROM lineitem
              UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
            SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
              CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
              MIN(v) AS min_v, MAX(v) AS max_v
            FROM s GROUP BY 1 ORDER BY 1"""))

  /** Profile DRIFT between two data vintages — the monitoring pass every
    * pipeline runs on a new data drop before it joins the corpus (the
    * two-snapshot companion of q_column_profile's single-snapshot ANALYZE;
    * q_js_divergence is the distribution-shape cousin): orders splits
    * into old/new halves at the midpoint of its date range (exact integer
    * day arithmetic — old iff 2·(d − dmin) ≤ dmax − dmin), each half is
    * profiled per column (rows, nulls, exact distincts) off ONE stacked
    * scan, and the halves pivot side by side with integer drift deltas —
    * distinct-count delta and null-rate delta in exact ppm
    * (n_null·10⁶ div n_rows, integer division on both engines).
    *
    * Scale posture (100 TB): the date span is a 1-row broadcast; the
    * stacked (vintage, col_name, v) relation is one scan feeding one
    * partial+final hash aggregate; the old/new pivot groups the
    * column-count-sized profile relation. Nothing wide ever shuffles.
    */
  private val schemaDrift = Q(
    "q_schema_drift",
    (spark, dir) => {
      val o = Tables(spark, dir, "orders")
      val span = broadcast(o.agg(min(col("o_orderdate")).as("dmin"),
        max(col("o_orderdate")).as("dmax")))
      val stacked = o.crossJoin(span)
        .select(
          when(datediff(col("o_orderdate"), col("dmin")) * 2 <=
            datediff(col("dmax"), col("dmin")), lit("old")).otherwise(lit("new"))
            .as("vintage"),
          expr("""stack(4,
              'o_custkey', cast(o_custkey as string),
              'o_orderpriority', o_orderpriority,
              'o_orderstatus', o_orderstatus,
              'o_totalprice_cents',
                cast(cast(floor(o_totalprice * 100 + 0.5) as bigint) as string)
            ) as (col_name, v)"""))
      val prof = stacked.groupBy(col("col_name"), col("vintage"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          countDistinct(col("v")).as("n_distinct"))
      prof.groupBy(col("col_name"))
        .agg(
          coalesce(max(when(col("vintage") === "old", col("n_rows"))), lit(0L))
            .cast("bigint").as("old_rows"),
          coalesce(max(when(col("vintage") === "new", col("n_rows"))), lit(0L))
            .cast("bigint").as("new_rows"),
          coalesce(max(when(col("vintage") === "old", col("n_distinct"))), lit(0L))
            .cast("bigint").as("old_distinct"),
          coalesce(max(when(col("vintage") === "new", col("n_distinct"))), lit(0L))
            .cast("bigint").as("new_distinct"),
          coalesce(max(when(col("vintage") === "old",
            expr("n_null * 1000000 div n_rows"))), lit(0L))
            .cast("bigint").as("old_null_ppm"),
          coalesce(max(when(col("vintage") === "new",
            expr("n_null * 1000000 div n_rows"))), lit(0L))
            .cast("bigint").as("new_null_ppm"))
        .withColumn("distinct_delta",
          (col("new_distinct") - col("old_distinct")).cast("bigint"))
        .withColumn("null_ppm_delta",
          (col("new_null_ppm") - col("old_null_ppm")).cast("bigint"))
        .orderBy(col("col_name"))
    },
    Some("""WITH span AS (SELECT MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
                          FROM orders),
            s AS (SELECT CASE WHEN (CAST(o.o_orderdate AS DATE) - CAST(span.dmin AS DATE)) * 2 <=
                                   (CAST(span.dmax AS DATE) - CAST(span.dmin AS DATE))
                              THEN 'old' ELSE 'new' END AS vintage,
                         u.col_name, u.v
                  FROM orders o, span,
                  LATERAL (
                    SELECT 'o_custkey' AS col_name, CAST(o.o_custkey AS VARCHAR) AS v
                    UNION ALL SELECT 'o_orderpriority', o.o_orderpriority
                    UNION ALL SELECT 'o_orderstatus', o.o_orderstatus
                    UNION ALL SELECT 'o_totalprice_cents',
                      CAST(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
                  ) u),
            prof AS (SELECT col_name, vintage, COUNT(*) AS n_rows,
                       COUNT(*) - COUNT(v) AS n_null,
                       COUNT(DISTINCT v) AS n_distinct
                     FROM s GROUP BY col_name, vintage),
            piv AS (SELECT col_name,
                      CAST(COALESCE(MAX(CASE WHEN vintage = 'old' THEN n_rows END), 0) AS BIGINT) AS old_rows,
                      CAST(COALESCE(MAX(CASE WHEN vintage = 'new' THEN n_rows END), 0) AS BIGINT) AS new_rows,
                      CAST(COALESCE(MAX(CASE WHEN vintage = 'old' THEN n_distinct END), 0) AS BIGINT) AS old_distinct,
                      CAST(COALESCE(MAX(CASE WHEN vintage = 'new' THEN n_distinct END), 0) AS BIGINT) AS new_distinct,
                      CAST(COALESCE(MAX(CASE WHEN vintage = 'old' THEN n_null * 1000000 // n_rows END), 0) AS BIGINT) AS old_null_ppm,
                      CAST(COALESCE(MAX(CASE WHEN vintage = 'new' THEN n_null * 1000000 // n_rows END), 0) AS BIGINT) AS new_null_ppm
                    FROM prof GROUP BY col_name)
            SELECT col_name, old_rows, new_rows, old_distinct, new_distinct,
              old_null_ppm, new_null_ppm,
              CAST(new_distinct - old_distinct AS BIGINT) AS distinct_delta,
              CAST(new_null_ppm - old_null_ppm AS BIGINT) AS null_ppm_delta
            FROM piv ORDER BY col_name"""))

  /** Join-key SKEW audit — the diagnostic every pipeline runs BEFORE
    * choosing a join strategy (the decision input for q_salted_join's
    * salting, AQE's skew-join split thresholds, and broadcast cutoffs):
    * for each lineitem join key, the per-key row distribution summarized
    * as exact integers — total rows, distinct keys, the heaviest key's
    * rows and its corpus share in ppm (max·10⁶ div rows), plus the skew
    * factor max/mean as pround(max·keys/rows, 4): 1.0 = perfectly
    * uniform, and anything past the AQE default ~5× marks keys that
    * will straggle a shuffle join. One stacked scan (3 narrow (key_name,
    * k) streams) into a two-level aggregate — the q_column_profile shape.
    *
    * Scale posture (100 TB): level 1 is a hash-partitioned per-key count
    * (map-side combined), level 2 a 3-group rollup; nothing else moves.
    */
  private val skewAudit = Q(
    "q_skew_audit",
    (spark, dir) => {
      val perKey = Tables(spark, dir, "lineitem")
        .select(expr("""stack(3,
            'l_orderkey', l_orderkey,
            'l_partkey', l_partkey,
            'l_suppkey', l_suppkey) as (key_name, k)"""))
        .groupBy(col("key_name"), col("k"))
        .agg(count(lit(1)).as("c"))
      perKey.groupBy(col("key_name"))
        .agg(sum(col("c")).cast("bigint").as("n_rows"),
          count(lit(1)).cast("bigint").as("n_keys"),
          max(col("c")).cast("bigint").as("max_key_rows"))
        .select(col("key_name"), col("n_rows"), col("n_keys"), col("max_key_rows"),
          expr("max_key_rows * 1000000 div n_rows").cast("bigint").as("top1_ppm"),
          pround(col("max_key_rows").cast("double") * col("n_keys").cast("double") /
            col("n_rows").cast("double"), 4).as("skew_factor"))
        .orderBy(col("key_name"))
    },
    Some("""WITH s AS (
              SELECT 'l_orderkey' AS key_name, l_orderkey AS k FROM lineitem
              UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
              UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
            pk AS (SELECT key_name, k, COUNT(*) AS c FROM s GROUP BY key_name, k),
            agg AS (SELECT key_name, SUM(c) AS n_rows, COUNT(*) AS n_keys,
                      MAX(c) AS max_key_rows
                    FROM pk GROUP BY key_name)
            SELECT key_name, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(n_keys AS BIGINT) AS n_keys,
              CAST(max_key_rows AS BIGINT) AS max_key_rows,
              CAST(max_key_rows * 1000000 // n_rows AS BIGINT) AS top1_ppm,
              FLOOR((CAST(max_key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE) /
                CAST(n_rows AS DOUBLE)) * 10000 + 0.5) / 10000 AS skew_factor
            FROM agg ORDER BY key_name"""))

  /** k-ANONYMITY audit (Sweeney, IJUFKS'02) — the re-identification-risk
    * census every governance review runs before a table feeds training
    * data: rows are grouped by their quasi-identifier tuple
    * (c_nationkey, c_mktsegment — the attributes an adversary can link
    * externally) and each equivalence class of size k is binned into the
    * standard risk tiers (k=1 unique → directly re-identifiable, 2–4
    * weak, 5–9 moderate, 10+ the conventional release threshold).
    * Reported per tier: classes, rows, and the rows' share of the table
    * in exact ppm — the "what fraction of this table is below k=5"
    * number that decides suppression/generalization.
    *
    * Scale posture (100 TB): one hash-partitioned QI groupBy (map-side
    * combined) then a 4-group rollup with a 1-row broadcast total —
    * the q_skew_audit shape pointed at privacy instead of shuffles.
    */
  private val kanonAudit = Q(
    "q_kanon_audit",
    (spark, dir) => {
      val classes = Tables(spark, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("k"))
      val tiers = classes.select(
        when(col("k") === 1, lit("1_unique"))
          .when(col("k") <= 4, lit("2_weak_2_4"))
          .when(col("k") <= 9, lit("3_moderate_5_9"))
          .otherwise(lit("4_anonymous_10plus")).as("tier"),
        col("k"))
      val total = broadcast(Tables(spark, dir, "customer")
        .agg(count(lit(1)).as("n_total")))
      tiers.groupBy(col("tier"))
        .agg(count(lit(1)).cast("bigint").as("n_classes"),
          sum(col("k")).cast("bigint").as("n_rows"))
        .crossJoin(total)
        .select(col("tier"), col("n_classes"), col("n_rows"),
          expr("n_rows * 1000000 div n_total").cast("bigint").as("rows_ppm"))
        .orderBy(col("tier"))
    },
    Some("""WITH classes AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS k
                             FROM customer GROUP BY c_nationkey, c_mktsegment),
            tiers AS (SELECT CASE WHEN k = 1 THEN '1_unique'
                                  WHEN k <= 4 THEN '2_weak_2_4'
                                  WHEN k <= 9 THEN '3_moderate_5_9'
                                  ELSE '4_anonymous_10plus' END AS tier, k
                      FROM classes),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM customer)
            SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_classes,
              CAST(SUM(k) AS BIGINT) AS n_rows,
              CAST(SUM(k) * 1000000 // n_total AS BIGINT) AS rows_ppm
            FROM tiers CROSS JOIN tot
            GROUP BY tier, n_total ORDER BY tier"""))

  /** Mutual information between source and language — the data-mix
    * dependence audit (how much does knowing the source tell you about
    * the language?): H(lang), H(lang|source) and I(source; lang) =
    * H(lang) − H(lang|source) in bits, from the exact (source, lang)
    * contingency counts. I = 0 means sources share one language profile
    * (stratifying by source buys nothing); I → H(lang) means language is
    * a function of source (sampling by source IS sampling by language —
    * q_mixture_allocation must then treat them as one axis). The cousin
    * of q_cramers_v (effect size) and q_js_divergence (pairwise shape
    * distance), in information units. Entropy terms follow the
    * q_char_entropy float-log2 idiom: H(lang) = log2(N) − Σn_l·log2(n_l)/N,
    * H(lang|source) = (Σn_s·log2(n_s) − Σn_sl·log2(n_sl))/N, every sum
    * over the bounded category table, pround 4.
    *
    * Scale posture: ONE hash-partitioned (source, lang) count; the
    * marginals and entropy sums roll up the bounded contingency relation;
    * output is one row.
    */
  private val mutualInfo = Q(
    "q_mutual_info",
    (spark, dir) => {
      val sl = graft.Caches.persisted(
        Tables(spark, dir, "documents")
          .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c")))
      val lgs = sl.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
        .agg(sum(col("nl").cast("double") * log2(col("nl").cast("double"))).as("a"))
      val sgs = sl.groupBy(col("source")).agg(sum(col("c")).as("ns"))
        .agg(sum(col("ns").cast("double") * log2(col("ns").cast("double"))).as("b"))
      val slg = sl.agg(
        sum(col("c").cast("double") * log2(col("c").cast("double"))).as("cc"),
        sum(col("c")).cast("bigint").as("n"))
      slg.crossJoin(broadcast(lgs)).crossJoin(broadcast(sgs))
        .select(col("n"),
          pround(log2(col("n").cast("double")) -
            col("a") / col("n").cast("double"), 4).as("h_lang"),
          pround((col("b") - col("cc")) / col("n").cast("double"), 4)
            .as("h_lang_given_source"),
          pround(log2(col("n").cast("double")) - col("a") / col("n").cast("double") -
            (col("b") - col("cc")) / col("n").cast("double"), 4)
            .as("mutual_info"))
    },
    Some("""WITH sl AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
                        FROM documents GROUP BY source, lang),
            a AS (SELECT SUM(CAST(nl AS DOUBLE) * log2(CAST(nl AS DOUBLE))) AS a
                  FROM (SELECT lang, SUM(c) AS nl FROM sl GROUP BY lang)),
            b AS (SELECT SUM(CAST(ns AS DOUBLE) * log2(CAST(ns AS DOUBLE))) AS b
                  FROM (SELECT source, SUM(c) AS ns FROM sl GROUP BY source)),
            g AS (SELECT SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS cc,
                    CAST(SUM(c) AS BIGINT) AS n FROM sl)
            SELECT n,
              FLOOR((log2(CAST(n AS DOUBLE)) - a / CAST(n AS DOUBLE))
                * 10000 + 0.5) / 10000 AS h_lang,
              FLOOR(((b - cc) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000
                AS h_lang_given_source,
              FLOOR((log2(CAST(n AS DOUBLE)) - a / CAST(n AS DOUBLE)
                - (b - cc) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000
                AS mutual_info
            FROM g CROSS JOIN a CROSS JOIN b"""))

  val all: Seq[Q] = Seq(spearman, iqrOutlier, benford, cusum, dauStickiness,
    splitLeakage, cramersV, hhi, jsDivergence, fkOrphans, columnProfile,
    schemaDrift, skewAudit, kanonAudit, mutualInfo)
}
