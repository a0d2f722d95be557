package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable.pround
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins beyond plain equi-join: as-of (time-series point lookup) and
  * range (band) join — operators the reference paradigm can express only
  * as bespoke reduce-side client code, realized here Spark-first.
  */
object AdvancedJoins {

  /** As-of join: for every purchase event, the latest error event by the
    * same user at-or-before the purchase time.
    *
    * Spark lacks a native as-of join; per the custom-operator preference
    * order (compose built-ins first) this is the union + ordered-window
    * formulation: tag both streams, union them, and carry the last error
    * id forward per user with `last(..., ignoreNulls)` over an ordered
    * frame. One shuffle on user_id, linear in events — the scalable shape
    * (a per-pair join would be quadratic in events-per-user). The oracle
    * is DuckDB's *native* ASOF LEFT JOIN, so the semantics are checked
    * against an independent implementation.
    *
    * Tie caveat: if an error shared a purchase's exact timestamp, the
    * window order (ts, event_id) and ASOF's ts-only comparison could
    * disagree. The generator emits microsecond timestamps with zero
    * (user_id, ts) duplicates (verified across scale factors), so ties
    * cannot occur in this corpus; for tie-bearing data, pin strictly-
    * before semantics on both sides first.
    */
  private val asofJoin = Q(
    "q_asof_join",
    (spark, dir) => {
      val ev = Tables(spark, dir, "events")
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isErr = col("event_type") === "error"
      ev
        .withColumn("matched_error_id",
          last(when(isErr, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("err_ts_us",
          last(when(isErr, unix_micros(col("ts"))), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id").as("purchase_id"),
          col("user_id"),
          col("matched_error_id"),
          (unix_micros(col("ts")) - col("err_ts_us")).as("lag_us"))
        .orderBy(col("purchase_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                       FROM events),
            p AS (SELECT * FROM e WHERE event_type = 'purchase'),
            r AS (SELECT * FROM e WHERE event_type = 'error')
            SELECT p.event_id AS purchase_id, p.user_id,
              r.event_id AS matched_error_id,
              epoch_us(p.ts) - epoch_us(r.ts) AS lag_us
            FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts >= r.ts
            ORDER BY purchase_id"""))

  /** Range (band) join: events banded into value ranges defined off the
    * region dimension (lo = key*100, hi = key*100+100). The band table is
    * broadcast, so the non-equi join is a per-row scan predicate — no
    * shuffle of the fact side at any scale.
    */
  private val rangeJoin = Q(
    "q_range_join",
    (spark, dir) => {
      val ev = Tables(spark, dir, "events")
      val bands = broadcast(Tables(spark, dir, "region")
        .select(col("r_name"),
          (col("r_regionkey") * 100.0).as("lo"),
          (col("r_regionkey") * 100.0 + 100.0).as("hi")))
      ev.join(bands, col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"), pround(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("r_name"))
    },
    Some("""WITH bands AS (SELECT r_name, r_regionkey * 100.0 AS lo,
                             r_regionkey * 100.0 + 100.0 AS hi FROM region)
            SELECT r_name, CAST(COUNT(*) AS BIGINT) AS cnt,
              FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sum_value
            FROM events JOIN bands ON value >= lo AND value < hi
            GROUP BY r_name ORDER BY r_name"""))

  /** Skew-resistant join as a declared capability: the lineitem⋈orders
    * join runs through `Skew.saltedJoin` (partition-derived salt on the
    * large side, small side replicated per salt), then aggregates per
    * order priority. The salt never escapes the join, so the result — and
    * the oracle — are those of the plain inner join; what the query pins
    * is that the salted plan is a drop-in equivalent. Hot-key mitigation
    * for when AQE's runtime skew split isn't enough (SCALE.md).
    */
  private val saltedJoin = Q(
    "q_salted_join",
    (spark, dir) => {
      val lineitem = Tables(spark, dir, "lineitem")
      val orders = Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.functions.Skew.saltedJoin(lineitem, orders, "l_orderkey", 4)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          pround(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
              FLOOR((SUM(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Bloom-filter runtime-filtered join: build a Bloom filter over the
    * qualifying orders' keys (driver-held, ~1 MB — broadcast model state
    * like a k-means centroid table, never data rows), pre-filter lineitem
    * map-side with `mightContain`, then run the exact semi-join on the
    * survivors. Bloom filters admit false positives but never false
    * negatives, so the exact join restores precise semantics and the
    * oracle is the PLAIN semi-join SQL — the query pins that the
    * runtime-filter plan is a drop-in equivalent. At 100 TB this is the
    * shape that keeps a selective dim join from shuffling the fact table:
    * the probe drops non-qualifying rows at the scan, the same idea as
    * Spark's own `spark.sql.optimizer.runtime.bloomFilter` injection
    * (which stays enabled; this declares it as a user-facing capability).
    * The probe is the codegen'd `plans.BloomProbe` expression — a Scala
    * UDF would break whole-stage codegen exactly on the hot scan the
    * filter exists to accelerate.
    */
  private val bloomJoin = Q(
    "q_bloom_join",
    (spark, dir) => {
      val bigOrders = Tables(spark, dir, "orders")
        .filter(col("o_totalprice") > 250000.0)
        .select(col("o_orderkey"))
      // capacity from the actual build-side cardinality (one cheap count
      // on the already-filtered dim): an undersized filter saturates at
      // scale (fpp → 1) and silently degenerates the pre-filter to a
      // pass-through — correct but useless
      val nBuild = bigOrders.count()
      val li = Tables(spark, dir, "lineitem")
      // an EMPTY build side produces a degenerate BloomFilter (null bit
      // array → NPE at probe time); the bloom is purely a pre-filter, so
      // skip it there — the exact semi-join below already returns nothing
      val prefiltered =
        if (nBuild == 0) li
        else li.filter(graft.functions.Probes.bloomProbe(col("l_orderkey"),
          bigOrders.stat.bloomFilter("o_orderkey", math.max(1000L, nBuild), 0.01)))
      prefiltered
        .join(bigOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"), pround(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
              FLOOR((SUM(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 WHERE o_totalprice > 250000.0)
            GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Blocked fuzzy self-join (entity resolution): part names within edit
    * distance 4 of each other, candidate-generated by a blocking key (the
    * name's last token) so the quadratic comparison never runs corpus-wide
    * — the standard record-linkage shape (block → compare → match). The
    * distinct-name relation is vocabulary-bounded, blocks bound the
    * pair fan-out, and levenshtein is integer-exact on both engines.
    * At 100 TB the blocking key is the knob (more selective key → smaller
    * blocks), same as every production linkage pipeline.
    */
  private val fuzzyJoin = Q(
    "q_fuzzy_join",
    (spark, dir) => {
      val names = Tables(spark, dir, "part")
        .select(col("p_name").as("name"),
          substring_index(col("p_name"), " ", -1).as("blk"))
        .distinct()
      names.select(col("name").as("name_a"), col("blk"))
        .join(names.select(col("name").as("name_b"), col("blk")), "blk")
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("int").as("dist"))
        .filter(col("dist") <= 4)
        .orderBy(col("dist"), col("name_a"), col("name_b"))
    },
    Some("""WITH names AS (SELECT DISTINCT p_name AS name,
                  regexp_extract(p_name, '([^ ]+)$', 1) AS blk
                FROM part)
            SELECT a.name AS name_a, b.name AS name_b,
              CAST(levenshtein(a.name, b.name) AS INT) AS dist
            FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 4
            ORDER BY dist, name_a, name_b"""))

  /** Market-basket co-purchase lift: part pairs that co-occur in ≥ 2
    * orders, scored by lift = P(p1,p2) / (P(p1)·P(p2)) as an EXACT
    * parts-per-million integer (c12·N·10⁶ div (c1·c2)) — the classic
    * association-rule mining shape. The pair enumeration self-joins the
    * distinct (order, part) relation on the ORDER key, so fan-out per
    * order is bounded by basket size squared — a business constant, not a
    * scale variable (the same argument as q_triangle_count's per-order
    * pair generation) — and every aggregate shuffles on content keys.
    * The minimum-support prune (≥ 2) runs inside the pair aggregate's
    * HAVING, shrinking the relation before the two count joins.
    * Range note: the lift numerator c12·N·10⁶ is exact in BIGINT up to
    * c12·N ≈ 9.2·10¹² (≈ 3·10⁶ orders at worst-case co-occurrence);
    * BOTH engines overflow loudly past it (neither promotes silently) —
    * at larger N, pre-scale the funnel or move both sides to 128-bit.
    */
  private val marketBasket = Q(
    "q_market_basket",
    (spark, dir) => {
      // cached: the distinct basket relation feeds the pair self-join,
      // the per-part counts and the order total. Pinned on the order key
      // (r17, guide §2.4 shared exchange): both sides of the pair
      // self-join consume hashpartitioning(o) straight from the cache —
      // one upfront exchange instead of one per join side.
      val d = graft.Caches.persisted(
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
          .repartition(col("o")))
      val n = broadcast(d.agg(countDistinct(col("o")).as("n_orders")))
      val c1 = d.groupBy(col("p")).agg(count(lit(1)).as("c"))
      val c12 = d.as("a")
        .join(d.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 2)
      c12
        .join(c1.select(col("p").as("p1"), col("c").as("cx")), "p1")
        .join(c1.select(col("p").as("p2"), col("c").as("cy")), "p2")
        .crossJoin(n)
        .select(col("p1"), col("p2"), col("c12"),
          expr("c12 * n_orders * 1000000 div (cx * cy)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("p1"), col("p2"))
        .limit(20)
    },
    Some("""WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
            n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM d),
            c1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY p),
            c12 AS (SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS c12
                    FROM d a JOIN d b ON a.o = b.o AND a.p < b.p
                    GROUP BY a.p, b.p HAVING COUNT(*) >= 2)
            SELECT p1, p2, c12,
              CAST((c12 * n_orders * 1000000) // (x.c * y.c) AS BIGINT) AS lift_ppm
            FROM c12 JOIN c1 x ON c12.p1 = x.p JOIN c1 y ON c12.p2 = y.p CROSS JOIN n
            ORDER BY lift_ppm DESC, p1, p2 LIMIT 20"""))

  /** Bucketed co-located join — the write-side scale technique the rest
    * of the join family assumes away: both sides PRE-BUCKETED on the join
    * key (8 buckets, sorted within bucket) as external parquet tables, so
    * the join reads bucket i against bucket i with NO shuffle exchange on
    * either side — plan-pinned. At 100 TB this is the difference between
    * re-shuffling the fact table on every join and paying the partition
    * layout ONCE at ingest: every subsequent custkey join (this one,
    * q_tpch_q10/q13/q18/q22's shapes) rides the stored layout for free.
    * The sort-merge hint keeps the demonstration honest at test scale
    * (the dimension side would otherwise broadcast — which is exactly
    * what you'd want in production, but then nothing would prove the
    * bucket layout lines up). Build-time writes follow the graph
    * family's documented build-side-effect convention.
    */
  private val bucketedJoin = Q(
    "q_bucketed_join",
    (spark, dir) => {
      // path + table names carry the Spark applicationId so two
      // concurrent sessions benching the same dir never race on the
      // overwrite; the workspace is removed at JVM exit (the bucket
      // files are a demonstration workspace, not a sink)
      val ws = Stores(spark, dir, "bucketed")
      val ordersT = ws.table("orders_bucketed")
      val custT = ws.table("customer_bucketed")
      Stores.create(Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        ordersT, ws.path("orders_b"), Some("o_custkey"))
      Stores.create(Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        custT, ws.path("customer_b"), Some("c_custkey"))
      spark.table(ordersT)
        .join(spark.table(custT).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5d).cast("long"))
            .cast("bigint").as("revenue_cents"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS revenue_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY 1"""))

  val all: Seq[Q] = Seq(asofJoin, rangeJoin, saltedJoin, bloomJoin, fuzzyJoin,
    marketBasket, bucketedJoin)
}
