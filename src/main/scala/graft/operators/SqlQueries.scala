package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL entry surface: queries issued through `spark.sql` over temp
  * views instead of the DataFrame builder — correlated scalar subqueries,
  * EXISTS/NOT EXISTS, multi-CTE chains with windows, and LATERAL VIEW
  * posexplode (the SQL spelling of the reference's emit-many map, with
  * ordinal position). Catalyst plans both entry paths into the same
  * logical algebra, so these also pin that the SQL front-end decorrelates
  * subqueries into joins rather than per-row re-execution (PlanSpec pins
  * q_lateral_join's decorrelated plan; `graft.tools.ExplainAll` dumps the
  * rest).
  */
object SqlQueries {

  private def view(spark: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))

  private def sql(names: Seq[String], text: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { view(spark, dir, names: _*); spark.sql(text) }

  /** Correlated scalar subquery in SELECT and WHERE (decorrelated by
    * Catalyst into an aggregate + join — no per-row subplan execution).
    */
  private val corrScalar = Q(
    "q_corr_scalar",
    sql(Seq("customer", "orders"),
      """SELECT c_custkey, c_name,
           CAST((SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS BIGINT)
             AS n_orders
         FROM customer c
         WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= 3
         ORDER BY c_custkey"""),
    Some("""SELECT c_custkey, c_name,
              CAST((SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS BIGINT)
                AS n_orders
            FROM customer c
            WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= 3
            ORDER BY c_custkey"""))

  /** Correlated EXISTS / NOT EXISTS combination (semi ⨝ anti in one
    * predicate tree): customers with a finished order but no open one.
    */
  private val existsSql = Q(
    "q_exists_sql",
    sql(Seq("customer", "orders"),
      """SELECT c_custkey, c_mktsegment
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
         ORDER BY c_custkey"""),
    Some("""SELECT c_custkey, c_mktsegment
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
            ORDER BY c_custkey"""))

  /** Multi-CTE chain ending in a ranking window: top-2 nations per region
    * by order count (integer metrics only — no float knife edges).
    */
  private val cteSql = {
    val text =
      """WITH nat_orders AS (
           SELECT n.n_nationkey, n.n_name, n.n_regionkey,
                  CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM customer c
           JOIN orders o ON o.o_custkey = c.c_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey
           GROUP BY n.n_nationkey, n.n_name, n.n_regionkey),
         ranked AS (
           SELECT r.r_name, no.n_name, no.n_orders,
                  CAST(row_number() OVER (PARTITION BY r.r_name
                    ORDER BY no.n_orders DESC, no.n_name) AS INT) AS rk
           FROM nat_orders no JOIN region r ON r.r_regionkey = no.n_regionkey)
         SELECT r_name, n_name, n_orders, rk
         FROM ranked WHERE rk <= 2 ORDER BY r_name, rk"""
    Q("q_cte_sql",
      sql(Seq("customer", "orders", "nation", "region"), text),
      Some(text))
  }

  /** LATERAL VIEW posexplode: tokenization with ordinal positions — the
    * UDTF/emit-many surface in SQL. Positions index the raw split array
    * (0-based), empties filtered after.
    */
  private val posexplodeSql = Q(
    "q_posexplode",
    sql(Seq("documents"),
      """SELECT doc_id, pos, word
         FROM documents
         LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
         WHERE doc_id < 5 AND word <> ''
         ORDER BY doc_id, pos"""),
    Some("""SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS word
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents WHERE doc_id < 5) t,
                 UNNEST(generate_series(1, len(ws))) AS u(i)
            WHERE ws[i] <> '' ORDER BY doc_id, pos"""))

  /** Recursive CTE (Spark 4 WITH RECURSIVE): a 12-row month ladder for
    * 1992 LEFT-JOINed to orders — months with no orders still appear with
    * a zero count, which a plain GROUP BY over orders cannot produce.
    * The same SQL text runs on both engines (casts pin the DATE +
    * INTERVAL and date_trunc result types, which differ by dialect).
    * Scale: the recursion generates a bounded scalar ladder (12 rows,
    * broadcast side of the join); the fact side is one pass.
    */
  private val recursiveSql = {
    val text =
      """WITH RECURSIVE months(m) AS (
           SELECT CAST('1992-01-01' AS DATE)
           UNION ALL
           SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
           WHERE m < CAST('1992-12-01' AS DATE)
         )
         SELECT m AS month_start, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
         FROM months
         LEFT JOIN orders o ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m
         GROUP BY m
         ORDER BY month_start"""
    Q("q_recursive_sql",
      sql(Seq("orders"), text),
      Some(text))
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT: each customer's
    * top-2 orders by price. Catalyst decorrelates the per-row LIMIT into
    * a ranked window join (no per-customer re-execution — PlanSpec pins
    * a single Window + filter, the same plan q_topk_per_group builds by
    * hand), so the lateral spelling costs one shuffle at any scale. The
    * same SQL text runs on both engines. Tiebreak (o_totalprice DESC,
    * o_orderkey) is total, so the 2-row cut is deterministic.
    */
  private val lateralJoin = {
    val text =
      """SELECT c.c_custkey, t.o_orderkey, t.price
         FROM customer c, LATERAL (
           SELECT o_orderkey, FLOOR(o_totalprice * 10000 + 0.5) / 10000 AS price
           FROM orders WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c.c_custkey, t.o_orderkey"""
    Q("q_lateral_join",
      sql(Seq("customer", "orders"), text),
      Some(text))
  }

  /** The engine's native expressions exercised through their SQL surface
    * — the path a SQL-only user of the library takes:
    * `GraftExtensions.register` injects `token_stats` / `cosine_sim`
    * into the session catalog and this query runs them from
    * `spark.sql(...)` text over temp views (plus the NativeTextRewrite
    * optimizer rule riding the same injection). The report: the 10
    * longest documents (by the native token census) that have an
    * embedding, with their cosine to the probe vector — i.e. both
    * custom functions land in one declared, oracle-gated plan rather
    * than only in unit tests.
    *
    * Scale posture: one document scan through the codegen'd native
    * expressions, one key equi-join to embeddings, a broadcast 1-row
    * probe, one TakeOrdered(10) head.
    */
  private val sqlNativeFuncs = Q(
    "q_sql_native_funcs",
    (spark, dir) => {
      // Idempotent re-register for standalone sessions; every engine main
      // (Bench/Verify/TestSpark/tools) now registers at construction, so
      // in-suite this is a no-op and plans are order-independent (ADVICE r9)
      graft.plans.GraftExtensions.register(spark)
      Tables(spark, dir, "documents").createOrReplaceTempView("g_docs")
      Tables(spark, dir, "embeddings").createOrReplaceTempView("g_emb")
      spark.sql("""
        SELECT d.doc_id,
          token_stats(d.text).n_tokens AS n_tokens,
          FLOOR(cosine_sim(e.embedding, p.embedding) * 10000 + 0.5) / 10000
            AS cos_probe
        FROM g_docs d
        JOIN g_emb e ON e.vec_id = d.doc_id
        CROSS JOIN (SELECT embedding FROM g_emb WHERE vec_id = 0) p
        ORDER BY n_tokens DESC, d.doc_id
        LIMIT 10""")
    },
    Some("""WITH p AS (SELECT CAST(embedding AS DOUBLE[]) AS pv
                       FROM embeddings WHERE vec_id = 0)
            SELECT d.doc_id,
              CAST(len(list_filter(string_split(d.text, ' '), w -> w <> ''))
                AS BIGINT) AS n_tokens,
              FLOOR(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv)
                * 10000 + 0.5) / 10000 AS cos_probe
            FROM documents d
            JOIN embeddings e ON e.vec_id = d.doc_id
            CROSS JOIN p
            ORDER BY n_tokens DESC, d.doc_id
            LIMIT 10"""))

  val all: Seq[Q] = Seq(corrScalar, existsSql, cteSql, posexplodeSql, recursiveSql,
    lateralJoin, sqlNativeFuncs)
}
