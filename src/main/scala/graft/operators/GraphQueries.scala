package graft.operators

import graft.{Caches, Q, Tables}
import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-shaped operators for the dedup pipeline: connected components
  * over near-duplicate candidate pairs.
  *
  * MinHash-LSH emits *pairs*, but corpus dedup must keep one document per
  * duplicate *cluster* — near-duplication is transitively closed in
  * practice (A~B, B~C ⇒ keep one of {A,B,C}). That closure is exactly
  * connected components on the candidate graph, computed here with
  * iterative hash-min label propagation: every node starts as its own
  * label and repeatedly takes the minimum label among itself and its
  * neighbors until a fixpoint. The result (min reachable doc_id per node)
  * is iteration-order independent, so the output is deterministic even
  * though the loop runs a data-dependent number of rounds.
  *
  * Scale posture (100 TB): a candidate graph of at most
  * `spark.sql.autoBroadcastJoinThreshold / 16` pairs (16 bytes per
  * (doc_a, doc_b) pair: 655,360 pairs at the default 10 MB) is collected
  * once and labelled by a union-find on the driver, with no rounds. That
  * is the broadcast bound because every round of the loop below already
  * ships its whole label table through the driver as a broadcast join
  * side under it; a graph that fits it gains nothing from the rounds, and
  * a threshold <= 0 (broadcasts off) turns the driver path off too.
  * Larger graphs run the loop: each round is a join + min-aggregate + one
  * pointer-jumping self-join, all hash-partitioned on node id — no
  * driver-side graph state. The jump step (lbl ← min(lbl, lbl(lbl)))
  * halves the remaining pointer depth every round, so round count is
  * O(log n) even on adversarial chain-shaped graphs (crawl mirrors),
  * where plain hash-min needs diameter rounds — the logarithmic-round
  * family of Rastogi et al., "Finding Connected Components in Map-Reduce
  * in Logarithmic Rounds" (ICDE'13) and Kiveris et al., "Connected
  * Components in MapReduce and Beyond" (SoCC'14), see PAPERS.md; the
  * jump is the same shortcutting those algorithms rely on, kept in the
  * one-relation label-table form (a large-star/small-star edge rewrite
  * would carry the edge set through every round instead). Verified by a
  * property test: a 300-node path converges within 12 rounds where
  * diameter-bound propagation would need ~300
  * (DedupPropertiesSpec). At cluster scale the same loop runs with
  * `localCheckpoint()` per round to truncate lineage. The reference
  * engine has no graph counterpart (SURVEY.md §2.2) — this is a
  * north-star pipeline operator.
  */
object GraphQueries {

  /** Hash-min label propagation with pointer-jumping, to a fixpoint.
    * `edges` must be symmetric (both directions present). Returns
    * (node, component = min reachable id) — the same fixpoint as plain
    * hash-min, reached in O(log n) rounds instead of O(diameter).
    */
  private[graft] def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).persist()
    var toRelease: DataFrame = labels
    var changed = 1L
    var rounds = 0
    // One hash-min propagation step, lazily: own labels and neighbor
    // labels merge in a single min-aggregate.
    def step(ls: DataFrame): DataFrame = {
      val viaNeighbors = edges.join(ls, edges("src") === ls("node"))
        .select(col("dst").as("node"), col("lbl"))
      ls.union(viaNeighbors)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
    }
    while (changed > 0 && rounds < maxRounds) {
      // (1) Two lazy hash-min steps execute in ONE job; the convergence
      // signal (did step 2 improve on step 1?) rides in the second
      // aggregate via an own-label marker instead of a separate join. If
      // step 2 changed nothing, step 1's output was already the hash-min
      // fixpoint (and the jump below is then a no-op), so near-clique dup
      // clusters converge in a single round.
      val mid = step(labels)
      val viaNeighbors = edges.join(mid, edges("src") === mid("node"))
        .select(col("dst").as("node"), col("lbl"), lit(false).as("own"))
      val stepped = mid.select(col("node"), col("lbl"), lit(true).as("own"))
        .union(viaNeighbors)
        .groupBy(col("node"))
        .agg(min(col("lbl")).as("lbl"),
          min(when(col("own"), col("lbl"))).as("old"))
      // (2) Pointer-jumping shortcut, from round 3 on: lbl ← min(lbl,
      // lbl(lbl)). Every label value is itself a node id present in
      // `stepped` (labels only ever take node-id values), so the lookup
      // is an inner self-join that can never drop rows; it halves the
      // remaining pointer depth each round — what makes chain-shaped
      // graphs converge in logarithmic rounds. Near-clique dup clusters
      // converge inside the first two rounds, so they never pay the
      // self-join (measured ~0.5 s/query at sf0.1) — the early rounds
      // run the plain double-step with a persist, exactly the
      // near-clique fast path.
      //
      // Once jumping, a lazy localCheckpoint (materialized by the
      // convergence count below) truncates lineage each round: the
      // union + self-join embed the previous round's plan 3×, which is
      // exponential in round count — by round ~10 even stringifying the
      // plan OOMs. Re-rooting on the checkpointed blocks keeps every
      // round's plan O(1). Blocks are reclaimed by the ContextCleaner as
      // old rounds go out of scope; on a multi-executor cluster, swap in
      // checkpoint() to reliable storage if executor loss mid-loop must
      // be survivable.
      val jumping = rounds >= 2
      val composed =
        if (jumping) {
          val lookup = stepped.select(col("node").as("l_node"), col("lbl").as("l_lbl"))
          stepped.join(lookup, stepped("lbl") === col("l_node"))
            .select(stepped("node"), least(stepped("lbl"), col("l_lbl")).as("lbl"),
              stepped("old"))
        } else stepped
      val jumped =
        if (jumping) Caches.checkpointed(composed) else composed.persist()
      changed = jumped.filter(col("lbl") < col("old")).count()
      if (toRelease != null) toRelease.unpersist()
      toRelease = if (jumping) null else jumped
      labels = jumped.select(col("node"), col("lbl"))
      rounds += 1
    }
    // A truncated propagation would silently return WRONG labels (multiple
    // "canonical" docs per cluster); refuse instead — maxRounds is a
    // runaway backstop, not an approximation knob.
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds " +
        s"($changed labels still improving) — raise maxRounds for this graph")
    // The final round's cache/checkpoint blocks stay live until the
    // harness's post-consumption Caches.releaseAll(): the returned
    // DataFrame reads them directly (an eager unpersist here measured
    // ~2x slower on q_cc_dedup in round 2). Jumping rounds registered
    // their checkpoints above; a non-jumping final round registers its
    // cache here.
    if (toRelease != null) Caches.register(toRelease)
    labels.select(col("node"), col("lbl").as("component"))
  }

  /** Symmetrize candidate pairs and label their connected components:
    * (doc_a, doc_b) → (node, component). Single home for the dedup
    * closure shared by q_cc_dedup, q_corpus_pipeline and the pipeline
    * store. The candidate set is persisted and computed once. If it fits
    * the broadcast bound (the object's scale posture), it is collected and
    * labelled on the driver by [[minLabels]]; otherwise the
    * [[connectedComponents]] loop runs over the persisted candidates.
    */
  private[graft] def componentsOf(candPairs: DataFrame): DataFrame = {
    val spark = candPairs.sparkSession
    val cand = candPairs.persist()
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold / 16
    val pairs =
      if (bound <= 0) None
      else {
        val got = cand.select(col("doc_a"), col("doc_b"))
          .limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()
        if (got.length <= bound) Some(got) else None
      }
    pairs match {
      case Some(rows) =>
        val (node, component) = minLabels(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
        import spark.implicits._
        val labels = node.indices.map(i => (node(i), component(i)))
          .toDF("node", "component")
        cand.unpersist()
        labels
      case None =>
        val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        // The propagation loop has materialized its final labels by the
        // time connectedComponents returns, so the candidate cache can be
        // released even though `cc` executes later (a cache miss would
        // recompute candPairs, still correctly).
        val cc = connectedComponents(edges)
        cand.unpersist()
        cc
    }
  }

  /** Union-find over the undirected edges (a(i), b(i)): every distinct
    * endpoint, ascending, beside its component's minimum id — the labels
    * hash-min converges to. Nodes are indexed by their position in the
    * sorted id array and the lower index always becomes the root, so a
    * root is its component's minimum; path compression keeps finds flat.
    */
  private def minLabels(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long]) = {
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    i = 0
    while (i < a.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, a(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    (ids, Array.tabulate(n)(x => ids(find(x))))
  }

  /** Dedup clustering: minhash-LSH candidate pairs → connected components
    * → canonical keep (lowest doc_id per cluster). Output: every document
    * that has at least one near-duplicate candidate, its cluster id, and
    * whether it is the cluster's canonical survivor.
    */
  private val ccDedup = Q(
    "q_cc_dedup",
    (spark, dir) => {
      val sh = Tables(spark, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.distinctWordNGrams(col("text"), 3)).as("sh"))
      componentsOf(DedupQueries.minhashCandidates(sh))
        .select(col("node").as("doc_id"), col("component"),
          (col("node") === col("component")).cast("int").as("is_canonical"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.minhashCandCte},
             edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                       UNION ALL SELECT doc_b, doc_a FROM cand),
             walk(node, lbl) AS (
               SELECT DISTINCT src, src FROM edges
               UNION
               SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
             cc AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node)
             SELECT node AS doc_id, component,
               CAST(CASE WHEN node = component THEN 1 ELSE 0 END AS INT) AS is_canonical
             FROM cc ORDER BY doc_id"""))

  /** The bipartite trade graph both new graph queries run on: one
    * undirected edge per distinct (customer, supplier) pair that ever
    * traded (orders ⋈ lineitem). Node ids are packed longs —
    * custkey·2 / suppkey·2+1 — because the key spaces overlap: every
    * shuffle, distinct and join in the graph family then hashes 8-byte
    * integers instead of strings (measured ~25% off the family's bench
    * time); the human-readable 'c'/'s' namespacing is applied only in
    * q_pagerank's final projection. One equi-join + one distinct — both
    * hash shuffles on their keys.
    */
  private[graft] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // No pre-distinct on the fact side (r16, guide §2.4): the former
    // `.distinct()` on (l_orderkey, l_suppkey) cost a FULL extra exchange
    // of the lineitem projection, while the join side is a broadcast of
    // the order-sized relation (no lineitem shuffle) and the post-join
    // (a, b) distinct partial-aggregates map-side before its one
    // exchange anyway. On this data shape the pre-distinct barely
    // reduced rows (orders rarely repeat a supplier within one order),
    // so the plan paid 2 fact-side shuffles where 1 suffices — at any
    // scale the single post-projection distinct moves the same bytes the
    // pre-distinct's exchange alone moved. Plan diff: 2 Exchange → 1 on
    // the lineitem side (before/after dumps recorded in commit 9de9dbf,
    // plans/r16/q_graph_degree_*.txt).
    val l = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
  }

  private val edgesCte =
    """pairs AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       edges AS (SELECT a AS src, b AS dst FROM pairs
                 UNION ALL SELECT b, a FROM pairs)"""

  /** Degree distribution of the trade graph: how many nodes have each
    * degree. Integer-only (no float risk); two hash aggregates
    * (node → degree, degree → node count), both partial+final. The
    * histogram output is bounded by max degree, so the result stays tiny
    * at any scale while the computation is fully distributed.
    */
  private val graphDegree = Q(
    "q_graph_degree",
    (spark, dir) => {
      // cached: the self-union below scans the join+distinct twice
      // otherwise; released by the harness after the query's action
      val e = Caches.persisted(tradeEdges(spark, dir))
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    },
    Some(s"""WITH $edgesCte,
             deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src)
             SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM deg GROUP BY deg ORDER BY deg"""))

  /** PageRank, 3 damped iterations (d = 0.85) over the symmetrized trade
    * graph. Each iteration pre-divides the node-sized rank vector by
    * out-degree (a node-keyed join of two V-sized relations), then one
    * equi-join of that weighted vector with the cached bare edge list
    * plus a partial+final sum by destination — the standard distributed
    * PageRank step, shuffling only on node id, no driver state beyond
    * the scalar node count. Every node has degree ≥ 1
    * (symmetrized edge list), so there is no dangling-mass term. The
    * per-node sums funnel through pround(8); contributions are ~1/N so
    * ulp drift is far below the rounding grain. Fixed iteration count
    * keeps the query deterministic and lets DuckDB replay it as a CTE
    * chain; a convergence-driven variant would loop the same step.
    */
  private val pageRank = Q(
    "q_pagerank",
    (spark, dir) => {
      import graft.functions.Portable.pround
      // cached: consumed by both unionAll branches; released post-query
      val pairs = Caches.persisted(tradeEdges(spark, dir))
      val e = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val deg = Caches.persisted(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      // Pin the edge list's partitioning on the join key WITH the source
      // degree attached once at setup: every iteration then joins the
      // (node, rank) vector straight into the cached layout — the edge
      // relation (the 100 TB side) never moves again, and the degree join
      // that used to run per iteration runs zero times in the loop. The
      // per-edge r/deg is the same division of the same operands as a
      // per-node pre-divide (and is literally the oracle's SUM(r/deg)
      // form), so the funnel value is bit-identical either way.
      val contrib = Caches.persisted(e.join(deg, "src").repartition(col("src")))
      // node count as a broadcast 1-row relation instead of an EAGER
      // driver count (r17, guide §1.2 job-count: the count() was a
      // whole separate job + barrier before the single real action;
      // 1.0/n and 0.15/n are the same IEEE divisions either way)
      val nDf = broadcast(deg.agg(count(lit(1)).cast("double").as("nn")))
      var r: DataFrame = deg.crossJoin(nDf)
        .select(col("src").as("node"), (lit(1.0) / col("nn")).as("r"))
      for (_ <- 1 to 3) {
        r = contrib.join(r, contrib("src") === r("node"))
          .groupBy(col("dst"))
          .agg(sum(col("r") / col("deg")).as("mass"))
          .crossJoin(nDf)
          .select(col("dst").as("node"),
            (lit(0.15) / col("nn") + lit(0.85) * col("mass")).as("r"))
      }
      // namespace the packed ids back to 'c<key>'/'s<key>' only here, at
      // the bounded output — the iterations above shuffled longs
      r.select(
          concat(when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")),
            expr("CAST(node div 2 AS STRING)")).as("node"),
          pround(col("r"), 8).as("pr"))
        .orderBy(col("node"))
    },
    Some(s"""WITH $edgesCte,
             deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src),
             n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
             r0 AS (SELECT node, 1.0 / n.n AS r FROM deg, n),
             r1 AS (SELECT e.dst AS node, 0.15 / MIN(n.n) + 0.85 * SUM(r.r / d.deg) AS r
                    FROM edges e JOIN r0 r ON e.src = r.node
                    JOIN deg d ON e.src = d.node CROSS JOIN n GROUP BY e.dst),
             r2 AS (SELECT e.dst AS node, 0.15 / MIN(n.n) + 0.85 * SUM(r.r / d.deg) AS r
                    FROM edges e JOIN r1 r ON e.src = r.node
                    JOIN deg d ON e.src = d.node CROSS JOIN n GROUP BY e.dst),
             r3 AS (SELECT e.dst AS node, 0.15 / MIN(n.n) + 0.85 * SUM(r.r / d.deg) AS r
                    FROM edges e JOIN r2 r ON e.src = r.node
                    JOIN deg d ON e.src = d.node CROSS JOIN n GROUP BY e.dst)
             SELECT (CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END)
                      || CAST(node // 2 AS VARCHAR) AS node,
               FLOOR(r * 100000000 + 0.5) / 100000000 AS pr
             FROM r3 ORDER BY node"""))

  /** Triangle census of the part co-purchase graph (parts that ever
    * share an order; the trade graph above is bipartite and therefore
    * triangle-free by construction). The per-order pair fan-out is
    * bounded by the order's line count (≤ C(13,2) in the fixture — order
    * size is a business constant, not a scale variable), and triangle
    * enumeration uses the textbook degree-ordered orientation: every
    * edge points from its lower-(degree, id) endpoint to the higher, so
    * out-degrees are O(√m) even on power-law graphs and the wedge work
    * — the quadratic danger — stays bounded per node. Wedges close by
    * sorted-adjacency intersection (per edge (a,b), |out(a) ∩ out(b)|):
    * two node-keyed hash joins of the edge list against the
    * √m-array-bounded adjacency relation, never a materialized wedge
    * relation (49M rows at sf0.1 in the naive three-way self-join).
    * Output is one bounded census row (nodes, edges, triangles, global
    * clustering coefficient from the exact integer wedge count).
    */
  /** Exact triangle census of an undirected simple graph given as
    * (u, v) u<v distinct pairs: degree-ordered orientation + sorted-
    * adjacency intersection — never the naive e1⋈e2⋈e3 wedge relation
    * (49M rows at sf0.1, the measured 40 s bench outlier). Out-degree
    * under the orientation is O(√m)-capped, so no aggregation buffer
    * outgrows a node's capped neighbor list. Returns ONE row
    * (n_nodes, n_edges, n_wedges, n_triangles). Shared by
    * q_triangle_count and the q_triangle_store census arms.
    */
  private[operators] def triangleCensus(pairs: DataFrame): DataFrame = {
    val (deg, wedges) = orientedWedges(pairs)
    val tri = wedges.select(size(closing).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).cast("bigint").as("n_triangles"))
    val census = deg.agg(
      count(lit(1)).cast("bigint").as("n_nodes"),
      (sum(col("deg")) / 2).cast("bigint").as("n_edges"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("bigint").as("n_wedges"))
    census.crossJoin(tri)
  }

  /** The degree-ordered orientation shared by the triangle census and
    * q_local_clustering: `deg` (node, deg), cached, and each oriented
    * edge (a, b) — from lower (deg, id) to higher — with its endpoints'
    * sorted out-neighbour arrays `na` and `nb` (see [[closing]]). */
  private def orientedWedges(pairs: DataFrame): (DataFrame, DataFrame) = {
    // cached: degrees and the orientation both rescan the edge list
    val e = Caches.persisted(pairs)
    // cached: consumed three times — the two orientation joins and the
    // census aggregate
    val deg = Caches.persisted(
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // orient each edge from lower (deg, id) to higher: join degrees in,
    // then swap endpoints where the order disagrees
    val withDeg = Caches.persisted(e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b")))
    // cached: probed twice (once per intersection endpoint)
    val adj = Caches.persisted(withDeg.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs")))
    (deg, withDeg
      .join(adj.select(col("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"), "left"))
  }

  /** The third corners of the triangles an [[orientedWedges]] edge closes. */
  private def closing: Column =
    array_intersect(col("na"), coalesce(col("nb"), array().cast("array<bigint>")))

  /** The part co-purchase graph's (o, p) order-line relation. */
  private def orderParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))

  /** Distinct (u, v), u < v, part pairs that share an order of `op`. */
  private def coPurchasePairs(op: DataFrame): DataFrame =
    op.join(op.withColumnRenamed("p", "q"), "o")
      .filter(col("p") < col("q"))
      .select(col("p").as("u"), col("q").as("v")).distinct()

  /** Oracle CTEs `op` and `e`: the distinct co-purchase pairs. */
  private val coPurchaseCtes =
    """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e AS (SELECT DISTINCT a.p AS u, b.p AS v
             FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)"""

  /** Oracle CTE `name`: the pairs `edges` oriented by the degrees `deg`. */
  private def orientedCte(name: String, edges: String, deg: String): String =
    s"""$name AS (SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
                      THEN u ELSE v END AS a,
               CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
                 THEN v ELSE u END AS b
             FROM $edges
             JOIN $deg d1 ON d1.node = $edges.u
             JOIN $deg d2 ON d2.node = $edges.v)"""

  /** Oracle FROM clause: every triangle of the oriented edges `o`. */
  private def trianglesOf(o: String): String =
    s"FROM $o e1 JOIN $o e2 ON e1.b = e2.a JOIN $o e3 ON e3.a = e1.a AND e3.b = e2.b"

  /** Oracle twin of [[orientedWedges]] over the co-purchase graph. */
  private val orientedCtes =
    s"""$coPurchaseCtes,
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                  SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                GROUP BY node),
        ${orientedCte("o", "e", "deg")}"""

  /** The per-node coefficient `c_u` (ppm) of `rel` as a decile histogram:
    * per bucket the node count and the mean coefficient. */
  private def deciles(rel: DataFrame): DataFrame = {
    import graft.functions.Portable.pround
    rel.select(least(lit(9L), expr("c_u div 100000")).cast("int").as("bucket"),
        col("c_u"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"),
        pround(sum(col("c_u")).cast("double") /
          (count(lit(1)) * 1000000L).cast("double"), 4).as("mean_c"))
      .orderBy(col("bucket"))
  }

  /** Oracle twin of [[deciles]] over the CTE `cu`. */
  private val decilesSql =
    """SELECT CAST(LEAST(9, c_u // 100000) AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         FLOOR((CAST(SUM(c_u) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE))
           * 10000 + 0.5) / 10000 AS mean_c
       FROM cu GROUP BY 1 ORDER BY 1"""

  /** Oracle CTEs of the deterministic wedge sampler: `sym`, `deg`, the
    * sampled centers `ctr`, each center's `cap` hash-smallest neighbours
    * `cn`, their pairs `cp`, and `cl`, per center the pair count and the
    * pairs an edge of `e` closes. */
  private def sampledClosureCtes(cap: Int): String =
    s"""$coPurchaseCtes,
        sym AS (SELECT u AS x, v AS n FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY x),
        ctr AS (SELECT x FROM deg
                WHERE CAST('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15)
                        AS BIGINT) % 8 = 0
                  AND deg >= 2),
        cn AS (SELECT x, n FROM (
                 SELECT s.x, s.n,
                   row_number() OVER (PARTITION BY s.x ORDER BY
                     CAST('0x' || substr(md5(CAST(s.x AS VARCHAR) || ':'
                       || CAST(s.n AS VARCHAR)), 1, 15) AS BIGINT), s.n) AS rk
                 FROM sym s JOIN ctr ON ctr.x = s.x)
               WHERE rk <= $cap),
        cp AS (SELECT a.x AS ctr, a.n AS p1, b.n AS p2
               FROM cn a JOIN cn b ON a.x = b.x AND a.n < b.n),
        cl AS (SELECT cp.ctr, CAST(COUNT(*) AS BIGINT) AS pairs_c,
                 CAST(COUNT(e.u) AS BIGINT) AS closed_c
               FROM cp LEFT JOIN e ON e.u = cp.p1 AND e.v = cp.p2
               GROUP BY cp.ctr)"""

  private val triangleCount = Q(
    "q_triangle_count",
    (spark, dir) => {
      import graft.functions.Portable.pround
      // No (o, p) pre-distinct (r17, guide §2.4 — the r16 tradeEdges
      // argument): lineitem's (l_orderkey, l_partkey) is 99.99% unique
      // in this data shape (measured 1.0098/1.0009/1.0001 dup ratio at
      // sf0.001/0.01/0.1), so the pre-distinct cost a full exchange to
      // deduplicate nothing, and the post-join pairs DISTINCT absorbs
      // the rare duplicate's pair multiplication anyway — result
      // identical, one exchange fewer.
      triangleCensus(coPurchasePairs(orderParts(spark, dir)))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          pround(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 4).as("clustering_coeff"))
    },
    Some(s"""WITH $orientedCtes,
            tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
                    ${trianglesOf("o")}),
            census AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                         CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
                         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
                       FROM deg)
            SELECT n_nodes, n_edges, n_triangles,
              FLOOR((3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE))
                * 10000 + 0.5) / 10000 AS clustering_coeff
            FROM census CROSS JOIN tri"""))

  /** k-core peeling (k = 3, at most four rounds) over the symmetrized
    * trade graph: repeatedly drop nodes of degree < 3 and the edges
    * touching them, then report the surviving degree histogram — the
    * standard dense-subgraph extraction step before community/influence
    * analysis. Each round is one degree aggregate plus two node-keyed
    * semi-joins with the CC loop's persist/unpersist lineage discipline.
    * The degree relation is MATERIALIZED (count) before the survivor
    * joins are planned — a persisted-but-unmaterialized survivor set has
    * unknown stats and silently demotes both semi-joins to sort-merge
    * (measured 4× slower); with real sizes the planner broadcasts the
    * node-sized side only when it actually fits. Peeling is idempotent
    * once no node drops, so the loop exits at the fixpoint (detected by
    * comparing survivor and node counts — two O(1) actions on the cached
    * degree relation, no data to the driver): the DuckDB oracle replays a
    * fixed 4-round unrolled chain whose post-convergence rounds are
    * identities, keeping the two engines exactly equivalent whether
    * convergence comes early or not at all.
    */
  private val kcore = Q(
    "q_kcore",
    (spark, dir) => {
      val pairs = Caches.persisted(tradeEdges(spark, dir))
      var e = Caches.persisted(
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"))))
      var rounds = 0
      var converged = false
      while (rounds < 4 && !converged) {
        val degs = Caches.persisted(
          e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
        // ONE collect materializes the cache (real stats for the joins)
        // AND answers convergence — the previous separate keep.count()
        // was a second scheduling round-trip per peel round (r16: the
        // suite's cost is job count × per-job latency, guide §1.2)
        val cnts = degs.agg(count(lit(1)), count_if(col("deg") >= 3)).collect()(0)
        val (nNodes, nKeep) = (cnts.getLong(0), cnts.getLong(1))
        val keep = degs.filter(col("deg") >= 3).select(col("src").as("keep"))
        if (nKeep == nNodes) {
          degs.unpersist()
          converged = true
        } else {
          val next = Caches.persisted(
            e.join(keep, col("src") === col("keep"), "left_semi")
              .join(keep.select(col("keep").as("k2")), col("dst") === col("k2"), "left_semi"))
          next.count() // materialize before releasing the previous round
          e.unpersist()
          degs.unpersist()
          e = next
        }
        rounds += 1
      }
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    },
    Some(s"""WITH $edgesCte,
             d0 AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
             k0 AS (SELECT src FROM d0 WHERE deg >= 3),
             e1 AS (SELECT e.src, e.dst FROM edges e
                    JOIN k0 x ON e.src = x.src JOIN k0 y ON e.dst = y.src),
             d1 AS (SELECT src, COUNT(*) AS deg FROM e1 GROUP BY src),
             k1 AS (SELECT src FROM d1 WHERE deg >= 3),
             e2 AS (SELECT e.src, e.dst FROM e1 e
                    JOIN k1 x ON e.src = x.src JOIN k1 y ON e.dst = y.src),
             d2 AS (SELECT src, COUNT(*) AS deg FROM e2 GROUP BY src),
             k2 AS (SELECT src FROM d2 WHERE deg >= 3),
             e3 AS (SELECT e.src, e.dst FROM e2 e
                    JOIN k2 x ON e.src = x.src JOIN k2 y ON e.dst = y.src),
             d3 AS (SELECT src, COUNT(*) AS deg FROM e3 GROUP BY src),
             k3 AS (SELECT src FROM d3 WHERE deg >= 3),
             e4 AS (SELECT e.src, e.dst FROM e3 e
                    JOIN k3 x ON e.src = x.src JOIN k3 y ON e.dst = y.src)
             SELECT CAST(deg AS BIGINT) AS deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM (SELECT src, COUNT(*) AS deg FROM e4 GROUP BY src)
             GROUP BY deg ORDER BY deg"""))

  /** Link prediction by neighborhood overlap: distance-2 node pairs (the
    * graph is bipartite, so these are same-side pairs that never share an
    * edge) scored by common-neighbor count and Jaccard as an EXACT
    * parts-per-million integer — cn·10⁶ div (deg_a + deg_b − cn) — so the
    * top-20 ordering has no float knife edges anywhere. Raw wedge
    * enumeration is Σdeg² over the intermediates — 345M rows at sf0.1
    * (supplier hubs average degree ~590) and quadratic in the hub degree
    * at scale — so the wedge middle is DISCO-pruned exactly like
    * q_cosine_pairs' posting join: only intermediates with degree ≤ 128
    * generate pairs (a hub shared by everyone carries no discriminative
    * signal, the same reason df-pruning drops stopwords), while the
    * DENOMINATOR keeps the full exact degrees. The oracle applies the
    * identical cap, so the contract is exact; 14× less wedge mass at
    * sf0.1 and bounded per-intermediate fan-out at any scale.
    *
    * CONTRACT NOTE: build() runs one small Spark job eagerly (a count()
    * that materializes the cached degree relation before the consumers
    * are planned) — plan-only consumers (PlanSpec, explain tooling) pay
    * that node-sized job at build time. The cap below is the single
    * `JaccardMidCap` constant; the wedge tail-slice length derives from
    * it (a capped middle has ≤ cap neighbors, so the slice can never
    * truncate).
    */
  /** Degree cap on wedge intermediates (and hence on the per-middle
    * sorted-adjacency slice): shared by the filter, the slice length and
    * the oracle so they can never drift apart.
    */
  private val JaccardMidCap = 128
  private val graphJaccard = Q(
    "q_graph_jaccard",
    (spark, dir) => {
      val pairs = Caches.persisted(tradeEdges(spark, dir))
      // the symmetrized relation is two cheap scans of the cached pairs —
      // persisting it separately would cost a 2|E|-row cache write for
      // relations consumed exactly twice below
      val e = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      // deg is MATERIALIZED (count) before any consumer is planned: a
      // persisted-but-unmaterialized aggregate has unknown stats, which
      // demotes the two final degree joins to sort-merge — each of which
      // would re-shuffle the full pair relation (the kcore 4× lesson).
      // With real sizes AQE broadcasts the node-sized side exactly when
      // it fits, and keeps the shuffle join at cluster scale.
      val deg = Caches.persisted(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      deg.count()
      val mid = deg.filter(col("deg") <= JaccardMidCap).select(col("src").as("x"))
      // (x → n) edges whose middle endpoint survives the cap
      val ex = e.join(mid, col("src") === col("x"), "left_semi")
        .select(col("src").as("x"), col("dst").as("n"))
      // Wedge enumeration by sorted adjacency list, not a self-join: one
      // exchange on x builds the ≤128-element neighbor list per capped
      // middle, then posexplode + tail-slice emits each unordered pair
      // exactly once, already oriented n < m. Identical pair multiset to
      // the ex ⋈ ex formulation (neighbors are distinct, the sorted list
      // makes i < j ⇔ n < m), but it generates HALF the rows of the
      // join (no discarded n > m side), builds no join hash table, and
      // keeps per-group state bounded by the cap — measured 2.5× faster
      // than the self-join at sf0.1 (1.25 s vs 3.1 s for the wedge
      // aggregate) and safe at any scale.
      val wedges = ex
        .groupBy(col("x")).agg(sort_array(collect_list(col("n"))).as("ns"))
        .select(posexplode(col("ns")).as(Seq("i", "n")), col("ns"))
        .select(col("n"),
          explode(slice(col("ns"), col("i") + lit(2), lit(JaccardMidCap))).as("m"))
        .groupBy(col("n"), col("m")).agg(count(lit(1)).as("cn"))
      wedges
        .join(deg.select(col("src").as("n2"), col("deg").as("da")), col("n") === col("n2"))
        .join(deg.select(col("src").as("m2"), col("deg").as("db")), col("m") === col("m2"))
        .select(col("n"), col("m"), col("cn"),
          expr("cn * 1000000 div (da + db - cn)").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("n"), col("m"))
        .limit(20)
    },
    Some(s"""WITH $edgesCte,
             deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src),
             mid AS (SELECT src FROM deg WHERE deg <= $JaccardMidCap),
             ex AS (SELECT e.src AS x, e.dst AS n
                    FROM edges e JOIN mid ON e.src = mid.src),
             w AS (SELECT e1.n AS n, e2.n AS m, CAST(COUNT(*) AS BIGINT) AS cn
                   FROM ex e1 JOIN ex e2 ON e1.x = e2.x AND e1.n < e2.n
                   GROUP BY e1.n, e2.n)
             SELECT n, m, cn,
               CAST((cn * 1000000) // (a.deg + b.deg - cn) AS BIGINT) AS score_ppm
             FROM w JOIN deg a ON w.n = a.src JOIN deg b ON w.m = b.src
             ORDER BY score_ppm DESC, n, m LIMIT 20"""))

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * across every directed edge of the symmetrized trade graph — the
    * one-number summary of whether hubs attach to hubs (a bipartite
    * customer–supplier graph is strongly DISassortative: high-degree
    * suppliers pair with low-degree customers). All six moment sums are
    * EXACT integer aggregates carried in decimal(38,0) (bigint products
    * overflow past ~10⁷ edges; DuckDB's HUGEINT path is mirrored by the
    * decimal cast), and only the final normalization touches doubles —
    * two correctly-rounded sqrts and one division of exactly-represented
    * integers, identical in both engines. Two node-keyed degree joins +
    * one scalar aggregate; no driver state.
    */
  private val assortativity = Q(
    "q_assortativity",
    (spark, dir) => {
      import graft.functions.Portable.pround
      val pairs = Caches.persisted(tradeEdges(spark, dir))
      val e = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val deg = Caches.persisted(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val xy = e
        .join(deg.select(col("src").as("s2"), col("deg").as("x")), col("src") === col("s2"))
        .join(deg.select(col("src").as("d2"), col("deg").as("y")), col("dst") === col("d2"))
        .select(col("x"), col("y"))
      // factors cast to decimal BEFORE the product and the sum, so both the
      // per-row deg·deg product (bigint·bigint wraps past ~9.2e18, i.e. two
      // ~3e9-degree hubs) and the accumulator run in decimal — a post-agg
      // cast would accumulate in BIGINT and, under ANSI mode, throw once
      // sum(deg²) passes ~9.2e18 where the oracle's HUGEINT keeps going;
      // same operand-cast pattern as q_decile_stats
      val xd = col("x").cast("decimal(19,0)")
      val yd = col("y").cast("decimal(19,0)")
      xy.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(xd).as("sx"),
          sum(yd).as("sy"),
          sum(xd * yd).as("sxy"),
          sum(xd * xd).as("sxx"),
          sum(yd * yd).as("syy"))
        .select(col("n").cast("bigint").as("n_edges"),
          // zero-variance guard (all degrees equal): 0/0 crosses engines
          // differently; the correlation is undefined there
          when((col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
              (col("n") * col("syy") - col("sy") * col("sy")) === 0,
            lit(null).cast("double"))
            .otherwise(pround(
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                  sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6))
            .as("assortativity"))
    },
    Some(s"""WITH $edgesCte,
             deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src),
             xy AS (SELECT da.deg AS x, db.deg AS y
                    FROM edges e JOIN deg da ON e.src = da.src
                    JOIN deg db ON e.dst = db.src),
             s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
                     CAST(SUM(x*y) AS HUGEINT) AS sxy,
                     CAST(SUM(x*x) AS HUGEINT) AS sxx,
                     CAST(SUM(y*y) AS HUGEINT) AS syy
                   FROM xy)
             SELECT CAST(n AS BIGINT) AS n_edges,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                    ELSE FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                      / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                         * SQRT(CAST(n * syy - sy * sy AS DOUBLE))))
                      * 1000000 + 0.5) / 1000000
               END AS assortativity
             FROM s"""))

  /** Per-node (local) clustering coefficient distribution over the
    * co-purchase graph — the node-level companion to q_triangle_count's
    * single global coefficient: c(v) = 2·T(v)/(deg(v)·(deg(v)−1)) for
    * deg ≥ 2, reported as a decile histogram with per-bucket means (the
    * ego-network-density profile community-detection pipelines
    * threshold on). Per-node triangle counts come from the SAME
    * degree-oriented sorted-adjacency intersection as the global count
    * — each (a, b, c) triangle is exploded once and credited to its
    * three corners — so the wedge relation is never materialized and
    * per-edge state stays bounded by the orientation's O(√m) out-degree
    * cap.
    *
    * Determinism: c(v) is the INTEGER (2·T·10⁶) div (deg·(deg−1)) —
    * exact integer division in both engines — and per-bucket means
    * divide integer sums once at the end (the q_dsir_weights rule).
    */
  private val localClustering = Q(
    "q_local_clustering",
    (spark, dir) => {
      // no (o, p) pre-distinct — see q_triangle_count (r17): 99.99%
      // unique in this shape, and the pairs DISTINCT absorbs the rare
      // duplicate; one exchange fewer
      val (deg, wedges) = orientedWedges(coPurchasePairs(orderParts(spark, dir)))
      // one intersection pass, cached as narrow (a, b, c) triangle rows
      // (3 longs per triangle); the three corner-credit scans then read
      // the cache instead of re-running the adj joins + intersections
      val triNodes = Caches.persisted(
        wedges.select(col("a"), col("b"), explode(closing).as("c")))
      val perNode = triNodes.select(col("a").as("node"))
        .unionAll(triNodes.select(col("b").as("node")))
        .unionAll(triNodes.select(col("c").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("t"))
      deciles(deg.filter(col("deg") >= 2)
        .join(perNode, Seq("node"), "left")
        .select(coalesce(col("t"), lit(0L)).as("t"), col("deg"))
        .select(expr("(2 * t * 1000000) div (deg * (deg - 1))").as("c_u")))
    },
    Some(s"""WITH $orientedCtes,
            tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                    ${trianglesOf("o")}),
            pern AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
                       SELECT a AS node FROM tri
                       UNION ALL SELECT b FROM tri
                       UNION ALL SELECT c FROM tri)
                     GROUP BY node),
            cu AS (SELECT (2 * COALESCE(p.t, 0) * 1000000)
                     // (d.deg * (d.deg - 1)) AS c_u
                   FROM deg d LEFT JOIN pern p ON p.node = d.node
                   WHERE d.deg >= 2)
            $decilesSql"""))

  /** Multi-source BFS levels over the symmetrized trade graph: exact hop
    * distance from a seed set (nodes with id < 20 that appear on the 'a'
    * side of the undirected pair list — both engines seed identically)
    * out to 3 hops — the reachability primitive behind "which suppliers are
    * within N trade hops of these flagged customers" audits. Each hop is
    * one equi-join of the frontier against the cached edge list (pinned
    * on src, the q_pagerank layout — the 100 TB side never re-shuffles)
    * plus a distinct and an anti-join against the visited set; the
    * frontier and visited relations persist per hop and release with
    * the query. Level membership is a min-hop property, so the output
    * is iteration-order independent. Reported bounded: per level the
    * node count and a node-id checksum (exact integers only).
    */
  private val bfsLevels = Q(
    "q_bfs_levels",
    (spark, dir) => {
      val pairs = Caches.persisted(tradeEdges(spark, dir))
      val edges = Caches.persisted(
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
          .repartition(col("src")))
      // Min-level expansion WITHOUT per-hop anti-joins (r17, guide §2.4):
      // level is a min-hop property, so expanding each hop's distinct
      // neighbor set unpruned and taking min(level) per node at the end
      // assigns exactly the pruned BFS's levels (a node at distance d
      // first appears in hop-d's candidate set and only reappears
      // later). The old shape paid a visited anti-join (2 exchanges of
      // the whole growing visited relation, unknown stats ⇒ sort-merge)
      // plus a union-of-caches rebuild per hop; now each hop is one
      // edge join + one distinct, both node-bounded.
      val seeds = Caches.persisted(
        pairs.select(col("a").as("node")).filter(col("node") < 20).distinct())
      var lv = seeds.withColumn("level", lit(0))
      var cand = seeds
      for (l <- 1 to 3) {
        cand = Caches.persisted(
          edges.join(cand, edges("src") === cand("node"))
            .select(col("dst").as("node")).distinct())
        lv = lv.unionAll(cand.withColumn("level", lit(l)))
      }
      lv.groupBy(col("node")).agg(min(col("level")).as("level"))
        .groupBy(col("level"))
        .agg(count(lit(1)).cast("bigint").as("n_nodes"),
          sum(col("node")).cast("bigint").as("node_sum"))
        .orderBy(col("level"))
    },
    Some(s"""WITH $edgesCte,
             l0 AS (SELECT DISTINCT a AS node FROM pairs WHERE a < 20),
             f1 AS (SELECT DISTINCT e.dst AS node FROM edges e
                    JOIN l0 ON e.src = l0.node
                    WHERE e.dst NOT IN (SELECT node FROM l0)),
             f2 AS (SELECT DISTINCT e.dst AS node FROM edges e
                    JOIN f1 ON e.src = f1.node
                    WHERE e.dst NOT IN (SELECT node FROM l0
                                        UNION ALL SELECT node FROM f1)),
             f3 AS (SELECT DISTINCT e.dst AS node FROM edges e
                    JOIN f2 ON e.src = f2.node
                    WHERE e.dst NOT IN (SELECT node FROM l0
                                        UNION ALL SELECT node FROM f1
                                        UNION ALL SELECT node FROM f2)),
             lv AS (SELECT node, 0 AS level FROM l0
                    UNION ALL SELECT node, 1 FROM f1
                    UNION ALL SELECT node, 2 FROM f2
                    UNION ALL SELECT node, 3 FROM f3)
             SELECT level, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(node) AS BIGINT) AS node_sum
             FROM lv GROUP BY level ORDER BY level"""))

  /** Synchronous MAJORITY-label propagation (2 rounds) over the
    * symmetrized trade graph, with labels seeded as node ids and new
    * label = most frequent neighbor label (ties → smallest label id).
    * This is genuine community detection (Raghavan et al. LPA, see
    * PAPERS.md graph line) — distinct from q_cc_dedup's hash-MIN
    * propagation, which computes connected components: majority voting
    * keeps densely-linked groups together while min-label merges
    * everything reachable. Fixed round count + the deterministic
    * tiebreak make the labeling exactly replayable (DuckDB unrolls the
    * two voting rounds with the same window rank). Output is the
    * bounded community-size histogram.
    *
    * Scale posture (100 TB): each round is one equi-join of the edge
    * list (cached pinned on dst — the label-lookup key, so the big side
    * never re-shuffles across rounds) with the node-sized label table,
    * a (src, lbl) partial+final count, and a per-src rank window —
    * everything hash-partitioned on node id, no driver graph state.
    */
  /** Two synchronous majority-label rounds over the symmetrized trade
    * graph, shared by q_label_prop and q_modularity: the edge list,
    * cached pinned on dst (the label-lookup key, so the big side never
    * re-shuffles across rounds), and the final (node, lbl) labels. */
  private def majorityLabels(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pairs = Caches.persisted(tradeEdges(spark, dir))
    val edges = Caches.persisted(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("dst")))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to 2) {
      // majority vote as max_by over (count, −label) instead of a
      // row_number window (r16, guide §2.3/§2.4): identical winner —
      // lexicographic max of (c, −lbl) IS "c desc, lbl asc" rank 1 —
      // but the aggregate partial-combines map-side (one candidate
      // row per src per mapper enters the exchange, vs every (src,
      // lbl) vote row) and drops the window's per-partition SORT.
      // Plan diff: Window+Sort → HashAggregate pair per round.
      labels = Caches.persisted(
        edges.join(labels, edges("dst") === labels("node"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(max_by(col("lbl"), struct(col("c"), -col("lbl"))).as("lbl"))
          .select(col("src").as("node"), col("lbl")))
      // No per-round count() since r17 (guide §1.2 job-count — the
      // suite's measured bottleneck is the per-job floor, 8c ≈ 32c):
      // the eager materialization was one whole job + barrier per
      // round; the cache still builds exactly once, lazily, inside
      // the single final action.
    }
    (edges, labels)
  }

  /** Oracle twin of [[majorityLabels]]: `edges` and the round-2 labels `l2`. */
  private val majorityLabelCtes =
    s"""$edgesCte,
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        c1 AS (SELECT e.src AS src, l.lbl AS lbl, COUNT(*) AS c
               FROM edges e JOIN l0 l ON e.dst = l.node
               GROUP BY e.src, l.lbl),
        l1 AS (SELECT src AS node, lbl FROM (
                 SELECT src, lbl, ROW_NUMBER() OVER (
                   PARTITION BY src ORDER BY c DESC, lbl) AS rk FROM c1)
               WHERE rk = 1),
        c2 AS (SELECT e.src AS src, l.lbl AS lbl, COUNT(*) AS c
               FROM edges e JOIN l1 l ON e.dst = l.node
               GROUP BY e.src, l.lbl),
        l2 AS (SELECT src AS node, lbl FROM (
                 SELECT src, lbl, ROW_NUMBER() OVER (
                   PARTITION BY src ORDER BY c DESC, lbl) AS rk FROM c2)
               WHERE rk = 1)"""

  private val labelProp = Q(
    "q_label_prop",
    (spark, dir) => {
      val (_, labels) = majorityLabels(spark, dir)
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("bigint").as("community_size"))
        .agg(count(lit(1)).cast("bigint").as("n_communities"))
        .orderBy(col("community_size"))
    },
    Some(s"""WITH $majorityLabelCtes,
             sz AS (SELECT lbl, COUNT(*) AS sz FROM l2 GROUP BY lbl)
             SELECT CAST(sz AS BIGINT) AS community_size,
               CAST(COUNT(*) AS BIGINT) AS n_communities
             FROM sz GROUP BY 1 ORDER BY 1"""))

  /** Newman MODULARITY of the q_label_prop communities — the partition
    * quality score every community-detection pipeline reports:
    * Q = e_same/m2 − Σ_c (deg_c/m2)², with m2 the DIRECTED edge count
    * (= 2m) and e_same the directed edges whose endpoints share a label.
    * The whole funnel is exact integers — e_same, m2 and Σ deg_c² — and
    * Q is computed ONCE as (e_same·m2 − Σ deg_c²)/m2², pround(8); at
    * this scale the products stay far inside BIGINT (m2² ≤ ~10^14 at
    * sf1), and the doc notes the decimal(38,0) posture for beyond
    * (q_assortativity precedent).
    *
    * Scale posture: two node-keyed joins of the edge list against the
    * label table (src side, dst side), one degree aggregate, one
    * community rollup — all hash-partitioned; output is one row.
    */
  private val modularity = Q(
    "q_modularity",
    (spark, dir) => {
      // the q_label_prop communities, from the same builder, so Q
      // cannot drift from the labeling it scores
      val (edges, lbl) = majorityLabels(spark, dir)
      val eSame = edges
        .join(lbl.select(col("node").as("sn"), col("lbl").as("sl")),
          col("src") === col("sn"))
        .join(lbl.select(col("node").as("dn"), col("lbl").as("dl")),
          col("dst") === col("dn"))
        .filter(col("sl") === col("dl"))
        .agg(count(lit(1)).as("e_same"))
      val m2df = edges.agg(count(lit(1)).as("m2"))
      val sumSq = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .join(lbl, col("src") === col("node"))
        .groupBy(col("lbl")).agg(sum(col("deg")).as("deg_c"))
        .agg(sum(col("deg_c") * col("deg_c")).as("sum_sq"))
      eSame.crossJoin(m2df).crossJoin(sumSq)
        .select(col("e_same").cast("bigint"), col("m2").cast("bigint"),
          col("sum_sq").cast("bigint"),
          graft.functions.Portable.pround(
            (col("e_same") * col("m2") - col("sum_sq")).cast("double") /
              (col("m2") * col("m2")).cast("double"), 8).as("modularity"))
    },
    Some(s"""WITH $majorityLabelCtes,
             es AS (SELECT CAST(COUNT(*) AS BIGINT) AS e_same
                    FROM edges e
                    JOIN l2 s ON e.src = s.node
                    JOIN l2 d ON e.dst = d.node
                    WHERE s.lbl = d.lbl),
             mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM edges),
             dc AS (SELECT l.lbl AS lbl, SUM(deg) AS deg_c FROM
                      (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src) d
                    JOIN l2 l ON d.src = l.node GROUP BY l.lbl),
             sq AS (SELECT CAST(SUM(deg_c * deg_c) AS BIGINT) AS sum_sq FROM dc)
             SELECT e_same, m2, sum_sq,
               FLOOR((CAST(e_same * m2 - sum_sq AS DOUBLE) /
                      CAST(m2 * m2 AS DOUBLE)) * 100000000 + 0.5) / 100000000
                 AS modularity
             FROM es, mm, sq"""))

  /** INCREMENTAL triangle maintenance against a persisted adjacency
    * store — the graph-family member of the store discipline (and the
    * classic streaming-graph problem, cf. DOULION-lineage incremental
    * triangle counting): a nightly edge delta must update the standing
    * triangle census WITHOUT re-enumerating the base graph's triangles.
    * The base co-purchase graph (edges from orders ≢ 0 mod 10) persists
    * once as a doubled adjacency table bucketed on node, together with
    * its 1-row triangle census ([[triangleCensus]], the oriented-
    * intersection plan). Today's candidate edges anti-join the STORE
    * (an edge already in the base is not a delta), and the new
    * triangles partition exactly by how many delta edges they contain:
    *
    *   - add1 (one delta edge): per delta edge (u,v), common STORED
    *     neighbors of u and v — two joins against the bucketed
    *     adjacency, cost ∝ delta mass × degree;
    *   - add2 (two delta edges): delta wedges (two delta edges sharing
    *     a center) closed by a STORED edge;
    *   - add3 (three delta edges): the delta-only census (tiny).
    *
    * The output is the INCREMENTAL side only — base_tri + add1 + add2
    * + add3 = incr_tri; nothing in the query re-censuses the grown
    * graph (a full-census audit arm here would cost exactly what the
    * increment exists to avoid — measured 7 s sf0.1 / 32 s sf1, ~1×
    * q_triangle_count). The equality incr_tri ≡ census(base ∪ delta)
    * is proven twice OUTSIDE the steady-state plan: the DuckDB oracle
    * recomputes every category independently from raw tables, and the
    * Round12PropertiesSpec replay asserts the incremental sum equals a
    * from-scratch census of the grown graph.
    */
  private val triangleStore = Q(
    "q_triangle_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "tristore")
      val adjT = ws.table("tri_adj")
      val cenT = ws.table("tri_census")
      // no (o, p) pre-distinct — see q_triangle_count (r17): every use
      // goes through coPurchasePairs, whose pair-level DISTINCT absorbs
      // the fixture's rare (o, p) duplicate
      val op = orderParts(spark, dir)
      StoreOnce(ws.dir) {
        val bp = Caches.persisted(coPurchasePairs(op.filter(col("o") % 10 =!= 0)))
        // the store is the SORTED-ADJACENCY form (node → nbrs array),
        // not doubled edge rows: the incremental channels then run as
        // per-delta-edge array probes (intersect / contains) instead of
        // shuffling raw wedge rows — the same reason the census plan
        // intersects sorted adjacencies (measured: the row-form
        // channels cost ~2× the oriented census; the array form is ~6×
        // cheaper than it)
        Stores.create(bp.select(col("u").as("node"), col("v").as("nbr"))
            .unionAll(bp.select(col("v").as("node"), col("u").as("nbr")))
            .groupBy(col("node"))
            .agg(sort_array(collect_list(col("nbr"))).as("nbrs")),
          adjT, ws.path("adj"), Some("node"))
        Stores.create(triangleCensus(bp).select(col("n_triangles")),
          cenT, ws.path("census"), None)
      }
      val adj = spark.table(adjT)
      val baseTri = spark.table(cenT)
        .select(col("n_triangles").as("base_tri"))
      val emptyArr = array().cast("array<bigint>")
      // delta = today's pairs whose edge is absent from the stored
      // adjacency (membership = one array_contains against u's row)
      val delta = Caches.persisted(
        coPurchasePairs(op.filter(col("o") % 10 === 0))
          .join(adj.select(col("node").as("u"), col("nbrs").as("un")), Seq("u"), "left")
          .filter(col("un").isNull || !array_contains(col("un"), col("v")))
          .select(col("u"), col("v")))
      val add1 = delta
        .join(adj.select(col("node").as("u"), col("nbrs").as("na")), Seq("u"), "left")
        .join(adj.select(col("node").as("v"), col("nbrs").as("nb")), Seq("v"), "left")
        .select(size(array_intersect(coalesce(col("na"), emptyArr),
          coalesce(col("nb"), emptyArr))).as("t"))
        .agg(coalesce(sum(col("t")), lit(0L)).cast("bigint").as("add1"))
      val td = delta.select(col("u").as("cn"), col("v").as("nb"))
        .unionAll(delta.select(col("v").as("cn"), col("u").as("nb")))
      val add2 = td.select(col("cn"), col("nb").as("n1"))
        .join(td.select(col("cn"), col("nb").as("n2")), Seq("cn"))
        .filter(col("n1") < col("n2"))
        .join(adj.select(col("node").as("n1"), col("nbrs").as("cnb")), Seq("n1"), "left")
        .select(when(col("cnb").isNotNull && array_contains(col("cnb"), col("n2")), 1L)
          .otherwise(0L).as("m"))
        .agg(coalesce(sum(col("m")), lit(0L)).cast("bigint").as("add2"))
      val add3 = delta.select(col("u").as("x"), col("v").as("y"))
        .join(delta.select(col("u").as("y"), col("v").as("z")), Seq("y"))
        .join(delta.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"))
        .agg(count(lit(1)).cast("bigint").as("add3"))
      val edges = adj.agg((coalesce(sum(size(col("nbrs"))), lit(0L)) / 2)
          .cast("bigint").as("base_edges"))
        .crossJoin(delta.agg(count(lit(1)).cast("bigint").as("delta_edges")))
      edges.crossJoin(baseTri).crossJoin(add1).crossJoin(add2).crossJoin(add3)
        .select(col("base_edges"), col("delta_edges"), col("base_tri"),
          col("add1"), col("add2"), col("add3"),
          (col("base_tri") + col("add1") + col("add2") + col("add3"))
            .cast("bigint").as("incr_tri"))
    },
    Some(s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
            bp AS (SELECT DISTINCT a.p AS u, b.p AS v
                   FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
                   WHERE a.o % 10 <> 0),
            tp AS (SELECT DISTINCT a.p AS u, b.p AS v
                   FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
                   WHERE a.o % 10 = 0),
            delta AS (SELECT u, v FROM tp
                      WHERE NOT EXISTS (SELECT 1 FROM bp
                                        WHERE bp.u = tp.u AND bp.v = tp.v)),
            tb AS (SELECT u AS node, v AS nbr FROM bp
                   UNION ALL SELECT v, u FROM bp),
            td AS (SELECT u AS node, v AS nbr FROM delta
                   UNION ALL SELECT v, u FROM delta),
            c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS add1
                   FROM delta d
                   JOIN tb t1 ON t1.node = d.u
                   JOIN tb t2 ON t2.node = d.v AND t2.nbr = t1.nbr),
            c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS add2
                   FROM td a JOIN td b ON b.node = a.node AND a.nbr < b.nbr
                   JOIN bp e ON e.u = a.nbr AND e.v = b.nbr),
            c3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS add3
                   FROM delta d1
                   JOIN delta d2 ON d2.u = d1.v
                   JOIN delta d3 ON d3.u = d1.u AND d3.v = d2.v),
            bdeg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM tb
                     GROUP BY node),
            ${orientedCte("bo", "bp", "bdeg")},
            btri AS (SELECT CAST(COUNT(*) AS BIGINT) AS base_tri
                     ${trianglesOf("bo")})
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bp) AS base_edges,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM delta) AS delta_edges,
              base_tri, add1, add2, add3,
              CAST(base_tri + add1 + add2 + add3 AS BIGINT) AS incr_tri
            FROM btri, c1, c2, c3"""))

  /** APPROXIMATE clustering coefficient by deterministic wedge sampling
    * (VERDICT r13 task 5) — the sampled twin of the exact census:
    * q_local_clustering is the suite's most expensive id at every scale
    * factor (7.8 s sf0.1 / 26.9 s sf1) because exact per-node triangle
    * credit is linear in TRIANGLE mass; at 100 TB an operator reaches
    * for a wedge-sampling estimator first (Seshadhri et al.,
    * "Triadic Measures on Graphs: The Power of Wedge Sampling", SDM'13
    * lineage — see PAPERS.md) and runs the census only to calibrate it.
    * The estimator is DETERMINISTIC so DuckDB replays it exactly
    * (q_simple_random_sample's hash-sampling discipline, never rand()):
    * centers sample by hash60(node) ≡ 0 (mod 8); a sampled center's
    * neighborhood caps at its 32 smallest neighbors by
    * hash60(center:neighbor) (degree-capped neighborhood sampling —
    * hubs contribute a bounded pair census); the capped neighbor pairs
    * join the edge set once to count closures. Per center the closed
    * fraction scales to the center's TRUE wedge count W(v) =
    * deg(deg−1)/2 in exact integer arithmetic — t̂(v) = (closed · W(v)
    * · 10⁶) div pairs(v) — and the global estimate is Σt̂ div ΣW over
    * sampled centers (the wedge-weighted mean the true coefficient is
    * defined by). c_naive_ppm (unweighted closed/pairs) rides along as
    * the in-output audit: its divergence from c_est_ppm measures
    * exactly the cap/degree bias an operator must watch on a skewed
    * graph.
    *
    * Scale posture: the co-purchase edge derivation is shared with the
    * census (it IS the graph definition); past it, cost is one
    * degree pass + capped pair generation over ~1/8 of centers (≤496
    * pairs each, window-ranked per center — unbounded key parallelism)
    * + one equi-join against the edge set. No triangle-mass term, no
    * adjacency-array materialization. The accuracy-vs-exact check lives
    * in the spec at sf0.001 (the estimator is deterministic, so its
    * error is a fixture constant, not a random variable).
    */
  private val clusteringApprox = Q(
    "q_clustering_approx",
    (spark, dir) => {
      import graft.functions.Portable.hash60
      // no (o, p) pre-distinct — see q_triangle_count (r17)
      val e = Caches.persisted(coPurchasePairs(orderParts(spark, dir)))
      val sym = e.select(col("u").as("x"), col("v").as("n"))
        .unionAll(e.select(col("v").as("x"), col("u").as("n")))
      val deg = Caches.persisted(
        sym.groupBy(col("x")).agg(count(lit(1)).as("deg")))
      val centers = deg.filter(hash60(col("x")) % 8 === 0 && col("deg") >= 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("x"))
        .orderBy(hash60(concat_ws(":", col("x").cast("string"),
          col("n").cast("string"))), col("n"))
      val cn = Caches.persisted(
        sym.join(centers.select(col("x")), "x")
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 32)
          .select(col("x"), col("n")))
      val cp = cn.as("a").join(cn.as("b"),
          col("a.x") === col("b.x") && col("a.n") < col("b.n"))
        .select(col("a.x").as("ctr"), col("a.n").as("p1"), col("b.n").as("p2"))
      val cl = cp.join(e, col("p1") === col("u") && col("p2") === col("v"), "left")
        .groupBy(col("ctr"))
        .agg(count(lit(1)).as("pairs_c"), count(col("u")).as("closed_c"))
      val per = cl.join(deg.select(col("x").as("ctr"), col("deg")), "ctr")
        .select(col("pairs_c"), col("closed_c"),
          expr("(deg * (deg - 1)) div 2").as("w"),
          expr("(closed_c * ((deg * (deg - 1)) div 2) * 1000000) div pairs_c")
            .as("th"))
      per.agg(count(lit(1)).cast("bigint").as("n_centers"),
          sum(col("pairs_c")).cast("bigint").as("n_wedges_sampled"),
          sum(col("closed_c")).cast("bigint").as("n_closed"),
          sum(col("th")).as("st"), sum(col("w")).as("sw"))
        .select(col("n_centers"), col("n_wedges_sampled"), col("n_closed"),
          when(col("sw") === 0, lit(null).cast("long"))
            .otherwise(expr("st div sw")).cast("long").as("c_est_ppm"),
          when(col("n_wedges_sampled") === 0, lit(null).cast("long"))
            .otherwise(expr("(n_closed * 1000000) div n_wedges_sampled"))
            .cast("long").as("c_naive_ppm"))
    },
    Some(s"""WITH ${sampledClosureCtes(32)},
            per AS (SELECT cl.pairs_c, cl.closed_c,
                      (d.deg * (d.deg - 1)) // 2 AS w,
                      (cl.closed_c * ((d.deg * (d.deg - 1)) // 2) * 1000000)
                        // cl.pairs_c AS th
                    FROM cl JOIN deg d ON d.x = cl.ctr)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_centers,
              CAST(SUM(pairs_c) AS BIGINT) AS n_wedges_sampled,
              CAST(SUM(closed_c) AS BIGINT) AS n_closed,
              CASE WHEN SUM(w) = 0 THEN NULL
                   ELSE CAST(SUM(th) // SUM(w) AS BIGINT) END AS c_est_ppm,
              CASE WHEN SUM(pairs_c) = 0 THEN NULL
                   ELSE CAST(SUM(closed_c) * 1000000 // SUM(pairs_c) AS BIGINT)
              END AS c_naive_ppm
            FROM per"""))

  /** APPROXIMATE neighborhood-Jaccard link prediction by LSH-banded
    * minhash sketches of adjacency sets (VERDICT r14 task 3) — the
    * sketched twin of q_graph_jaccard, which is the suite's
    * second-most-expensive graph id at sf1 (15 s) with an edge-derivation
    * floor that is ~2/3 of that total. A twin that replays the wedge
    * enumeration can only ever shave the last third; this one changes
    * the SHAPE of the computation to the dedup suite's own sketch-join
    * discipline (Li & König's b-bit minwise hashing prices the
    * estimator — q_bbit_minhash; the banding is [[DedupQueries]]'
    * minhash-LSH applied to the graph, each node a "document" whose
    * "shingles" are its neighbors):
    *
    *   - the 16-way XOR-minhash sketch of every node's neighbor set
    *     folds in ONE partial-aggregated pass over the NON-distinct
    *     (customer, supplier) contact rows — min() is duplicate-blind,
    *     so the twin skips the exact census's global edge distinct (the
    *     floor's dominant shuffle) entirely: one md5-derived hash per
    *     contact, 16 codegen'd XOR permutations
    *     ([[DedupQueries.minhashSigs]]'s seed family);
    *   - candidate pairs come from a 4-band × 4-row LSH bucket
    *     self-join on the sketches — NO wedge enumeration, no
    *     triangle-mass term: candidate mass ∝ near-duplicate
    *     neighborhood mass (1 972 pairs at sf1 vs the census's 4.8M
    *     capped wedge pairs), and each band row already carries the
    *     full sketch, so agreement scores without re-joining;
    *   - est_ppm = matches·10⁶ div 16 over the 16-column sketch pair,
    *     top 20 by estimate, ties (n, m);
    *   - the emitted head pays a BOUNDED exact audit — true
    *     common-neighbor count and exact Jaccard from an edge relation
    *     filtered to the ≤40 head endpoints BEFORE the distinct (the
    *     only distinct anywhere), with within_2se flagging
    *     |est − exact| ≤ 250000 ppm = 2·√(j(1−j)/16) at the j = 1/2
    *     maximum — the exact-vs-estimate bound an operator watches
    *     before trusting the sketch head. Cross-side band collisions
    *     (true Jaccard 0) survive via left-join + coalesce rather than
    *     silently dropping.
    *
    * The candidate semantics differ from the census deliberately: the
    * census enumerates ALL capped distance-2 pairs; the twin surfaces
    * the high-similarity HEAD (banding recall at j ≥ 0.8 is ~93%, and
    * the head is what link-prediction serves). That is the trade every
    * sketch index makes, disclosed here as q_clustering_approx
    * disclosed its center sampling.
    *
    * Scale posture: one contact-relation pass (no global distinct, no
    * edge materialization), one node-id shuffle for the sketch (16
    * partial mins), a 4-rows-per-node bucket join whose output is
    * near-dup mass, and an audit ∝ the 20 emitted pairs'
    * neighborhoods. Every stage is linear in contacts or sub-linear in
    * nodes; nothing scales with wedge or triangle mass.
    */
  private val jaccardApprox = Q(
    "q_jaccard_approx",
    (spark, dir) => {
      import graft.functions.Portable.hash60
      val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // NON-distinct contact rows: min() is duplicate-blind, so the
      // sketch never pays tradeEdges' global distinct. Persisted: the
      // symmetrized relation and the audit arm otherwise re-run the
      // orders-lineitem join three times over.
      val contacts = Caches.persisted(
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v")))
      val sym = contacts.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(contacts.select(col("v").as("src"), col("u").as("dst")))
      val mhCols = DedupQueries.minhashSeeds.zipWithIndex.map { case (k, i) =>
        min(col("hx").bitwiseXOR(lit(k))).as(s"mh$i")
      }
      val sk = Caches.persisted(
        sym.select(col("src"), hash60(col("dst")).as("hx"))
          .groupBy(col("src")).agg(mhCols.head, mhCols.tail: _*))
      // NARROW band rows (src, bandkey) only: the full 17-column sketch
      // riding both sides of the bucket self-join measured ~2x the join's
      // cost in shuffle width; the candidate head re-joins the sketches
      // as a broadcast of the (tiny) pair relation instead
      val bands = Caches.persisted(
        sk.select(col("src"),
          explode(array((0 until 4).map(b =>
            concat(lit(s"$b:"), concat_ws(",",
              (0 until 4).map(i => col(s"mh${b * 4 + i}").cast("string")): _*))): _*))
            .as("bandkey")))
      val cand = bands.select(col("src").as("n"), col("bandkey"))
        .join(bands.select(col("src").as("m"), col("bandkey")), "bandkey")
        .filter(col("n") < col("m"))
        .select(col("n"), col("m")).distinct()
      val ska = sk.select(col("src").as("n") +:
        (0 until 16).map(i => col(s"mh$i").as(s"am$i")): _*)
      val skb = sk.select(col("src").as("m") +:
        (0 until 16).map(i => col(s"mh$i").as(s"bm$i")): _*)
      val matchesE = (0 until 16).map(i =>
        when(col(s"am$i") === col(s"bm$i"), 1L).otherwise(0L)).reduce(_ + _)
      // no broadcast hints: cand is near-dup-mass sized, so AQE picks the
      // broadcast side from its measured runtime size (the q_graph_jaccard
      // deg-join posture) instead of a hardcoded bet
      val top = Caches.persisted(
        cand.join(ska, "n").join(skb, "m")
          .select(col("n"), col("m"), matchesE.as("matches"))
          .select(col("n"), col("m"), col("matches"),
            expr("matches * 1000000 div 16").as("est_ppm"))
          .orderBy(col("est_ppm").desc, col("n"), col("m"))
          .limit(20))
      // bounded exact audit: the ≤40 head endpoints' edges, filtered
      // BEFORE the (only) distinct. The collect + isin literal stays
      // (r17 measured NEGATIVE result: a broadcast semi-join in its
      // place benched 0.84× in matched quiet windows — the literal
      // filter codegens straight into the cached-contact scan, and the
      // saved job did not pay for the lost pushdown)
      val ids = top.select(col("n")).unionAll(top.select(col("m")))
        .distinct().collect().map(_.getAs[Number](0).longValue).toSeq
      val eSmall = Caches.persisted(
        sym.filter(if (ids.isEmpty) lit(false) else col("src").isin(ids: _*))
          .distinct())
      val degS = eSmall.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val topP = broadcast(top)
      val an = topP.select(col("n"), col("m"))
        .join(eSmall, col("src") === col("n"))
        .select(col("n"), col("m"), col("dst").as("w"))
      val cn = broadcast(an)
        .join(eSmall.select(col("src").as("ms"), col("dst").as("w")), Seq("w"))
        .filter(col("ms") === col("m"))
        .groupBy(col("n"), col("m")).agg(count(lit(1)).as("cn"))
      topP
        .join(cn, Seq("n", "m"), "left")
        .join(broadcast(degS.select(col("src").as("n"), col("deg").as("da"))), Seq("n"))
        .join(broadcast(degS.select(col("src").as("m"), col("deg").as("db"))), Seq("m"))
        .select(col("n"), col("m"), col("matches"), col("est_ppm"),
          expr("coalesce(cn, 0) * 1000000 div (da + db - coalesce(cn, 0))")
            .as("exact_ppm"))
        .withColumn("within_2se",
          when(abs(col("est_ppm") - col("exact_ppm")) <= 250000, lit(1))
            .otherwise(lit(0)).cast("int"))
        .orderBy(col("est_ppm").desc, col("n"), col("m"))
    },
    Some {
      val mhSql = DedupQueries.minhashSeeds.zipWithIndex
        .map { case (k, i) => s"MIN(xor(hx, $k)) AS mh$i" }
        .mkString(",\n                      ")
      val bandSql = (0 until 4).map { b =>
        val sig = (b * 4 until b * 4 + 4).map(i => s"CAST(mh$i AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT src, '$b:' || $sig AS bandkey FROM sk"
      }.mkString("\n                    UNION ALL ")
      val mmSql = (0 until 16).map(i =>
        s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH contacts AS (SELECT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
                            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             sym AS (SELECT u AS src, v AS dst FROM contacts
                     UNION ALL SELECT v, u FROM contacts),
             sk AS MATERIALIZED (SELECT src,
                      $mhSql
                    FROM (SELECT src, CAST('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 15)
                            AS BIGINT) AS hx FROM sym)
                    GROUP BY src),
             bands AS MATERIALIZED ($bandSql),
             cand AS (SELECT DISTINCT x.src AS n, y.src AS m
                      FROM bands x JOIN bands y
                        ON x.bandkey = y.bandkey AND x.src < y.src),
             est AS (SELECT c.n, c.m, CAST($mmSql AS BIGINT) AS matches
                     FROM cand c
                     JOIN sk a ON a.src = c.n
                     JOIN sk b ON b.src = c.m),
             top AS MATERIALIZED (SELECT n, m, matches,
                       CAST(matches * 1000000 // 16 AS BIGINT) AS est_ppm
                     FROM est ORDER BY est_ppm DESC, n, m LIMIT 20),
             edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM sym
                      WHERE src IN (SELECT n FROM top UNION SELECT m FROM top)),
             degs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                      FROM edges GROUP BY src),
             cn AS (SELECT t.n, t.m, CAST(COUNT(*) AS BIGINT) AS cn
                    FROM top t
                    JOIN edges ea ON ea.src = t.n
                    JOIN edges eb ON eb.src = t.m AND eb.dst = ea.dst
                    GROUP BY t.n, t.m)
             SELECT t.n, t.m, t.matches, t.est_ppm,
               CAST((COALESCE(cn.cn, 0) * 1000000)
                 // (da.deg + db.deg - COALESCE(cn.cn, 0)) AS BIGINT)
                 AS exact_ppm,
               CAST(CASE WHEN ABS(t.est_ppm - ((COALESCE(cn.cn, 0) * 1000000)
                   // (da.deg + db.deg - COALESCE(cn.cn, 0)))) <= 250000
                 THEN 1 ELSE 0 END AS INT) AS within_2se
             FROM top t
             LEFT JOIN cn ON cn.n = t.n AND cn.m = t.m
             JOIN degs da ON da.src = t.n
             JOIN degs db ON db.src = t.m
             ORDER BY t.est_ppm DESC, t.n, t.m"""
    })

  /** SAMPLED twin of q_local_clustering's per-node decile histogram
    * (VERDICT r15 task 4 / r16 task 2) — the census is the suite's most
    * expensive id at every scale factor because exact per-node triangle
    * credit is linear in TRIANGLE mass; at 100 TB an operator profiles
    * the ego-density DISTRIBUTION from a deterministic node sample and
    * runs the census only on audit cadence. Same estimator discipline
    * as q_clustering_approx (Seshadhri et al. wedge sampling, PAPERS.md;
    * q_simple_random_sample's hash-sampling rule — never rand()):
    * centers sample by hash60(node) ≡ 0 (mod 8); a center's
    * neighborhood caps at its 16 smallest neighbors by
    * hash60(center:neighbor) (cap 16, not 32: C(16,2) = 120 wedge
    * samples bound the per-center se at ~0.05 — half a decile bucket —
    * while a 32-cap's C(32,2) = 496 pairs made the capped census as
    * large as the FULL pair relation at bench scale, measured 1.25M vs
    * 1.20M rows at sf0.1); the capped pairs join the edge set once
    * and the per-center closed fraction IS the local coefficient
    * estimate — ĉ(v) = (closed·10⁶) div pairs, which for deg ≤ 16
    * (pairs = all W(v) wedges, closed = T(v)) equals the census's
    * (2T·10⁶) div (deg(deg−1)) EXACTLY, same integer division. The
    * decile histogram (bucket, n_nodes, mean_c) then mirrors the
    * census's rollup over the sampled centers.
    *
    * Scale posture — the twin never materializes the GLOBAL co-purchase
    * graph at all (the census's edge derivation pays a full pair
    * fan-out + global distinct before any triangle work; the same
    * discipline as q_jaccard_approx skipping tradeEdges' distinct):
    *   - the center filter applies to the RAW (order, part) projection
    *     BEFORE the co-purchase self-join, so only ~1/8 of the contact
    *     mass is ever paired for neighborhoods;
    *   - neighbor capping runs on NON-distinct contact rows via
    *     dense_rank (duplicate-blind: equal (center, neighbor) rows tie
    *     on the hash key and share a rank, so the kept set is exactly
    *     the 32 smallest DISTINCT neighbors) — no global edge distinct;
    *   - the closure test joins the capped pairs against a
    *     candidate-restricted pair relation (the raw projection
    *     semi-joined to the capped neighbors first), never the full
    *     graph. Cost is linear in sampled contact mass — no
    *     triangle-mass term, no adjacency arrays, no 3-corner credit.
    * The shuffle-byte gap vs the census is pinned by ShuffleMeter in
    * Round17PropertiesSpec; the estimator is deterministic, so its
    * accuracy at a fixture is a constant the oracle replays exactly
    * (the oracle SQL states the same semantics over the DISTINCT edge
    * set — duplicate-blindness makes the two forms provably equal).
    */
  private val localClusteringSampled = Q(
    "q_local_clustering_sampled",
    (spark, dir) => {
      import graft.functions.Portable.hash60
      import org.apache.spark.sql.expressions.Window
      val opRaw = orderParts(spark, dir)
      // ONE order-keyed exchange serves both self-joins (guide §2.4
      // "two operations keyed the same way share one exchange"): the
      // neighborhood join and the closure-edge fan-out both read this
      // cached layout co-partitioned, so the raw projection crosses the
      // wire exactly once in the whole query
      val opO = Caches.persisted(opRaw.repartition(col("o")))
      // sampled-center contacts: filter BEFORE the self-join
      val symS = opO.filter(hash60(col("p")) % 8 === 0)
        .select(col("o"), col("p").as("x"))
        .join(opO, "o")
        .filter(col("p") =!= col("x"))
        .select(col("x"), col("p").as("n"))
      // dense_rank is duplicate-blind: equal (x, n) rows tie on the
      // (hash, n) key, so rk enumerates DISTINCT neighbors in hash
      // order — the same 32-smallest-by-hash set the distinct-edge form
      // keeps. The post-cap distinct runs over capped rows only.
      val w = Window.partitionBy(col("x"))
        .orderBy(hash60(concat_ws(":", col("x").cast("string"),
          col("n").cast("string"))), col("n"))
      val cn = Caches.persisted(
        symS.withColumn("rk", dense_rank().over(w)).filter(col("rk") <= 16)
          .select(col("x"), col("n")).distinct())
      val cp = Caches.persisted(cn.as("a").join(cn.as("b"),
          col("a.x") === col("b.x") && col("a.n") < col("b.n"))
        .select(col("a.x").as("ctr"), col("a.n").as("p1"), col("b.n").as("p2")))
      // closure edges, Bloom-pre-filtered (guide §3.2 manual Bloom): the
      // only pairs whose existence the twin ever asks about are the
      // capped (p1, p2) queries, so a Bloom filter over their packed
      // keys drops nearly all of the co-purchase pair fan-out BEFORE
      // the distinct exchange — false positives only add a few rows to
      // that exchange, never a wrong closure (no false negatives).
      // Sizing: capped pairs ≤ (sampled centers) × C(32,2), in practice
      // ≈ contacts/4 at this shape; at cluster scale the operator sizes
      // by the sampled-center census the same way (bits ∝ items, and an
      // undersized filter only degrades bytes, never results).
      val pk = (col("p1") * lit(4294967296L) + col("p2")).as("pk")
      val nLines = Tables(spark, dir, "lineitem").count()
      // the -1 sentinel keeps the filter non-degenerate on an empty
      // corpus (a zero-row build yields a bitless filter that NPEs on
      // probe); packed keys are ≥ 2^32, so the sentinel never matches
      val bf = cp.select(pk)
        .unionAll(spark.range(1).select(lit(-1L).as("pk")))
        .stat.bloomFilter("pk", math.max(1000L, nLines / 2), 0.02)
      val bfB = spark.sparkContext.broadcast(bf)
      Caches.defer(() => bfB.destroy())
      val mightPair = udf((u: Long, v: Long) =>
        bfB.value.mightContainLong(u * 4294967296L + v))
      val eCand = opO.join(opO.withColumnRenamed("p", "q"), "o")
        .filter(col("p") < col("q"))
        .filter(mightPair(col("p"), col("q")))
        .select(col("p").as("u"), col("q").as("v")).distinct()
      val cl = cp.join(eCand, col("p1") === col("u") && col("p2") === col("v"), "left")
        .groupBy(col("ctr"))
        .agg(count(lit(1)).as("pairs_c"), count(col("u")).as("closed_c"))
      deciles(cl.select(expr("(closed_c * 1000000) div pairs_c").as("c_u")))
    },
    Some(s"""WITH ${sampledClosureCtes(16)},
            cu AS (SELECT (closed_c * 1000000) // pairs_c AS c_u FROM cl)
            $decilesSql"""))

  val all: Seq[Q] = Seq(ccDedup, graphDegree, pageRank, triangleCount,
    kcore, graphJaccard, assortativity, localClustering, bfsLevels,
    labelProp, modularity, triangleStore, clusteringApprox, jaccardApprox,
    localClusteringSampled)
}
