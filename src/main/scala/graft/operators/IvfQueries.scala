package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable.pround
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style similarity search and LSH-bucketed embedding near-dup — the
  * scale paths that avoid the quadratic compare.
  */
object IvfQueries {

  /** The fixed centroid model, broadcast: the vectors vec_id < 10 of `e`
    * (a real deployment would k-means these; the assignment and routed
    * search are the engine operators). */
  private def centroids(e: DataFrame): DataFrame =
    broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb")))

  /** Nearest-centroid assignment of `rel` (cosine rank 1, cid tiebreak):
    * vec_id, the `keep` columns, and `cluster`. */
  private def nearestCentroid(rel: DataFrame, cents: DataFrame, cluster: Column,
      keep: String*): DataFrame = {
    val kept = ("vec_id" +: keep).map(col)
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    rel.crossJoin(cents)
      .select(kept ++ Seq(col("cid"),
        VectorOps.cosine(col("embedding"), col("cemb")).as("ccos")): _*)
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(kept :+ cluster.as("cluster"): _*)
  }

  /** The routed probe of vec_id 0 over the stored IVF layout. The
    * driver-side router picks the probe's nprobe = 2 nearest centroids
    * (bounded model state, two ints — the router is client-side in every
    * real IVF serving stack); the returned search reads only those
    * clusters' partitions of a store table (a `cluster IN (…)`
    * PartitionFilter) and keeps the top-10 by rounded cosine, vec_id
    * tiebreak, with the `extra` columns. */
  private def routedSearch(e: DataFrame, cents: DataFrame): (String, Seq[Column]) => DataFrame = {
    val routedIds = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("p")).crossJoin(cents)
      .select(col("cid"), VectorOps.cosine(col("p"), col("cemb")).as("ccos"))
      .orderBy(col("ccos").desc, col("cid")).limit(2)
      .collect().map(_.getAs[Number](0).intValue).toSeq
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("p")))
    (t, extra) => e.sparkSession.table(t)
      .filter(if (routedIds.isEmpty) lit(false)
              else col("cluster").isin(routedIds: _*))
      .crossJoin(probe)
      .select(Seq(col("vec_id"), col("cluster").cast("int").as("cluster"),
        pround(VectorOps.cosine(col("embedding"), col("p")), 4).as("cos")) ++ extra: _*)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Attributes a row to the base or the `vintage` (vec_id ≡ `m` mod 10). */
  private def vintageSrc(m: Int, vintage: String): Column =
    when(col("vec_id") % 10 === m, lit(vintage)).otherwise(lit("base")).as("src")

  /** `df` under a `phase` label. */
  private def phased(df: DataFrame, phase: String): DataFrame =
    df.select(lit(phase).as("phase") +: df.columns.toSeq.map(col): _*)

  /** Oracle CTE `assign`: each `scored` vector's nearest centroid. */
  private val assignCte =
    """assign AS (SELECT vec_id, cid AS cluster FROM (
         SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY ccos DESC, cid) AS rn
         FROM scored)
       WHERE rn = 1)"""

  /** Oracle CTEs over the corpus as cast vectors `e`: `cents`, `scored`,
    * [[assignCte]], and the probe vector `pv`. */
  private val corpusAssignCtes =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT vec_id AS cid, v AS cemb FROM e WHERE vec_id < 10),
        scored AS (SELECT e.vec_id, c.cid,
                     list_cosine_similarity(e.v, c.cemb) AS ccos
                   FROM e CROSS JOIN cents c),
        $assignCte,
        pv AS (SELECT v FROM e WHERE vec_id = 0)"""

  /** Oracle twin of [[routedSearch]] over a stored population `rel` (the
    * embeddings rows matching `where`, aliased `alias`): `cents`, `scored`,
    * [[assignCte]], `probe` and the nprobe = 2 `routed` cells. */
  private def routedCtes(rel: String, alias: String, where: String): String =
    s"""cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
                  FROM embeddings WHERE vec_id < 10),
        $rel AS (SELECT vec_id, embedding FROM embeddings WHERE $where),
        scored AS (SELECT $alias.vec_id, c.cid,
                     list_cosine_similarity(CAST($alias.embedding AS DOUBLE[]), c.cemb) AS ccos
                   FROM $rel $alias CROSS JOIN cents c),
        $assignCte,
        probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings
                  WHERE vec_id = 0),
        routed AS (SELECT c.cid FROM cents c, probe
                   ORDER BY list_cosine_similarity(probe.p, c.cemb) DESC, c.cid
                   LIMIT 2)"""

  /** The routed search over [[routedCtes]]'s `rel`, with `extra` columns. */
  private def servedSql(rel: String, alias: String, extra: String = ""): String =
    s"""SELECT $alias.vec_id, CAST(a.cluster AS INT) AS cluster,
          FLOOR((list_cosine_similarity(CAST($alias.embedding AS DOUBLE[]), probe.p))
            * 10000 + 0.5) / 10000 AS cos$extra
        FROM $rel $alias JOIN assign a ON a.vec_id = $alias.vec_id, probe
        WHERE a.cluster IN (SELECT cid FROM routed)"""

  /** Oracle of the grown IVF store served before (`pre`) and after
    * (`post`) a verb that keeps only the rows matching `postWhere`. */
  private def prePostOracle(extra: String, postWhere: String, cols: String): String =
    s"""WITH ${routedCtes("grown", "g", "vec_id % 10 <> 0")},
        served AS (${servedSql("grown", "g", extra)}),
        pre AS (SELECT * FROM served ORDER BY cos DESC, vec_id LIMIT 10),
        post AS (SELECT * FROM served WHERE $postWhere
                 ORDER BY cos DESC, vec_id LIMIT 10)
        SELECT phase, $cols FROM (
          SELECT 'pre' AS phase, * FROM pre
          UNION ALL
          SELECT 'post', * FROM post)
        ORDER BY phase, cos DESC, vec_id"""

  /** IVF (inverted-file) KNN: vectors are assigned to the nearest of 10
    * fixed centroids (vec_id 0..9 — a real deployment would k-means these;
    * the *assignment and probe-cluster search* is the engine operator), and
    * the probe searches only its own cluster — at scale this reads ~1/10th
    * of the data from a cluster-partitioned layout. Assignment uses an
    * explicit ranking window with a deterministic tiebreak so both engines
    * agree.
    */
  private val knnIvf = Q(
    "q_knn_ivf",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      val assign = nearestCentroid(e, centroids(e), col("cid"), "embedding")
      val probe = broadcast(assign.filter(col("vec_id") === 0)
        .select(col("embedding").as("p"), col("cluster").as("pcluster")))
      assign
        .join(probe, col("cluster") === col("pcluster"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("cluster"),
          pround(VectorOps.cosine(col("embedding"), col("p")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
                           FROM embeddings WHERE vec_id < 10),
            scored AS (SELECT e.vec_id, c.cid,
                         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cemb) AS ccos
                       FROM embeddings e CROSS JOIN cents c),
            $assignCte,
            probe AS (SELECT CAST(e.embedding AS DOUBLE[]) AS p, a.cluster AS pcluster
                      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
                      WHERE e.vec_id = 0)
            SELECT e.vec_id, a.cluster,
              FLOOR((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), probe.p)) * 10000 + 0.5) / 10000 AS cos
            FROM embeddings e
            JOIN assign a ON e.vec_id = a.vec_id, probe
            WHERE a.cluster = probe.pcluster AND e.vec_id <> 0
            ORDER BY cos DESC, e.vec_id LIMIT 10"""))

  /** LSH-bucketed embedding near-dup: candidate pairs share a hyperplane
    * bucket (same plane family as q_knn_lsh), scored exactly, top-20.
    * The bucket equi-join replaces the all-pairs cross join — the shuffle
    * keys on the bucket id, so the work partitions across the cluster.
    * The plane count is DATA-DRIVEN (the q_knn_join mechanism: one cheap
    * count, then the smallest k ≥ 4 keeping expected bucket population
    * ≤ 32): a fixed depth makes every bucket deepen linearly with corpus
    * size and the within-bucket pair mass grow QUADRATICALLY — the
    * round-8 sf1 pass measured exactly that (11.8× at 10× rows with 4
    * fixed planes); with the adaptive depth the candidate generation
    * stays linear-per-row at any scale. The oracle derives the identical
    * plane count from its own COUNT(*).
    */
  private val dedupEmbedLsh = Q(
    "q_dedup_embed_lsh",
    (spark, dir) => {
      val n = Tables(spark, dir, "embeddings").count()
      val bucket = VectorQueries.bucketKey(VectorQueries.planeSigns(
        VectorQueries.planesFor(n), VectorQueries.embeddingDim(spark, dir)))
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), bucket.as("bk"))
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("bk"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("bk"))
      a.join(b, Seq("bk"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("bk"),
          pround(VectorOps.cosine(col("ea"), col("eb")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
        .limit(20)
    },
    Some(s"""WITH ${VectorQueries.corpusBucketCtes}
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ba.bk,
              FLOOR((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
            FROM embeddings a
            JOIN buckets ba ON a.vec_id = ba.vec_id
            JOIN buckets bb ON bb.bk = ba.bk
            JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
            ORDER BY cos DESC, vec_a, vec_b LIMIT 20"""))

  /** IVF tuning curve — recall@10 as a function of nprobe (how many of
    * the nearest clusters the probe searches: 1, 2, 4), the measurement
    * every IVF deployment runs before picking its latency/recall
    * operating point (q_knn_ivf is the nprobe=1 column of this table;
    * q_ann_recall audits the LSH index the same way). Per nprobe:
    * candidates scanned, hits against the q_knn_brute top-10, recall.
    *
    * Scale posture: assignment is the q_knn_ivf shape (10-row broadcast
    * centroid table, per-vec_id ranking window); the candidate relation
    * (clusters ranked ≤ 4 by the probe) is cached once and consumed by
    * three TakeOrdered(10) heads — per-partition top-k merges, never a
    * global sort — plus one bounded census; the nprobe expansion is a
    * 3-row broadcast. The only unpartitioned window ranks the 10-row
    * centroid relation.
    */
  private val ivfRecallSweep = Q(
    "q_ivf_recall_sweep",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      val cents = centroids(e)
      val assign = nearestCentroid(e, cents, col("cid"), "embedding")
      val probeVec = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p")))
      val prank = broadcast(cents.crossJoin(probeVec)
        .select(col("cid"), VectorOps.cosine(col("cemb"), col("p")).as("pcos"))
        .withColumn("prank",
          row_number().over(Window.orderBy(col("pcos").desc, col("cid"))))
        .select(col("cid"), col("prank")))
      val candCos = graft.Caches.persisted(
        assign.filter(col("vec_id") =!= 0)
          .join(prank, col("cluster") === col("cid"))
          .filter(col("prank") <= 4)
          .crossJoin(probeVec)
          .select(col("vec_id"), col("prank"),
            pround(VectorOps.cosine(col("embedding"), col("p")), 4).as("cos")))
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(probeVec)
        .select(col("vec_id"),
          pround(VectorOps.cosine(col("embedding"), col("p")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
      val tops = Seq(1, 2, 4).map { k =>
        candCos.filter(col("prank") <= k)
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select(lit(k).as("nprobe"), col("vec_id"))
      }.reduce(_ unionAll _)
      val nprobes = spark.range(3)
        .select(when(col("id") === 0, 1).when(col("id") === 1, 2).otherwise(4)
          .as("nprobe"))
      // per-prank counts first (≤ 4 rows), then the 3-row sweep LEFT-joins
      // them — so every nprobe row survives even when a cluster is empty
      // (the oracle's VALUES-driven LEFT JOIN shape)
      val prankCounts = candCos.groupBy(col("prank")).agg(count(lit(1)).as("c"))
      val nCand = nprobes.join(broadcast(prankCounts),
          col("prank") <= col("nprobe"), "left")
        .groupBy(col("nprobe"))
        .agg(coalesce(sum(col("c")), lit(0L)).cast("bigint").as("n_cand"))
      val hits = tops
        .join(brute.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).cast("bigint").as("hits"))
      val k = broadcast(brute.agg(count(lit(1)).cast("bigint").as("k")))
      nCand.join(hits, Seq("nprobe"), "left")
        .crossJoin(k)
        .select(col("nprobe"), col("n_cand"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          // empty-corpus guard (k = 0): the q_minhash_recall NULL rule
          when(col("k") === 0, lit(null).cast("double"))
            .otherwise(pround(coalesce(col("hits"), lit(0L)).cast("double") /
              col("k").cast("double"), 4)).as("recall"))
        .orderBy(col("nprobe"))
    },
    Some(s"""WITH $corpusAssignCtes,
            prank AS (SELECT cid,
                        row_number() OVER (ORDER BY pcos DESC, cid) AS prank
                      FROM (SELECT c.cid,
                              list_cosine_similarity(c.cemb, pv.v) AS pcos
                            FROM cents c, pv)),
            cand AS (SELECT x.vec_id, p.prank,
                       FLOOR((list_cosine_similarity(x.v, pv.v)) * 10000 + 0.5) / 10000 AS cos
                     FROM e x
                     JOIN assign a ON a.vec_id = x.vec_id
                     JOIN prank p ON p.cid = a.cluster, pv
                     WHERE p.prank <= 4 AND x.vec_id <> 0),
            t1 AS (SELECT 1 AS nprobe, vec_id FROM cand WHERE prank <= 1
                   ORDER BY cos DESC, vec_id LIMIT 10),
            t2 AS (SELECT 2 AS nprobe, vec_id FROM cand WHERE prank <= 2
                   ORDER BY cos DESC, vec_id LIMIT 10),
            t4 AS (SELECT 4 AS nprobe, vec_id FROM cand WHERE prank <= 4
                   ORDER BY cos DESC, vec_id LIMIT 10),
            tops AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2
                     UNION ALL SELECT * FROM t4),
            brute AS (SELECT x.vec_id,
                        FLOOR((list_cosine_similarity(x.v, pv.v)) * 10000 + 0.5) / 10000 AS cos
                      FROM e x, pv WHERE x.vec_id <> 0
                      ORDER BY cos DESC, x.vec_id LIMIT 10),
            kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM brute),
            nc AS (SELECT n.nprobe, CAST(COUNT(c.vec_id) AS BIGINT) AS n_cand
                   FROM (VALUES (1), (2), (4)) AS n(nprobe)
                   LEFT JOIN cand c ON c.prank <= n.nprobe
                   GROUP BY n.nprobe),
            h AS (SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS hits
                  FROM tops t
                  WHERE t.vec_id IN (SELECT vec_id FROM brute)
                  GROUP BY t.nprobe)
            SELECT nc.nprobe, nc.n_cand, COALESCE(h.hits, 0) AS hits,
              CASE WHEN kk.k = 0 THEN NULL
                   ELSE FLOOR((CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(kk.k AS DOUBLE))
                     * 10000 + 0.5) / 10000 END AS recall
            FROM nc LEFT JOIN h ON h.nprobe = nc.nprobe CROSS JOIN kk
            ORDER BY nc.nprobe"""))

  /** IVF-PQ composed search — the production ANN architecture (FAISS
    * IndexIVFPQ; Jégou et al. TPAMI'11 §V): coarse IVF routing bounds the
    * bytes READ (the probe scans only its nprobe=2 nearest of 10 coarse
    * cells), then the int8 ADC funnel of q_knn_pq scores ONLY those
    * candidates (4× fewer bytes STORED), top-20 shortlist, exact re-rank,
    * recall@10 against q_knn_brute. q_knn_ivf demonstrates routing alone
    * and q_knn_pq quantization alone; a deployment runs both at once, and
    * the recall compounds the two losses — which is why the composed
    * operator needs its own quality gate (the q_ivf_recall_sweep
    * methodology applied to the composed index). All approximate scores
    * are per-term µunit integer floors summed exactly (the q_dsir_weights
    * funnel); every ordering carries a vec_id tiebreak.
    *
    * Scale posture (100 TB): centroids, probe vector, probe-cell ranking
    * and the per-dimension calibration are all bounded broadcasts; the
    * candidate-id relation is an equi-join of the assignment against the
    * 2-row routed-cell table; the ADC scan touches only routed candidates
    * and ends in a TakeOrdered(20) head; the exact re-rank reads 20
    * vectors. Nothing shuffles embedding payloads except the per-vec_id
    * partial sums.
    */
  private val ivfPq = Q(
    "q_ivf_pq",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      val cents = centroids(e)
      val assign = nearestCentroid(e, cents, col("cid"))
      val probeVec = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p")))
      val routed = broadcast(cents.crossJoin(probeVec)
        .select(col("cid"), VectorOps.cosine(col("cemb"), col("p")).as("pcos"))
        .withColumn("prank",
          row_number().over(Window.orderBy(col("pcos").desc, col("cid"))))
        .filter(col("prank") <= 2)
        .select(col("cid")))
      val candIds = assign.join(routed, col("cluster") === col("cid"))
        .filter(col("vec_id") =!= 0).select(col("vec_id"))
      // int8 ADC over ONLY the routed candidates — the q_knn_pq funnel
      val x = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "xf")))
        .select(col("vec_id"), (col("d0") + 1).as("d"), col("xf").cast("double").as("x"))
      val cal = broadcast(x.groupBy(col("d")).agg(max(abs(col("x"))).as("amax")))
      val probeD = broadcast(x.filter(col("vec_id") === 0)
        .select(col("d"), col("x").as("p")))
      val approx = x.join(candIds, "vec_id")
        .join(cal, "d")
        .select(col("vec_id"), col("amax"), col("d"),
          when(col("amax") === 0d, lit(0d)).otherwise(
            greatest(lit(-127d), least(lit(127d),
              floor(col("x") / (col("amax") / 127d) + 0.5d)))).as("q"))
        .join(probeD, "d")
        .select(col("vec_id"),
          when(col("amax") === 0d, lit(0L)).otherwise(
            floor(col("p") * col("q") * (col("amax") / lit(127d)) * lit(1e6d))
              .cast("long")).as("t"))
        .groupBy(col("vec_id")).agg(sum(col("t")).as("approx_u"))
      val short20 = approx.orderBy(col("approx_u").desc, col("vec_id")).limit(20)
      val rerank = short20.join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .crossJoin(probeVec)
        .select(col("vec_id"),
          pround(VectorOps.cosine(col("embedding"), col("p")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(probeVec)
        .select(col("vec_id"),
          pround(VectorOps.cosine(col("embedding"), col("p")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
      val nCand = broadcast(candIds.agg(count(lit(1)).cast("bigint").as("n_cand")))
      brute.select(col("vec_id"))
        .join(rerank.select(col("vec_id").as("pq")), col("vec_id") === col("pq"), "left")
        .agg(count(lit(1)).cast("int").as("k"),
          count(col("pq")).cast("int").as("hits"))
        .crossJoin(nCand)
        .select(col("n_cand"), col("k"), col("hits"),
          // empty-corpus guard (k = 0): the q_minhash_recall NULL rule
          when(col("k") === 0, lit(null).cast("double"))
            .otherwise(pround(col("hits").cast("double") / col("k").cast("double"), 4))
            .as("recall"))
    },
    Some(s"""WITH $corpusAssignCtes,
            routed AS (SELECT cid FROM (
                         SELECT c.cid,
                           row_number() OVER (ORDER BY
                             list_cosine_similarity(c.cemb, pv.v) DESC, c.cid) AS prank
                         FROM cents c, pv)
                       WHERE prank <= 2),
            cand AS (SELECT a.vec_id FROM assign a
                     JOIN routed r ON r.cid = a.cluster
                     WHERE a.vec_id <> 0),
            x AS (SELECT vec_id, t.d, v[t.d] AS x
                  FROM e, UNNEST(generate_series(1, len(v))) AS t(d)),
            cal AS (SELECT d, MAX(ABS(x)) AS amax FROM x GROUP BY d),
            pr2 AS (SELECT d, x AS p FROM x WHERE vec_id = 0),
            ap AS (SELECT x.vec_id,
                     SUM(CASE WHEN cal.amax = 0 THEN 0
                          ELSE CAST(FLOOR(pr2.p *
                            (GREATEST(-127, LEAST(127, FLOOR(x.x / (cal.amax / 127) + 0.5))))
                            * (cal.amax / 127) * 1000000.0) AS BIGINT) END) AS approx_u
                   FROM x JOIN cand cd ON cd.vec_id = x.vec_id
                   JOIN cal ON cal.d = x.d
                   JOIN pr2 ON pr2.d = x.d
                   GROUP BY x.vec_id),
            short AS (SELECT vec_id FROM ap ORDER BY approx_u DESC, vec_id LIMIT 20),
            ${VectorQueries.rerankRecallSql(
              "(SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand, ")}"""))

  /** PERSISTED IVF index with a PARTITION-PRUNED routed probe — the IVF
    * half of the persisted-ANN story (q_ann_incremental persists LSH
    * buckets; a production IVF deployment persists the inverted file as
    * a CLUSTER-PARTITIONED layout): base vectors' nearest-centroid
    * assignments (the q_knn_ivf assignment, vectors vec_id ≡ 1..9 mod
    * 10 against the 10 fixed centroids) write once as an external table
    * partitionBy(cluster); the probe routes DRIVER-SIDE to its nprobe=2
    * nearest centroids (two ints of model state — the router is
    * client-side in every real IVF serving stack) and the search reads
    * ONLY those clusters' partitions — plan-pinned: the store scan
    * carries a `cluster IN (…)` PartitionFilter, so the probe touches
    * ~nprobe/k of the index files no matter how large the corpus. This
    * is the SCALE.md "cluster id becomes the partition column" claim,
    * turned from prose into a pinned plan.
    *
    * Scale posture: index build is one broadcast-centroid assignment
    * pass (once per ingest, [[StoreOnce]]); each probe
    * reads nprobe partitions + a broadcast 1-row probe vector; the
    * top-10 is a TakeOrdered head.
    */
  private val ivfStore = Q(
    "q_ivf_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "ivfstore")
      val sT = ws.table("ivf_store")
      val e = Tables(spark, dir, "embeddings")
      val cents = centroids(e)
      StoreOnce(ws.dir) {
        Stores.create(ivfAssigned(e.filter(col("vec_id") % 10 =!= 0), cents),
          sT, ws.path("index"), None, "cluster")
      }
      routedSearch(e, cents)(sT, Nil)
    },
    Some(s"""WITH ${routedCtes("base", "b", "vec_id % 10 <> 0")}
            ${servedSql("base", "b")}
            ORDER BY cos DESC, b.vec_id LIMIT 10"""))

  /** Day-2 of the IVF-index loop — index MAINTENANCE via per-PARTITION
    * append (the IVF twin of q_ann_store_append): base assignments
    * (vec_id ≡ 2..9 mod 10) persist once partitionBy(cluster);
    * yesterday's new vectors (≡ 1) are assigned with the INGEST-time
    * centroid model (re-clustering per append would re-partition the
    * index = a rebuild) and APPEND via insertInto — new files land
    * inside the routed clusters' partitions, so the probe's
    * partition-pruned read picks them up with no layout change. The
    * routed probe (nprobe = 2, driver-side router) searches the GROWN
    * index; a src column attributes each neighbor to base/delta1 — a
    * delta1 neighbor can only appear if the appended files are read
    * inside the pruned partitions.
    *
    * Scale posture: append cost = one broadcast-centroid assignment
    * pass over yesterday's vectors; the probe still reads ~nprobe/k of
    * the index files at any corpus size (plan-pinned PartitionFilter,
    * the q_ivf_store pin).
    */
  /** The broadcast ingest-time centroid model (vec_id < 10 — fixed at
    * ingest; re-clustering per append would re-partition the index). */
  private def ivfCentsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    centroids(Tables(spark, dir, "embeddings"))

  /** Nearest-centroid assignment of `rel` under the ingest model. */
  private def ivfAssigned(rel: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearestCentroid(rel, cents, col("cid").cast("int"), "embedding")

  /** Day 0 of a grown IVF store: `assigned` lands as vintage=base of a
    * (vintage, cluster)-partitioned table. */
  private def createIvfBase(assigned: org.apache.spark.sql.DataFrame, t: String,
      path: String): Unit =
    Stores.create(assigned.withColumn("vintage", lit("base")), t, path, None,
      Stores.Vintage, "cluster")

  private[graft] def ivfStoreTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = Stores(spark, dir, "ivfstore2").table("ivf_store2")

  /** The day-2 index append, re-runnable as a STATIC-PREFIX partition
    * overwrite: `PARTITION (vintage='delta1', cluster)` in static mode
    * first truncates EVERYTHING under vintage=delta1, then writes the
    * delta's dynamic cluster partitions beneath it. A fully-dynamic
    * [[VintageWrite]] is not enough for this multi-level-partitioned
    * store (ADVICE r13): dynamic mode only rewrites the (delta1,
    * cluster) partitions present in the re-run's output, so if the
    * delta input drifted between a crashed run and its retry
    * (late/removed rows), a cluster partition the retry no longer
    * produces would survive as stale debris. The static vintage prefix
    * restores the whole-vintage-rewrite semantics the single-level
    * stores get from VintageWrite — append-twice ≡ append-once for ANY
    * pair of runs, not just identical inputs.
    */
  private[graft] def ivfStoreAppendDelta1(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    ivfWriteDelta1(spark, dir, ivfStoreTable(spark, dir))

  private def ivfWriteDelta1(spark: org.apache.spark.sql.SparkSession,
      dir: String, t: String): Unit =
    ivfWriteVintage(spark, dir, t, 1, "delta1")

  /** One day-N vintage append (vec_id ≡ m mod 10 → `vintage`), as the
    * static-prefix partition overwrite — idempotent under input drift,
    * shared by the delta1 appends above and q_ivf_lifecycle's ladder. */
  private def ivfWriteVintage(spark: org.apache.spark.sql.SparkSession,
      dir: String, t: String, m: Int, vintage: String): Unit = {
    val e = Tables(spark, dir, "embeddings")
    Stores.overwriteVintage(
      ivfAssigned(e.filter(col("vec_id") % 10 === m), ivfCentsOf(spark, dir))
        .select(col("vec_id"), col("embedding"), col("cluster")),
      t, vintage, "cluster")
  }

  /** Builds the grown (base + delta1) (vintage, cluster)-partitioned IVF
    * store once per (session, dir) and returns its table name — shared
    * by q_ivf_store_append (the probe path) and reused as the build
    * recipe for q_ivf_delete's delete-private copy. */
  private[graft] def ensureIvfStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val ws = Stores(spark, dir, "ivfstore2")
    val sT = ivfStoreTable(spark, dir)
    StoreOnce(ws.dir) {
      createIvfBase(ivfAssigned(Tables(spark, dir, "embeddings")
          .filter(col("vec_id") % 10 >= 2), ivfCentsOf(spark, dir)),
        sT, ws.path("index"))
      // day-2 maintenance: yesterday's vectors land inside their
      // (vintage, cluster) partitions as a static-prefix vintage
      // overwrite — idempotent under re-run, ingest-time centroids
      ivfStoreAppendDelta1(spark, dir)
    }
    sT
  }

  private val ivfStoreAppend = Q(
    "q_ivf_store_append",
    (spark, dir) => {
      val sT = ensureIvfStore(spark, dir)
      val e = Tables(spark, dir, "embeddings")
      routedSearch(e, ivfCentsOf(spark, dir))(sT, Seq(vintageSrc(1, "delta1")))
    },
    Some(s"""WITH ${routedCtes("grown", "g", "vec_id % 10 <> 0")}
            ${servedSql("grown", "g",
              ", CASE WHEN g.vec_id % 10 = 1 THEN 'delta1' ELSE 'base' END AS src")}
            ORDER BY cos DESC, g.vec_id LIMIT 10"""))

  /** ANN REBUILD-POLICY AUDIT (VERDICT r12 task 5): the IVF append
    * story fixes the centroid model at ingest — correct for layout
    * stability, but nothing measured when accumulated deltas degrade
    * the grown index. This query emits the drift curve an operator
    * actually tunes a rebuild threshold from: at delta fractions of the
    * base mass (vec_id mod-10 waves: +1, +2, +3 tenths of the corpus on
    * a 6-tenths base), recall@10 of the routed nprobe=2 search through
    * (a) the GROWN index — assignments under the INGEST model, a
    * one-Lloyd-step k=10 refinement of the fixed seeds over the BASE
    * population (the q_kmeans_assign trainer) — vs (b) a FRESH REBUILD —
    * the same trainer re-fit on the grown corpus. Ground truth is the
    * exact brute-force top-10 per probe over the grown corpus, bounded
    * to ≤5 probes (the q_knn_join vec_id < 50 sampled-audit idiom).
    *
    * Per stage: index size, delta share (exact bp), and both recalls
    * (exact bp, fixed 10·|probes| denominator). The DuckDB oracle
    * replays the trainer, both routers, both searches and the
    * ground-truth arm as pure CTEs — the q_kmeans_assign precedent
    * covers the float-mean determinism (assignment margins are far from
    * accumulation-order noise on this data).
    *
    * Scale posture: every arm is a broadcast-bounded pass — assignment
    * is a k=10 crossJoin rank, the Lloyd step is one partial-aggregated
    * per-(cluster, dim) mean with only the k×dim matrix on the driver,
    * the served search joins the ≤2·|probes|-row routed relation, and
    * the quadratic ground truth is probe-sampled. Drop the audit arms in
    * production and the remaining cost is the index assignment itself.
    */
  private val ivfDrift = Q(
    "q_ivf_drift",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val seeds: Seq[(Long, Array[Double])] = e.filter(col("vec_id") < 10)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toSeq.sortBy(_._1)
      def lloyd(rel: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Double])] =
        KMeans.recompute(KMeans.assign(rel, seeds))
      val base = e.filter(col("vec_id") % 10 >= 4)
      val cIng = lloyd(base)
      val probes = graft.Caches.persisted(
        e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
          .select(col("vec_id").as("pid"), col("embedding").as("pe")))
      val nP = probes.count()
      val nBase = base.count()
      // The three drift stages are INDEPENDENT (each reads only `e`,
      // `seeds`, `cIng`, `probes`) but their builds run eager jobs (the
      // grown-count and the rebuild-trainer's collect) — sequentially
      // that serialized ~86 small jobs behind one driver thread (r16
      // profile; guide §2.6 "overlap independent jobs"). A 3-thread
      // build overlaps the stages' job chains; results are unchanged
      // (each stage's arms are self-contained, the union below re-orders
      // by stage) and the session/caches registry are thread-safe.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val stageFs = (1 to 3).map { s => scala.concurrent.Future {
        val grown = graft.Caches.persisted(e.filter(
          col("vec_id") % 10 >= 4 ||
            (col("vec_id") % 10 >= 1 && col("vec_id") % 10 <= s)))
        val nG = grown.count()
        val cReb = lloyd(grown)
        // the exact ground-truth arm is MODEL-independent: one bounded
        // brute-force pass per stage, shared by both recall arms
        val wx = Window.partitionBy(col("xp")).orderBy(col("xcos").desc, col("xb"))
        val exact = graft.Caches.persisted(
          grown.crossJoin(broadcast(
              probes.select(col("pid").as("xp"), col("pe").as("xpe"))))
            .select(col("xp"), col("vec_id").as("xb"),
              pround(VectorOps.cosine(col("xpe"), col("embedding")), 4).as("xcos"))
            .withColumn("rn", row_number().over(wx)).filter(col("rn") <= 10)
            .select(col("xp"), col("xb")))
        def hitsOf(cents: Seq[(Long, Array[Double])]): org.apache.spark.sql.DataFrame = {
          val cdf = broadcast(cents.toDF("cid", "c"))
          val assigned = KMeans.assign(grown, cents)
            .select(col("vec_id").as("nb"), col("embedding").as("ne"),
              col("cluster"))
          val wr = Window.partitionBy(col("pid")).orderBy(col("rcos").desc, col("cid"))
          val routed = probes.crossJoin(cdf)
            .select(col("pid"), col("pe"), col("cid"),
              VectorOps.cosine(col("pe"), col("c")).as("rcos"))
            .withColumn("rn", row_number().over(wr)).filter(col("rn") <= 2)
            .select(col("pid"), col("pe"), col("cid").as("cluster"))
          val ws = Window.partitionBy(col("pid")).orderBy(col("cos").desc, col("nb"))
          val served = routed.join(assigned, "cluster")
            .select(col("pid"),
              pround(VectorOps.cosine(col("pe"), col("ne")), 4).as("cos"), col("nb"))
            .withColumn("rn", row_number().over(ws)).filter(col("rn") <= 10)
            .select(col("pid"), col("nb"))
          served.join(exact,
              col("pid") === col("xp") && col("nb") === col("xb"))
            .agg(count(lit(1)).cast("bigint").as("h"))
        }
        hitsOf(cIng).select(col("h").as("hg"))
          .crossJoin(hitsOf(cReb).select(col("h").as("hr")))
          .select(lit(s).cast("int").as("stage"),
            lit(nG).as("n_index"),
            // max(1, ·) guards the empty-corpus edge only — real
            // fixtures have nBase ≥ 1 and ≥ 1 probe (oracle mirrored)
            lit((nG - nBase) * 10000L / math.max(1L, nBase)).as("delta_bp"),
            expr(s"hg * 10000 div (${math.max(1L, nP * 10)})").as("recall_grown_bp"),
            expr(s"hr * 10000 div (${math.max(1L, nP * 10)})").as("recall_rebuilt_bp"))
      } }
      val rows =
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(stageFs),
          scala.concurrent.duration.Duration.Inf)
        finally {
          // Future.sequence fails fast: on a stage failure the siblings
          // would keep running Spark jobs and registering caches that a
          // subsequent harness releaseAll() could unpersist under them.
          // Cancel them (interrupt) and wait for the worker threads to
          // exit before propagating; on the success path every future
          // has already completed, so this is an immediate no-op.
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
      rows.reduce(_ unionAll _).orderBy(col("stage"))
    },
    Some {
      def modelCte(name: String, rel: String): String =
        s"""a_$name AS (SELECT vec_id, cid FROM (
              SELECT r.vec_id, c0.cid,
                row_number() OVER (PARTITION BY r.vec_id
                  ORDER BY list_cosine_similarity(r.v, c0.c) DESC, c0.cid) AS rn
              FROM $rel r CROSS JOIN c0) WHERE rn = 1),
            m_$name AS (SELECT a.cid, t.d, AVG(r.v[t.d]) AS md
                        FROM a_$name a JOIN $rel r USING (vec_id),
                             UNNEST(generate_series(1, len(r.v))) AS t(d)
                        GROUP BY a.cid, t.d),
            c_$name AS (SELECT cid, list(md ORDER BY d) AS c FROM m_$name GROUP BY cid)"""
      def armCte(s: Int, m: String): String =
        s"""asg_${s}_$m AS (SELECT vec_id, cid FROM (
              SELECT g.vec_id, c.cid,
                row_number() OVER (PARTITION BY g.vec_id
                  ORDER BY list_cosine_similarity(g.v, c.c) DESC, c.cid) AS rn
              FROM g$s g CROSS JOIN c_$m c) WHERE rn = 1),
            rt_${s}_$m AS (SELECT pid, cid FROM (
              SELECT p.pid, c.cid,
                row_number() OVER (PARTITION BY p.pid
                  ORDER BY list_cosine_similarity(p.pv, c.c) DESC, c.cid) AS rn
              FROM pr p CROSS JOIN c_$m c) WHERE rn <= 2),
            srv_${s}_$m AS (SELECT pid, nb FROM (
              SELECT r.pid, g.vec_id AS nb,
                row_number() OVER (PARTITION BY r.pid
                  ORDER BY FLOOR(list_cosine_similarity(p.pv, g.v) * 10000 + 0.5) / 10000
                    DESC, g.vec_id) AS rn
              FROM rt_${s}_$m r
              JOIN asg_${s}_$m a ON a.cid = r.cid
              JOIN g$s g ON g.vec_id = a.vec_id
              JOIN pr p ON p.pid = r.pid) WHERE rn <= 10),
            h_${s}_$m AS (SELECT CAST(COUNT(*) AS BIGINT) AS h
                          FROM srv_${s}_$m s JOIN ex_$s x
                            ON x.pid = s.pid AND x.nb = s.nb)"""
      val grownCtes = (1 to 3).map(s =>
        s"""g$s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                    WHERE vec_id % 10 >= 4 OR (vec_id % 10 BETWEEN 1 AND $s))""")
      val exCtes = (1 to 3).map(s =>
        s"""ex_$s AS (SELECT pid, nb FROM (
              SELECT p.pid, g.vec_id AS nb,
                row_number() OVER (PARTITION BY p.pid
                  ORDER BY FLOOR(list_cosine_similarity(p.pv, g.v) * 10000 + 0.5) / 10000
                    DESC, g.vec_id) AS rn
              FROM pr p CROSS JOIN g$s g) WHERE rn <= 10)""")
      val rebCtes = (1 to 3).map(s => modelCte(s"reb$s", s"g$s"))
      val armCtes = (1 to 3).flatMap(s => Seq(armCte(s, "ing"), armCte(s, s"reb$s")))
      val ngCtes = (1 to 3).map(s =>
        s"ng$s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g$s)")
      val finals = (1 to 3).map(s =>
        s"""SELECT CAST($s AS INT) AS stage, ng$s.n AS n_index,
              (ng$s.n - nb0.n) * 10000 // GREATEST(nb0.n, 1) AS delta_bp,
              hg.h * 10000 // GREATEST(np.n * 10, 1) AS recall_grown_bp,
              hr.h * 10000 // GREATEST(np.n * 10, 1) AS recall_rebuilt_bp
            FROM ng$s, nb0, np, h_${s}_ing hg, h_${s}_reb$s hr""")
        .mkString("\nUNION ALL\n")
      s"""WITH g0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                      WHERE vec_id % 10 >= 4),
          c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
                 FROM embeddings WHERE vec_id < 10),
          pr AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
                 FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 50),
          ${grownCtes.mkString(",\n")},
          ${modelCte("ing", "g0")},
          ${rebCtes.mkString(",\n")},
          ${exCtes.mkString(",\n")},
          ${armCtes.mkString(",\n")},
          nb0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g0),
          np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pr),
          ${ngCtes.mkString(",\n")}
          SELECT stage, n_index, CAST(delta_bp AS BIGINT) AS delta_bp,
            CAST(recall_grown_bp AS BIGINT) AS recall_grown_bp,
            CAST(recall_rebuilt_bp AS BIGINT) AS recall_rebuilt_bp
          FROM ($finals) ORDER BY stage"""
    })

  /** q_ivf_delete's delete-private store (table, workspace) — for the
    * layout pins and the untouched-partition file assertions. */
  private[graft] def ivfDeleteStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val ws = Stores(spark, dir, "ivfdel")
    (ws.table("ivfdel"), ws.dir)
  }

  /** PARTITION-TARGETED DELETION from the persisted IVF index (VERDICT
    * r13 task 3, the second half beside q_ann_delete): the (vintage,
    * cluster) partition layout makes the purge SURGICAL where the
    * bucketed LSH store could only rewrite wholesale — the deletion
    * request (vec_id ≡ 5 mod 10) touches only the partitions that hold
    * purged rows, those partitions' survivors stage and rewrite IN
    * PLACE as a dynamic partition overwrite (a fully-purged partition
    * drops via the catalog instead — dynamic overwrite cannot
    * rewrite-to-empty), and every untouched partition's files are
    * untouched on disk, byte-for-byte (manifest-asserted in the spec:
    * the purge set lives in vintage=base, so the delta1 partitions must
    * not even be re-written). The probe runs pre-deletion (snapshotted
    * at build time — the store mutates in place, so `pre` is
    * re-servable only from its materialized result) and post-deletion
    * (live, against the mutated store, still riding the pruned
    * `cluster IN (routed)` PartitionFilter — plan-pinned); a purged
    * `pre` neighbor has no `post` twin and survivors move up.
    *
    * The purged vector's influence on the CENTROID MODEL survives until
    * the next rebuild (centroids are ingest-time model state, not store
    * rows — true of every real IVF serving stack; q_ivf_drift is the
    * audit that prices the rebuild cadence).
    *
    * Scale posture: deletion cost ∝ touched-partition mass (one pruned
    * scan of the touched partitions + staged rewrite), NOT store mass —
    * at 365 vintages × k clusters a bounded GDPR request touches a
    * handful of partitions; the probes stay ~nprobe/k pruned reads.
    */
  private val ivfDelete = Q(
    "q_ivf_delete",
    (spark, dir) => {
      val (dT, wh) = ivfDeleteStore(spark, dir)
      val e = Tables(spark, dir, "embeddings")
      val cents = ivfCentsOf(spark, dir)
      val search = routedSearch(e, cents)
      def probeDf(t: String, phase: String): DataFrame =
        phased(search(t, Seq(vintageSrc(1, "delta1"),
          when(col("vec_id") % 10 === 5, lit(1)).otherwise(lit(0)).cast("int")
            .as("purge_set"))), phase)
      StoreOnce(wh) {
        // the delete-private grown store (same recipe as ensureIvfStore)
        createIvfBase(ivfAssigned(e.filter(col("vec_id") % 10 >= 2), cents),
          dT, s"$wh/index")
        ivfWriteDelta1(spark, dir, dT)
        // the pre-deletion serving state, materialized (the store is
        // about to mutate in place)
        probeDf(dT, "pre").coalesce(1)
          .write.mode("overwrite").parquet(s"$wh/pre")
        // manifest of the partitions the purge must NOT touch (the
        // purge set is all ≡5 mod 10 — base vintage only)
        Stores.manifest(s"$wh/delta1_manifest.txt",
          Stores.files(s"$wh/index/vintage=delta1"))
        // THE PURGE: touched partitions only
        Stores.purgePartitions(spark, dT, s"$wh/index", s"$wh/staged",
          col("vec_id") % 10 === 5)
      }
      spark.read.parquet(s"$wh/pre")
        .unionAll(probeDf(dT, "post"))
        .orderBy(col("phase"), col("cos").desc, col("vec_id"))
    },
    Some(prePostOracle(
      """, CASE WHEN g.vec_id % 10 = 1 THEN 'delta1' ELSE 'base' END AS src,
           CASE WHEN g.vec_id % 10 = 5 THEN 1 ELSE 0 END AS purge_set""",
      "vec_id % 10 <> 5", "vec_id, cluster, cos, src, purge_set")))

  /** q_ivf_expire's expire-private store (table, workspace). */
  private[graft] def ivfExpireStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val ws = Stores(spark, dir, "ivfexp")
    (ws.table("ivf_exp"), ws.dir)
  }

  /** The IVF retention verb, re-runnable: on the two-level (vintage,
    * cluster) layout the expired vintage's cluster sub-partitions
    * enumerate from the catalog (bounded by k) and drop individually,
    * then the vintage directory deletes — same O(catalog + one rmdir)
    * class as the single-level expires, just k catalog ops instead of
    * one. */
  private[graft] def ivfExpireDrop(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val (t, wh) = ivfExpireStore(spark, dir)
    Stores.expire(spark, t, s"$wh/index", "base", Some("cluster"))
  }

  /** TIME-BASED VINTAGE RETENTION on the IVF index — the second half of
    * the vector-retention symmetry (q_ann_expire covers the bucketed
    * LSH layout; this covers the partition-pruned routed layout): the
    * expire-private grown store (base + delta1, partitionBy(vintage,
    * cluster), ingest centroids) evicts vintage=base — its cluster
    * sub-partitions drop from the catalog (k bounded ops) and the
    * vintage directory deletes; the surviving vintage's partition files
    * are untouched and the routed probe's `cluster IN (…)`
    * PartitionFilter survives the drop (plan-pinned). Pre-expire
    * serving state snapshots at build (in-place mutation, the
    * q_ivf_delete discipline); post-expire the routed search over the
    * retained vintage equals a from-scratch replay over the retained
    * population under the ingest model (the oracle). The centroid
    * model is ingest state and outlives the vintage that trained it
    * (the q_ivf_drift audit prices when that stops being acceptable —
    * retention makes drift FASTER, since the training vintage can age
    * out entirely).
    *
    * Scale posture: expire = k catalog ops + one directory delete at
    * any corpus size; probes stay ~nprobe/k pruned reads over whatever
    * vintages remain.
    */
  private val ivfExpire = Q(
    "q_ivf_expire",
    (spark, dir) => {
      val (eT, wh) = ivfExpireStore(spark, dir)
      val e = Tables(spark, dir, "embeddings")
      val cents = ivfCentsOf(spark, dir)
      val search = routedSearch(e, cents)
      def probeDf(phase: String): DataFrame =
        phased(search(eT, Seq(vintageSrc(1, "delta1"))), phase)
      StoreOnce(wh) {
        createIvfBase(ivfAssigned(e.filter(col("vec_id") % 10 >= 2), cents),
          eT, s"$wh/index")
        ivfWriteDelta1(spark, dir, eT)
        probeDf("pre").coalesce(1)
          .write.mode("overwrite").parquet(s"$wh/pre")
        // the nightly horizon: the base vintage ages out
        ivfExpireDrop(spark, dir)
      }
      spark.read.parquet(s"$wh/pre")
        .unionAll(probeDf("post"))
        .orderBy(col("phase"), col("cos").desc, col("vec_id"))
    },
    Some(prePostOracle(
      ", CASE WHEN g.vec_id % 10 = 1 THEN 'delta1' ELSE 'base' END AS src",
      "vec_id % 10 = 1", "vec_id, cluster, cos, src")))

  /** q_ivf_lifecycle's ladder-private stores (grown table, compacted
    * table, workspace) — for the per-rung ledger and layout pins. */
  private[graft] def ivfLifecycleStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, String) = {
    val ws = Stores(spark, dir, "ivflc")
    (ws.table("ivf_lc"), ws.table("ivf_lcc"), ws.dir)
  }

  /** The ladder's retention verb, re-runnable (drop-twice ≡ drop-once):
    * delta1's cluster sub-partitions enumerate from the catalog and drop
    * individually, then the vintage directory deletes — the
    * [[ivfExpireDrop]] verb parameterized to the lifecycle store. */
  private[graft] def ivfLifecycleExpireDrop(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val (lT, _, wh) = ivfLifecycleStore(spark, dir)
    Stores.expire(spark, lT, s"$wh/index", "delta1", Some("cluster"))
  }

  /** THE IVF DAY-N LIFECYCLE LADDER (VERDICT r14 task 1): every IVF
    * store verb was proven on a base+delta1 store in isolation
    * (q_ivf_store_append, q_ivf_delete, q_ivf_expire); day-365
    * operation is the verbs COMPOSED on ONE store — and unlike the ANN
    * ladder (q_store_lifecycle), the IVF store's (vintage × cluster)
    * two-level layout is exactly where partition growth compounds: at
    * 365 vintages × k clusters the catalog carries 365k entries and
    * every routed probe opens one file set per surviving vintage per
    * routed cluster. This query drives the store through
    * create(base ≡4..9) → append(delta1 ≡1) → append(delta2 ≡2) →
    * delete(purge ≡5, partition-TARGETED — only partitions holding
    * purged rows are touched, fully-purged ones drop via catalog, the
    * delta vintages' files stay byte-identical on disk,
    * manifest-asserted) → expire(delta1 ages out — k catalog ops + one
    * directory delete, never a data pass) → compact(collapse the
    * surviving vintages' per-cluster file ladders into ONE file per
    * cluster, cluster-partitioned so the routed probe's
    * `cluster IN (…)` PartitionFilter survives compaction, plan-pinned)
    * → routed probe. The `grown` phase (multi-vintage, multi-file,
    * post-delete/expire) and the `compact` phase serve IDENTICAL top-10
    * rows — compaction is a pure layout verb — with src attributing
    * each neighbor to base/delta2 (delta1 must be gone; the oracle's
    * population excludes it, so a leaked delta1 row is a hash
    * mismatch, not just a spec failure).
    *
    * The per-rung LEDGER (rung : data files : rows, written beside the
    * store) measures the file-growth/compaction curve the ANN ladder
    * proved matters (8 → 24 → collapse): here files grow by one
    * cluster-partition set per appended vintage and compaction
    * collapses each cluster to a single file while preserving rows.
    *
    * The centroid model is ingest state throughout — it outlives both
    * the purge and the expiry of vintages that trained it
    * (q_ivf_drift prices the rebuild cadence).
    *
    * Scale posture: appends cost one broadcast-centroid assignment pass
    * over their delta; the delete stages only touched-partition
    * survivors; the expire is catalog ops + one directory delete; the
    * compaction is one cluster-hashed shuffle of the SURVIVING rows
    * (cost ∝ retained store mass, run at compaction cadence — the
    * nightly verbs never pay it); probes stay ~nprobe/k pruned reads
    * at every rung.
    */
  private val ivfLifecycle = Q(
    "q_ivf_lifecycle",
    (spark, dir) => {
      val (lT, cT, wh) = ivfLifecycleStore(spark, dir)
      val e = Tables(spark, dir, "embeddings")
      val cents = ivfCentsOf(spark, dir)
      StoreOnce(wh) {
        val ledger = new Stores.Ledger(spark)
        def rung(name: String): Unit = ledger.rung(name, lT, s"$wh/index")
        // day 0: create
        createIvfBase(ivfAssigned(e.filter(col("vec_id") % 10 >= 4), cents),
          lT, s"$wh/index")
        rung("a_create")
        // days 1, 2: idempotent static-prefix vintage appends
        ivfWriteVintage(spark, dir, lT, 1, "delta1")
        rung("b_append_d1")
        ivfWriteVintage(spark, dir, lT, 2, "delta2")
        rung("c_append_d2")
        // delta2 must survive BOTH the delete and the expire untouched
        // on disk (delta1 is expired later, so only delta2 is assertable
        // at ladder end)
        Stores.manifest(s"$wh/delta2_manifest.txt",
          Stores.dataFiles(s"$wh/index/vintage=delta2"))
        // day N: partition-targeted GDPR purge (≡5 — base vintage only)
        Stores.purgePartitions(spark, lT, s"$wh/index", s"$wh/staged",
          col("vec_id") % 10 === 5)
        rung("d_delete")
        // day N+1: delta1 ages out of the retention horizon
        ivfLifecycleExpireDrop(spark, dir)
        rung("e_expire")
        // day N+2: compaction — one cluster-hashed shuffle collapses each
        // surviving cluster's vintage-file ladder to ONE file, keeping
        // cluster as the partition column (the PartitionFilter pin)
        Stores.create(spark.table(lT)
            .select(col("vec_id"), col("embedding"),
              col("cluster").cast("int").as("cluster"))
            .repartition(col("cluster")),
          cT, s"$wh/compact", None, "cluster")
        ledger.rung("f_compact", cT, s"$wh/compact")
        ledger.write(s"$wh/ledger.txt")
      }
      val search = routedSearch(e, cents)
      def arm(t: String, phase: String): DataFrame =
        phased(search(t, Seq(vintageSrc(2, "delta2"))), phase)
      arm(cT, "compact").unionAll(arm(lT, "grown"))
        .orderBy(col("phase"), col("cos").desc, col("vec_id"))
    },
    Some(s"""WITH ${routedCtes("grown", "g", "vec_id % 10 IN (2, 4, 6, 7, 8, 9)")},
            served AS (${servedSql("grown", "g",
              ", CASE WHEN g.vec_id % 10 = 2 THEN 'delta2' ELSE 'base' END AS src")}),
            top AS (SELECT * FROM served ORDER BY cos DESC, vec_id LIMIT 10)
            SELECT phase, vec_id, cluster, cos, src FROM (
              SELECT 'compact' AS phase, * FROM top
              UNION ALL
              SELECT 'grown', * FROM top)
            ORDER BY phase, cos DESC, vec_id"""))

  val all: Seq[Q] = Seq(knnIvf, dedupEmbedLsh, ivfRecallSweep, ivfPq, ivfStore,
    ivfStoreAppend, ivfDrift, ivfDelete, ivfExpire, ivfLifecycle)
}
