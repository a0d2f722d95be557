package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 store-lifecycle properties: time-based vintage retention on
  * the sketch stores (VERDICT r13 task 2) and deletion on the vector
  * indexes (task 3) — each verb re-runnable, each proven on the store
  * files themselves, not just the query output.
  */
class Round14PropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def outOf(name: String): Seq[String] = {
    val rows = Registry.byName(name).build(spark, dir).collect()
      .map(_.toString).toSeq
    Caches.releaseAll()
    rows
  }

  test("q_sketch_expire: post-drop store fold equals the recompute " +
    "without the expired day, for all four merge folds") {
    val rows = Registry.byName("q_sketch_expire").build(spark, dir).collect()
    Caches.releaseAll()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("post_drop") === r.getAs[Long]("recomputed"),
        s"store ${r.getAs[String]("store")}: fold over remaining vintages " +
          "diverged from the rebuild-without-that-day")
    }
  }

  test("q_sketch_expire: the expired vintage is gone from catalog AND " +
    "disk, and the retention verb is idempotent (drop-twice = drop-once)") {
    val out1 = outOf("q_sketch_expire") // builds + expires via StoreOnce
    val tabs = operators.SketchQueries.expireStoreTables(spark, dir)
    tabs.foreach { case (family, (t, path)) =>
      assert(spark.table(t).filter(col("vintage") === "base").count() === 0L,
        s"$family: expired vintage still served from the store")
      assert(spark.table(t).count() > 0L, s"$family: retained vintage lost")
      assert(!new java.io.File(s"$path/vintage=base").exists(),
        s"$family: expired vintage's files not reclaimed")
      assert(new java.io.File(s"$path/vintage=delta1").exists(),
        s"$family: retained vintage's files missing")
    }
    val snaps1 = tabs.map { case (f, (t, _)) =>
      f -> spark.table(t).collect().map(_.toString).sorted.toSeq }
    // the retention job re-runs (crash after the catalog drop, retry, a
    // second nightly pass — all must be no-ops)
    operators.SketchQueries.sketchExpireDrop(spark, dir)
    tabs.foreach { case (f, (t, _)) =>
      assert(spark.table(t).collect().map(_.toString).sorted.toSeq === snaps1(f),
        s"$f: re-running the expire changed the store")
    }
    assert(outOf("q_sketch_expire") === out1,
      "query output changed after the expire re-run")
  }

  test("IVF day-2 append heals INPUT-DRIFT debris (ADVICE r13): a stale " +
    "cluster partition the retry no longer produces is truncated") {
    // The r13 dynamic overwrite only rewrote (delta1, cluster) partitions
    // present in the retry's output — debris under a cluster the retry
    // does not produce would have survived. The static-prefix overwrite
    // (PARTITION (vintage='delta1', cluster)) truncates the WHOLE
    // delta1 vintage first, so drifted-input retries converge too.
    import spark.implicits._
    outOf("q_ivf_store_append") // builds the grown store via StoreOnce
    val t = operators.IvfQueries.ivfStoreTable(spark, dir)
    val good = spark.table(t).collect().map(_.toString).sorted.toSeq
    assert(good.nonEmpty)
    // debris: a row in a delta1 cluster partition no real assignment
    // produces (cluster 99 — the model has 10 clusters)
    val dim = spark.table(t).select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    Seq((999999L, Array.fill(dim)(0.5f), "delta1", 99))
      .toDF("vec_id", "embedding", "vintage", "cluster")
      .write.mode("append").insertInto(t)
    assert(spark.table(t).filter(col("cluster") === 99).count() === 1L,
      "the planted debris must land")
    // the retry: identical input, but the debris partition is NOT in its
    // output — the static vintage prefix must truncate it anyway
    operators.IvfQueries.ivfStoreAppendDelta1(spark, dir)
    assert(spark.table(t).collect().map(_.toString).sorted.toSeq === good,
      "the static-prefix overwrite must heal drifted-input debris")
  }

  test("q_ann_delete: a purged vector stops appearing in probe top-k " +
    "(planted corpus; GDPR-on-the-embedding-index)") {
    // probe 20's nearest neighbor is vec 15 (identical embedding, cosine
    // 1.0, same LSH bucket by construction) — and 15 ≡ 5 (mod 10) is
    // exactly the purge set: pre must serve it at rank 1, post must not
    // serve it at all, and the survivors move up
    import spark.implicits._
    val rows = Seq(
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (3L, Array(0f, 0f, 1f, 0f), 0),
      (4L, Array(0f, 0f, 0f, 1f), 0),
      (11L, Array(0.5f, 0.5f, 0.5f, 0.5f), 0), // delta1 member
      (15L, Array(1f, 0f, 0f, 0f), 0),         // base member, purge set
      (20L, Array(1f, 0f, 0f, 0f), 0))         // today's probe
    val out = TestSpark.tempDir("ann-del")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val got = Registry.byName("q_ann_delete").build(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getInt(5))).toSeq
    Caches.releaseAll()
    val pre = got.filter(_._1 == "pre")
    val post = got.filter(_._1 == "post")
    assert(pre.exists(t => t._3 == 1 && t._4 == 15L && t._5 == 1),
      s"pre must serve the purged vector at rank 1: $pre")
    assert(post.forall(_._4 != 15L), s"post still serves the purged vector: $post")
    assert(post.forall(_._5 == 0), s"post purge_set flag wrong: $post")
  }

  test("q_ivf_delete: purged vector gone from the routed search; untouched " +
    "partitions byte-identical (planted corpus + manifest)") {
    // probe 0 = (1,0,0,0); vec 5 is identical (cosine 1.0) AND ≡ 5 mod
    // 10 — pre serves it first, post must not. vec 11 is the delta1
    // member whose partition files the purge must never rewrite.
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), // probe (and centroid 0)
      (1L, Array(0f, 1f, 0f, 0f), 0),
      (2L, Array(0f, 0f, 1f, 0f), 0),
      (3L, Array(0f, 0f, 0f, 1f), 0),
      (5L, Array(1f, 0f, 0f, 0f), 0),          // purge set (and centroid 5)
      (11L, Array(0.6f, 0.8f, 0f, 0f), 0),     // delta1 member
      (22L, Array(0.8f, 0.6f, 0f, 0f), 0))     // base member
    val out = TestSpark.tempDir("ivf-del")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val got = Registry.byName("q_ivf_delete").build(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getInt(5))).toSeq
    Caches.releaseAll()
    val pre = got.filter(_._1 == "pre")
    val post = got.filter(_._1 == "post")
    assert(pre.headOption.exists(t => t._2 == 5L && t._3 == 1.0 && t._4 == 1),
      s"pre must serve the purged vector first: $pre")
    assert(post.forall(_._2 != 5L), s"post still serves the purged vector: $post")
    assert(post.nonEmpty, "the routed search must still serve survivors")
    // the store really forgot: no ≡5 rows anywhere in the mutated table
    val (dT, wh) = operators.IvfQueries.ivfDeleteStore(spark, out)
    assert(spark.table(dT).filter(col("vec_id") % 10 === 5).count() === 0L)
    // surgical rewrite: the delta1 partitions' files are untouched on
    // disk — path, length, AND mtime all equal the pre-purge manifest
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/delta1_manifest.txt")), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    val now = operators.Stores.files(s"$wh/index/vintage=delta1")
      .map(f => s"${f.getAbsolutePath}:${f.length}:${f.lastModified}").sorted
    assert(manifest.nonEmpty, "manifest must cover the delta1 partition files")
    assert(now === manifest,
      "the purge rewrote partitions it does not touch")
  }

  test("q_store_lifecycle: the rung ledger shows file growth per append, " +
    "a base-only delete, and compaction collapsing to one file per bucket") {
    val rows = Registry.byName("q_store_lifecycle").build(spark, dir).collect()
    Caches.releaseAll()
    // the probe's answers survive the ladder: grown ≡ compact pairwise
    val grown = rows.filter(_.getString(0) == "grown")
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4),
        r.getString(5))).toSeq
    val compact = rows.filter(_.getString(0) == "compact")
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4),
        r.getString(5))).toSeq
    assert(grown.nonEmpty && grown === compact,
      "compaction changed the served answers")
    assert(grown.forall(_._3 % 10 != 5), "a purged id survived the ladder")
    val (lT, cT, wh) = operators.VectorQueries.lifecycleStore(spark, dir)
    val ledger = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/ledger.txt")), "UTF-8")
      .split("\n").map { l =>
        val Array(n, f, r) = l.split(":"); (n, f.toInt, r.toLong)
      }.toSeq
    assert(ledger.map(_._1) ===
      Seq("create", "append_d1", "append_d2", "delete", "compact"))
    val byName = ledger.map(t => t._1 -> t).toMap
    // files: one bucket-set per appended vintage, collapse on compaction
    assert(byName("append_d1")._2 > byName("create")._2,
      s"append must add its vintage's files: $ledger")
    assert(byName("append_d2")._2 > byName("append_d1")._2, s"$ledger")
    assert(byName("compact")._2 <= 8,
      s"compaction must return to one file per bucket: $ledger")
    // rows: appends add, the delete removes exactly the purge set,
    // compaction preserves
    assert(byName("append_d1")._3 > byName("create")._3, s"$ledger")
    assert(byName("append_d2")._3 > byName("append_d1")._3, s"$ledger")
    assert(byName("delete")._3 < byName("append_d2")._3, s"$ledger")
    assert(byName("compact")._3 === byName("delete")._3, s"$ledger")
    assert(spark.table(lT).filter(col("vec_id") % 10 === 5).count() === 0L)
    assert(spark.table(cT).count() === byName("delete")._3)
    // the delete never rewrote the delta vintages' files
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/delta_manifest.txt")), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    val now = operators.Stores.dataFiles(s"$wh/index")
      .filter(f => !f.getAbsolutePath.contains("vintage=base"))
      .map(f => s"${f.getAbsolutePath}:${f.length}:${f.lastModified}").sorted
    assert(manifest.nonEmpty && now === manifest,
      "the base-partition delete rewrote a delta vintage's files")
  }

  test("q_ann_expire: expired vintage gone from catalog and disk, retained " +
    "bucket files untouched, drop idempotent") {
    val out1 = outOf("q_ann_expire") // builds + expires via StoreOnce
    val (t, wh) = operators.VectorQueries.annExpireStore(spark, dir)
    assert(spark.table(t).filter(col("vec_id") % 10 >= 2).count() === 0L,
      "expired vintage still served from the store")
    assert(spark.table(t).count() > 0L, "retained vintage lost")
    assert(!new java.io.File(s"$wh/index/vintage=base").exists(),
      "expired vintage's files not reclaimed")
    val d1 = operators.Stores.files(s"$wh/index/vintage=delta1")
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted
    assert(d1.nonEmpty, "retained vintage's bucket files missing")
    // the retention job re-runs: store AND output unchanged, retained
    // files byte-identical (expire never rewrites surviving data)
    operators.VectorQueries.annExpireDrop(spark, dir)
    val d1b = operators.Stores.files(s"$wh/index/vintage=delta1")
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted
    assert(d1b === d1, "re-running the expire touched retained files")
    assert(outOf("q_ann_expire") === out1,
      "query output changed after the expire re-run")
  }

  test("q_ivf_expire: expired vintage's cluster partitions gone from " +
    "catalog and disk, retained files untouched, drop idempotent") {
    val out1 = outOf("q_ivf_expire")
    val (t, wh) = operators.IvfQueries.ivfExpireStore(spark, dir)
    assert(spark.table(t).filter(col("vec_id") % 10 >= 2).count() === 0L,
      "expired vintage still served from the store")
    assert(spark.table(t).count() > 0L, "retained vintage lost")
    assert(!new java.io.File(s"$wh/index/vintage=base").exists(),
      "expired vintage's files not reclaimed")
    assert(spark.sql(s"SHOW PARTITIONS $t").collect()
      .forall(!_.getString(0).startsWith("vintage=base/")),
      "expired cluster partitions still in the catalog")
    val d1 = operators.Stores.files(s"$wh/index/vintage=delta1")
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted
    assert(d1.nonEmpty, "retained vintage's partition files missing")
    operators.IvfQueries.ivfExpireDrop(spark, dir)
    val d1b = operators.Stores.files(s"$wh/index/vintage=delta1")
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted
    assert(d1b === d1, "re-running the expire touched retained files")
    assert(outOf("q_ivf_expire") === out1,
      "query output changed after the expire re-run")
  }

  test("q_clustering_approx lands within 2.5% absolute of the exact global " +
    "clustering coefficient (deterministic estimator - fixture constant)") {
    val got = Registry.byName("q_clustering_approx").build(spark, dir).collect()
    Caches.releaseAll()
    assert(got.length === 1)
    val est = got(0).getAs[Long]("c_est_ppm")
    // exact C = 3·triangles / Σ_{deg≥2} deg(deg−1)/2, brute-forced on the
    // sf0.001 co-purchase graph (small enough for the unoriented census)
    val op = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = Caches.persisted(op.join(op.withColumnRenamed("p", "q"), "o")
      .filter(col("p") < col("q"))
      .select(col("p").as("u"), col("q").as("v")).distinct())
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .count()
    val wedges = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .agg(sum(expr("(deg * (deg - 1)) div 2"))).collect()(0).getLong(0)
    Caches.releaseAll()
    val exactPpm = 3L * tri * 1000000L / wedges
    assert(math.abs(est - exactPpm) <= 25000L,
      s"estimate $est ppm vs exact $exactPpm ppm - estimator drifted")
    // the unweighted companion stays in range too (divergence from the
    // weighted estimate is the documented cap/degree-bias gauge)
    val naive = got(0).getAs[Long]("c_naive_ppm")
    assert(naive >= 0L && naive <= 1000000L)
  }

  test("q_corpus_delete: a delta doc whose only admission authority was the " +
    "purged doc flips from rejected to admitted (planted corpus)") {
    // doc 15 (≡5, purge set) is a quality-kept exact survivor; delta doc
    // 20 is its exact twin. Pre-purge the funnel rejects 20 at the exact
    // stage on 15's hash; post-purge the hash is orphaned (no retained
    // doc shares it) and 15's band signatures are gone too → admitted.
    import spark.implicits._
    def long(s: String) = (s + " ") * 6 // ≥100 tokens → quality score ≥ 0.4
    val t = long("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon")
    val u = long("one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty")
    val v = long("red orange yellow green blue indigo violet crimson amber teal " +
      "maroon olive navy coral salmon ivory jade ruby topaz pearl")
    val rows = Seq(
      (11L, u, "en", "s", 100L),
      (12L, v, "en", "s", 100L),
      (15L, t, "en", "s", 100L), // base member, purge set
      (20L, t, "en", "s", 100L)) // tonight's delta: exact twin of 15
    val out = TestSpark.tempDir("cdel")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val got = Registry.byName("q_corpus_delete").build(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    Caches.releaseAll()
    def funnel(phase: String) =
      got.filter(_._1 == phase).map(r => r._2 -> r._3).toMap
    assert(funnel("pre") === Map("1_delta_raw" -> 1L, "2_quality" -> 1L,
      "3_exact" -> 0L, "4_near" -> 0L),
      s"pre-purge the twin must be rejected on the purged doc's hash: $got")
    assert(funnel("post") === Map("1_delta_raw" -> 1L, "2_quality" -> 1L,
      "3_exact" -> 1L, "4_near" -> 1L),
      s"post-purge the twin must be admitted end-to-end: $got")
    // the purge propagated to BOTH stores (r17 shape: refcount-purged
    // hash store + band tombstones over the untouched ingest band store)
    val (h2, tomb) = operators.PipelineQueries.corpusDeleteTables(spark, out)
    assert(spark.table(tomb).filter(col("doc_id") === 15L).count() === 1L,
      "the purged doc must be tombstoned for the band store")
    val (h1, b1) = operators.PipelineQueries.corpusStoreTables(spark, out)
    assert(spark.table(b1)
        .join(spark.table(tomb), Seq("doc_id"), "left_anti")
        .filter(col("doc_id") === 15L).count() === 0L,
      "purged doc's signatures survive the tombstone anti-join")
    assert(spark.table(h1).count() === spark.table(h2).count() + 1,
      "exactly the orphaned hash must leave the content-hash store")
  }
}
