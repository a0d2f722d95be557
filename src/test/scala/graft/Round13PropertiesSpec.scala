package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 restart-safety properties (VERDICT r12 task 1): every day-2
  * store append is a DYNAMIC vintage-partition overwrite, so re-running
  * the day-N job — the production failure mode after a mid-write crash —
  * leaves both the store contents and the query output bit-identical
  * (append-twice ≡ append-once). A planted "partially committed earlier
  * run" (debris row inside the delta vintage) additionally proves the
  * overwrite HEALS corruption a bare append would have made permanent —
  * and silently so for the SUM-merged stores (CMS, quantile histogram).
  */
class Round13PropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def snapshot(table: String): Seq[String] =
    spark.table(table).collect().map(_.toString).sorted.toSeq

  private def outOf(name: String): Seq[String] = {
    val rows = Registry.byName(name).build(spark, dir).collect()
      .map(_.toString).toSeq
    Caches.releaseAll()
    rows
  }

  private def idempotent(name: String,
      table: (SparkSession, String) => String,
      append: (SparkSession, String) => Unit): Unit = {
    val out1 = outOf(name) // builds the store via StoreOnce
    val t = table(spark, dir)
    val snap1 = snapshot(t)
    assert(snap1.nonEmpty, s"$name: store $t is empty")
    append(spark, dir) // the simulated restart: the day-2 job runs again
    assert(snapshot(t) === snap1,
      s"$name: re-running the day-2 append changed the store")
    assert(outOf(name) === out1,
      s"$name: query output changed after the append re-run")
  }

  test("q_store_append: band-signature day-2 append is idempotent under re-run") {
    idempotent("q_store_append",
      operators.DedupQueries.bandStoreTable,
      operators.DedupQueries.bandStoreAppendDelta1)
  }

  test("q_hll_store: register day-2 append is idempotent under re-run") {
    idempotent("q_hll_store",
      operators.SketchQueries.hllStoreTable,
      operators.SketchQueries.hllStoreAppendDelta1)
  }

  test("q_cms_store: counter day-2 append is idempotent under re-run") {
    idempotent("q_cms_store",
      operators.SketchQueries.cmsStoreTable,
      operators.SketchQueries.cmsStoreAppendDelta1)
  }

  test("q_bloom_store: bit-set day-2 append is idempotent under re-run") {
    idempotent("q_bloom_store",
      operators.SketchQueries.bloomStoreTable,
      operators.SketchQueries.bloomStoreAppendDelta1)
  }

  test("q_quantile_store: histogram day-2 append is idempotent under re-run") {
    idempotent("q_quantile_store",
      operators.SketchQueries.quantileStoreTable,
      operators.SketchQueries.quantileStoreAppendDelta1)
  }

  test("q_ann_store_append: ANN-index day-2 append is idempotent under re-run") {
    idempotent("q_ann_store_append",
      operators.VectorQueries.annStoreTable,
      operators.VectorQueries.annStoreAppendDelta1)
  }

  test("q_ivf_store_append: IVF-index day-2 append is idempotent under re-run") {
    idempotent("q_ivf_store_append",
      operators.IvfQueries.ivfStoreTable,
      operators.IvfQueries.ivfStoreAppendDelta1)
  }

  test("a partially-committed CMS append heals on re-run (the silent SUM-corruption case)") {
    outOf("q_cms_store") // ensure the store exists
    val t = operators.SketchQueries.cmsStoreTable(spark, dir)
    val good = snapshot(t)
    // plant debris: one duplicated counter row inside vintage=delta1, as a
    // mid-write crash followed by a bare re-append would leave behind —
    // the SUM-merge then over-counts with no error anywhere
    val r = spark.table(t).filter(col("vintage") === "delta1").limit(1).collect()(0)
    import spark.implicits._
    Seq((r.getInt(0), r.getLong(1), r.getLong(2), "delta1"))
      .toDF("d", "p", "c", "vintage")
      .write.mode("append").insertInto(t)
    assert(snapshot(t) !== good, "the planted debris must corrupt the store")
    // the restart: the day-2 job re-runs its vintage overwrite and heals
    operators.SketchQueries.cmsStoreAppendDelta1(spark, dir)
    assert(snapshot(t) === good,
      "the vintage overwrite must replace the corrupted delta1 partition")
  }

  test("q_store_delete: a purged doc stops matching (planted corpus; GDPR-on-the-index)") {
    // probe 20's ONLY near-dup is doc 15 (identical text, all 16 minhashes
    // agree) — and 15 ≡ 5 (mod 10) is exactly the purge set: the pre
    // phase must surface the match, the post phase must not
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 50L),
      (12L, "one two three four five six seven eight nine ten eleven", "en", "s", 50L),
      (15L, txt, "en", "s", 60L), // base member, purge set (≡5 mod 10)
      (20L, txt, "en", "s", 60L)) // today's probe (≡0 mod 10)
    val out = TestSpark.tempDir("del-store")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val got = Registry.byName("q_store_delete").build(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    assert(got === Seq(("pre", 20L, 15L, 10000L)),
      "pre must match the purged doc; post must be empty")
  }

  test("q_session_expire: TTL eviction shrinks the store and preserves semantics (planted corpus)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: active Jan 15 night (retained) — stitches across the cut
      (1L, ts("2024-01-15 23:50:00"), 1L, "click", 2.00, "{}"),
      (2L, ts("2024-01-16 00:05:00"), 1L, "click", 4.00, "{}"),
      // user 2: idle since Jan 10 (> 2-day TTL → evicted), returns today
      (3L, ts("2024-01-10 12:00:00"), 2L, "click", 8.00, "{}"),
      (4L, ts("2024-01-16 09:00:00"), 2L, "click", 16.00, "{}"),
      // user 3: idle since Jan 10, never returns — evicted, absent
      (5L, ts("2024-01-10 13:00:00"), 3L, "click", 32.00, "{}"))
    val out = TestSpark.tempDir("sess-ttl")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val got = Registry.byName("q_session_expire").build(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    Caches.releaseAll()
    val cut = ts("2024-01-16 00:00:00").getTime * 1000L
    val want = Seq(
      (1L, ts("2024-01-15 23:50:00").getTime * 1000L, 2L, 600L, true),
      (2L, cut + 9L * 3600000000L, 1L, 1600L, false))
    assert(got === want)
    // the eviction is real: full store holds all 3 users, live store only
    // the one active inside the horizon
    val (fullT, liveT) = operators.EventQueries.expireStoreTables(spark, out)
    assert(spark.table(fullT).count() === 3L)
    assert(spark.table(liveT).count() === 1L)
  }

  test("q_session_store under a planted power-user day: exact under skew, no single-partition stage") {
    // VERDICT r12 stretch: 50% of today's events land on ONE user_id.
    // A session window cannot split a key (AQE skew handling applies to
    // joins, not windows), so the posture claim is: per-key work is
    // O(that user's events) — bounded by per-user activity, never by
    // corpus mass — and the surrounding plan keeps user_id hash
    // partitioning with no stage collapsing to a single partition.
    import spark.implicits._
    val cutMs = java.sql.Timestamp.valueOf("2024-01-16 00:00:00").getTime
    val power = (0 until 200).map { i =>
      (1000L + i, new java.sql.Timestamp(cutMs + 3600000L + i * 60000L),
        99L, "click", 1.00, "{}")
    }
    val normals = (0 until 100).flatMap { u =>
      Seq(
        (5000L + 2 * u, new java.sql.Timestamp(cutMs + 7200000L + u * 1000L),
          u.toLong, "click", 2.00, "{}"),
        (5001L + 2 * u, new java.sql.Timestamp(cutMs + 7200000L + u * 1000L + 60000L),
          u.toLong, "click", 3.00, "{}"))
    }
    // a straddler: open pre-cut session continued by the power day
    val straddle = Seq(
      (9000L, new java.sql.Timestamp(cutMs - 600000L), 98L, "click", 5.00, "{}"),
      (9001L, new java.sql.Timestamp(cutMs + 600000L), 98L, "click", 7.00, "{}"))
    val out = TestSpark.tempDir("sess-skew")
    (power ++ normals ++ straddle)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val df = Registry.byName("q_session_store").build(spark, out)
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val plan = df.queryExecution.executedPlan.toString
    Caches.releaseAll()
    // exact under skew: the hot user's 200-event run absorbs normal-user
    // 99's two same-window events into ONE 202-event session; the
    // straddler stitches; every other normal user has one 2-event session
    assert(got.filter(_._1 == 99L) === Seq((99L, 1L, 202L, 20500L)))
    assert(got.filter(_._1 == 98L) ===
      Seq((98L, 1L, 2L, 1200L), (98L, 2L, 2L, 500L)))
    assert(got.count(t => t._1 < 98L && t._3 == 2L && t._4 == 500L) === 98)
    assert(plan.contains("hashpartitioning(user_id"),
      s"the session window must partition by user_id:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no stage may collapse to one partition under skew:\n$plan")
  }

  private def parquetFiles(path: String): Seq[String] =
    operators.Stores.files(path).map(_.getName)
      .filter(n => n.endsWith(".parquet") && n.startsWith("part-"))

  test("q_store_compact: one file per bucket after compaction, fewer files than the grown store") {
    val out = outOf("q_store_compact") // builds grown + compacted stores
    // identity proven in the output: pre and post halves are equal
    val pre = out.filter(_.contains("[pre,")).map(_.replace("[pre,", ""))
    val post = out.filter(_.contains("[post,")).map(_.replace("[post,", ""))
    assert(pre.nonEmpty && pre === post,
      "compaction must not change a single probe answer")
    val grown = parquetFiles(operators.VectorQueries.annStorePath(spark, dir))
    val compacted = parquetFiles(operators.VectorQueries.compactStorePath(spark, dir))
    assert(compacted.size < grown.size,
      s"compaction must reduce file count (got ${compacted.size} vs ${grown.size})")
    // bucketed file names carry the bucket id as the _NNNNN suffix: after
    // compaction every bucket holds exactly one file
    val perBucket = compacted.groupBy(_.replaceAll("^part-\\d+-[0-9a-f-]+", ""))
    assert(compacted.size <= 8 && perBucket.values.forall(_.size == 1),
      s"expected one file per bucket, got: $compacted")
  }

  test("q_corpus_incremental: the admission funnel is monotone and ends non-empty") {
    val got = outOf("q_corpus_incremental")
      .map { s => val p = s.stripPrefix("[").stripSuffix("]").split(","); (p(0), p(1).toLong) }
    assert(got.map(_._1) === Seq("1_delta_raw", "2_quality", "3_exact", "4_near"))
    val ns = got.map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"each stage can only drop documents: $ns")
    assert(ns.last > 0, "the fixture delta must admit at least one document")
    assert(ns.head > ns.last, "the fixture delta must drop at least one document")
  }

  test("q_ivf_drift: stages grow monotonically and recalls stay in [0, 10000] bp") {
    val got = outOf("q_ivf_drift").map { s =>
      val p = s.stripPrefix("[").stripSuffix("]").split(",")
      (p(0).toInt, p(1).toLong, p(2).toLong, p(3).toLong, p(4).toLong)
    }
    assert(got.map(_._1) === Seq(1, 2, 3))
    assert(got.map(_._2) === got.map(_._2).sorted, "index must grow per stage")
    assert(got.map(_._3) === got.map(_._3).sorted, "delta share must grow per stage")
    assert(got.forall(r => r._4 >= 0 && r._4 <= 10000 && r._5 >= 0 && r._5 <= 10000))
  }

  test("a partially-committed band-store append heals on re-run (bucketed store)") {
    outOf("q_store_append")
    val t = operators.DedupQueries.bandStoreTable(spark, dir)
    val good = snapshot(t)
    val debris = spark.table(t).filter(col("vintage") === "delta1").limit(1)
      .collect().map(_.toSeq).toSeq
    assert(debris.nonEmpty, "fixture must produce delta1 band rows")
    val schema = spark.table(t).schema
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize(debris.map(org.apache.spark.sql.Row.fromSeq)),
      schema)
    planted.write.mode("append").insertInto(t)
    assert(snapshot(t) !== good, "the planted debris must corrupt the store")
    operators.DedupQueries.bandStoreAppendDelta1(spark, dir)
    assert(snapshot(t) === good,
      "the vintage overwrite must replace the corrupted delta1 partition, " +
        "preserving the bucket layout")
  }
}
