package graft

import graft.streaming.{SessionEvent, Sessions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch streaming regression: the sessionizer must survive several
  * micro-batches with an advancing watermark (the timeout-clamp path) and
  * must not emit duplicate session keys across seals.
  */
class StreamingMultiBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("stateful sessionizer across multiple micro-batches") {
    import spark.implicits._
    // split events into 3 chronological files so the file source feeds
    // them as separate micro-batches (test-only staging of the testdata)
    val staged = TestSpark.tempDir("stream")
    val ev = Tables.events(spark, dir).orderBy("ts")
    val n = ev.count()
    val parts = ev.collect().grouped((n / 3 + 1).toInt).toSeq
    parts.zipWithIndex.foreach { case (rows, i) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), ev.schema)
        .write.parquet(s"$staged/batch$i.parquet")
    }
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staged/*.parquet")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts"))
      .as[SessionEvent]
    val q = Sessions.sessionizeStream(stream).writeStream
      .format("memory").queryName("sess_mb").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("sess_mb")
    assert(out.count() > 0)
    // no duplicate (user, session-start) keys across seals
    assert(out.groupBy("user_id", "start_us").count()
      .filter(col("count") > 1).count() === 0)
    // sealed sessions respect the 30-minute gap invariant internally
    assert(out.filter(col("end_us") - col("start_us") < 0).count() === 0)
  }

  test("SCD2 streaming twin survives a cross-trigger user history that the session gap would have sealed early") {
    import spark.implicits._
    import graft.streaming.{PathEvent, Scd2, VersionRecord}
    // Hand-crafted fixture, one file per micro-batch:
    //   f0: A@t0 "view", B@t0+100min "click"  → watermark after f0 = t0+40min
    //   f1: C@t0+50min "view" (NO data for A — the trigger in which a
    //       30-min gap timeout would fire for A, since t0+40min > t0+30min;
    //       the 90-min SealGapUs must NOT fire: t0+40min < t0+90min)
    //   f2: A@t0+45min "purchase" (on time: ≥ watermark t0+40min) — under
    //       an early seal this would start a second, overlapping chain
    //   f3: far-future sentinel seals every chain exactly once
    val t0 = 1704067200L * 1000000L // 2024-01-01T00:00:00Z in µs
    val min = 60L * 1000000L
    val rows = Seq(
      Seq((1L, 1L, t0, "view"), (2L, 2L, t0 + 100 * min, "click")),
      Seq((3L, 3L, t0 + 50 * min, "view")),
      Seq((1L, 4L, t0 + 45 * min, "purchase")),
      Seq((-1L, -1L, t0 + 100 * min + 3L * 3600 * 1000000L, "view")))
    val staged = TestSpark.tempDir("scd2-mb")
    rows.zipWithIndex.foreach { case (batch, i) =>
      batch.toDF("user_id", "event_id", "ts_us", "event_type")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
          timestamp_micros(col("ts_us")).as("ts"))
        .coalesce(1).write.parquet(s"$staged/f$i.parquet")
      // deterministic batch order: strictly increasing data-file mtimes
      import java.nio.file.{Files, Paths, FileVisitOption}
      import java.nio.file.attribute.FileTime
      Files.walk(Paths.get(s"$staged/f$i.parquet"), FileVisitOption.FOLLOW_LINKS)
        .filter(Files.isRegularFile(_))
        .forEach(p => Files.setLastModifiedTime(p,
          FileTime.fromMillis(1704067200000L + i * 60000L)))
    }
    val real = rows.flatten.filter(_._1 >= 0)
      .toDF("user_id", "event_id", "ts_us", "event_type")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"))
    val batchWant = Scd2.versions(real.as[PathEvent])
      .collect().map(v => (v.user_id, v.event_type, v.start_us, v.end_us)).sorted
    // user A must have a closed "view" then an open "purchase" — the
    // exact shape an early seal corrupts into two overlapping chains
    assert(batchWant.filter(_._1 == 1L).toSeq ===
      Seq((1L, "purchase", t0 + 45 * min, -1L), (1L, "view", t0, t0 + 45 * min)))
    val schema = real.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
      .withWatermark("ts", "1 hour")
      .as[PathEvent]
    val q = Scd2.versionsStream(stream).writeStream
      .format("memory").queryName("scd2_mb").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("scd2_mb").as[VersionRecord]
      .collect().filter(_.user_id >= 0)
      .map(v => (v.user_id, v.event_type, v.start_us, v.end_us)).sorted
    assert(streamed.toSeq === batchWant.toSeq)
  }

  test("Jobs.await propagates the body's failure") {
    val handle = graft.jobs.Jobs.start(spark, "failing-job") {
      Tables(spark, "/nonexistent", "lineitem").count()
    }
    val thrown = intercept[Exception] { handle.await() }
    assert(thrown.getMessage.contains("nonexistent") ||
      thrown.getCause != null)
    handle.close()
  }

  test("streaming HLL store append across micro-batches == batch day-2 " +
    "fold, and a redelivered batch is a fold no-op (at-least-once is free)") {
    import graft.streaming.Streams
    // spec-private store: base registers (orders ≡ 2..9 mod 10)
    val key = System.nanoTime().toString
    val t = s"g_stream_hll_$key"
    val wh = TestSpark.tempDir("stream-hll")
    val o = Tables(spark, dir, "orders")
    def regsOf(filter: org.apache.spark.sql.Column) =
      graft.streaming.Streams.hllRegistersStream(
        o.filter(filter).select(col("o_custkey").as("k")))
    regsOf(col("o_orderkey") % 10 >= 2)
      .select(col("j"), col("m"), lit("base").as("vintage"))
      .write.mode("overwrite").partitionBy("vintage")
      .option("path", s"$wh/regs").saveAsTable(t)
    // the delta (≡ 1) streams in as 3 micro-batches of raw keys
    val deltaKeys = o.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_custkey").as("k"))
    val staged = s"$wh/staged"
    val rows = deltaKeys.collect()
    rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach { case (part, i) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(part.toIndexedSeq, 1), deltaKeys.schema)
        .write.parquet(s"$staged/batch$i.parquet")
    }
    val q = spark.readStream.schema(deltaKeys.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        Streams.appendHllRegistersBatch(df, t)
      }
      .option("checkpointLocation", s"$wh/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    def fold(): Seq[(Int, Int)] =
      spark.table(t).groupBy(col("j")).agg(max(col("m")).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val streamed = fold()
    val expected = regsOf(col("o_orderkey") % 10 =!= 0)
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(streamed === expected,
      "streamed per-batch appends must fold to the batch day-2 registers")
    // at-least-once: redeliver the first micro-batch — rows re-append,
    // the fold must not move (register algebra, not dedup machinery)
    val grown = spark.table(t).count()
    Streams.appendHllRegistersBatch(
      spark.read.parquet(s"$staged/batch0.parquet"), t)
    assert(spark.table(t).count() > grown,
      "the redelivered batch must actually re-append rows")
    assert(fold() === expected,
      "a redelivered batch changed the served fold")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    operators.Stores.delete(wh)
  }

  /** Stage a relation as 3 single-file parquet micro-batches; returns the
    * staged glob dir (VERDICT r15 task 3 shared scaffolding). */
  private def stage3(rel: org.apache.spark.sql.DataFrame, tag: String): String = {
    val staged = TestSpark.tempDir(s"stream-$tag")
    val rows = rel.collect()
    rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach { case (part, i) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(part.toIndexedSeq, 1), rel.schema)
        .write.parquet(s"$staged/batch$i.parquet")
    }
    staged
  }

  private def runStream(staged: String, schema: org.apache.spark.sql.types.StructType,
      ckpt: String)(sink: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
      .writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("streaming Bloom store append across micro-batches == batch day-2 " +
    "bit set, and a redelivered batch is a fold no-op (UNION algebra, " +
    "blind append like HLL)") {
    import graft.streaming.Streams
    val key = System.nanoTime().toString
    val t = s"g_stream_bloom_$key"
    val wh = TestSpark.tempDir("stream-bloom")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    Streams.bloomBitsBatch(docs.filter(col("doc_id") % 10 >= 2))
      .select(col("bit"), lit("base").as("vintage"))
      .write.mode("overwrite").partitionBy("vintage")
      .option("path", s"$wh/bits").saveAsTable(t)
    val delta = docs.filter(col("doc_id") % 10 === 1)
    val staged = stage3(delta, "bloom")
    runStream(staged, delta.schema, s"$wh/ckpt") { (df, _) =>
      Streams.appendBloomBitsBatch(df, t)
    }
    def fold(): Seq[Long] =
      spark.table(t).select(col("bit")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
    val streamed = fold()
    val expected = Streams.bloomBitsBatch(docs.filter(col("doc_id") % 10 =!= 0))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === expected,
      "streamed per-batch bit appends must fold to the batch day-2 bit set")
    // at-least-once: rows re-append, the distinct-bit fold must not move
    val grown = spark.table(t).count()
    Streams.appendBloomBitsBatch(
      spark.read.parquet(s"$staged/batch0.parquet"), t)
    assert(spark.table(t).count() > grown,
      "the redelivered batch must actually re-append rows")
    assert(fold() === expected, "a redelivered batch changed the served bit set")
    spark.sql(s"DROP TABLE IF EXISTS $t"); operators.Stores.delete(wh); operators.Stores.delete(staged)
  }

  test("streaming CMS store append across micro-batches == batch day-2 " +
    "counters, and a redelivered batch REWRITES its own partition (SUM " +
    "algebra: blind re-append would silently double counts)") {
    import graft.streaming.Streams
    val key = System.nanoTime().toString
    val t = s"g_stream_cms_$key"
    val wh = TestSpark.tempDir("stream-cms")
    val words = Tables(spark, dir, "documents")
      .select((col("doc_id") % 10).as("g"),
        explode(graft.functions.TextOps.wordsNative(lower(col("text")))).as("word"))
    Streams.cmsCountersStream(words.filter(col("g") >= 2).select(col("word")))
      .select(col("d"), col("p"), col("c"),
        lit("base").as("vintage"), lit(-1L).as("batch_id"))
      .write.mode("overwrite").partitionBy("vintage", "batch_id")
      .option("path", s"$wh/counters").saveAsTable(t)
    val delta = words.filter(col("g") === 1).select(col("word"))
    val staged = stage3(delta, "cms")
    runStream(staged, delta.schema, s"$wh/ckpt") { (df, id) =>
      Streams.appendCmsCountersBatch(df, t, id)
    }
    def fold(): Seq[(Int, Long, Long)] =
      spark.table(t).groupBy(col("d"), col("p")).agg(sum(col("c")).as("c"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    val streamed = fold()
    val expected = Streams.cmsCountersStream(
        words.filter(col("g") =!= 0).select(col("word")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(streamed === expected,
      "streamed per-batch counter appends must fold to the batch day-2 counters")
    // at-least-once via idempotent overwrite: batch 0 redelivers, its
    // (delta1, 0) partition rewrites with identical content — row count
    // AND fold both hold still (contrast the Bloom/HLL grown-rows shape:
    // SUM algebra cannot afford the blind append they tolerate)
    val rowsBefore = spark.table(t).count()
    Streams.appendCmsCountersBatch(
      spark.read.parquet(s"$staged/batch0.parquet"), t, 0L)
    assert(spark.table(t).count() === rowsBefore,
      "redelivery must rewrite its own batch partition, not append beside it")
    assert(fold() === expected, "a redelivered batch changed the served counters")
    spark.sql(s"DROP TABLE IF EXISTS $t"); operators.Stores.delete(wh); operators.Stores.delete(staged)
  }

  test("streaming quantile store append across micro-batches == batch " +
    "day-2 histogram on the INGEST grid, and a redelivered batch is an " +
    "idempotent partition rewrite") {
    import graft.streaming.Streams
    val key = System.nanoTime().toString
    val t = s"g_stream_quant_$key"
    val wh = TestSpark.tempDir("stream-quant")
    val cents = Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    // ingest-time grid from the BASE corpus only (the q_quantile_store
    // posture: the grid is store state, never re-derived per delta)
    val span = cents.filter(col("o_orderkey") % 10 >= 2)
      .agg(min(col("cents")).as("minc"),
        (max(col("cents")) - min(col("cents")) + 1L).as("span")).collect()(0)
    val (minc, spanV) = (span.getLong(0), span.getLong(1))
    Streams.quantileHistBatch(
        cents.filter(col("o_orderkey") % 10 >= 2).select(col("cents")), minc, spanV)
      .select(col("b"), col("c"), lit("base").as("vintage"), lit(-1L).as("batch_id"))
      .write.mode("overwrite").partitionBy("vintage", "batch_id")
      .option("path", s"$wh/hist").saveAsTable(t)
    val delta = cents.filter(col("o_orderkey") % 10 === 1).select(col("cents"))
    val staged = stage3(delta, "quant")
    runStream(staged, delta.schema, s"$wh/ckpt") { (df, id) =>
      Streams.appendQuantileHistBatch(df, t, id, minc, spanV)
    }
    def fold(): Seq[(Long, Long)] =
      spark.table(t).groupBy(col("b")).agg(sum(col("c")).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val streamed = fold()
    val expected = Streams.quantileHistBatch(
        cents.filter(col("o_orderkey") % 10 =!= 0).select(col("cents")), minc, spanV)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed === expected,
      "streamed per-batch histogram appends must fold to the day-2 histogram")
    val rowsBefore = spark.table(t).count()
    Streams.appendQuantileHistBatch(
      spark.read.parquet(s"$staged/batch0.parquet"), t, 0L, minc, spanV)
    assert(spark.table(t).count() === rowsBefore,
      "redelivery must rewrite its own batch partition, not append beside it")
    assert(fold() === expected, "a redelivered batch changed the served histogram")
    spark.sql(s"DROP TABLE IF EXISTS $t"); operators.Stores.delete(wh); operators.Stores.delete(staged)
  }
}
