package graft

import graft.streaming.{SessionEvent, Sessions, Streams}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming demos (test-only — DuckDB can't oracle a stream;
  * SURVEY.md §2.3 note): the streaming twins must agree with their
  * batch-checked counterparts on bounded input.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** FileStreamSource orders files by modification time; back-to-back
    * writes can collide at millisecond granularity, which would let a
    * far-future sentinel batch run FIRST and advance the watermark past
    * every real event. Force `later`'s data files strictly after
    * `earlier`'s so batch order is deterministic.
    */
  private def forceLaterMtime(earlier: String, later: String): Unit = {
    import java.nio.file.{Files, Paths, FileVisitOption}
    import java.nio.file.attribute.FileTime
    val f0Max = Files.walk(Paths.get(earlier), FileVisitOption.FOLLOW_LINKS)
      .filter(Files.isRegularFile(_))
      .mapToLong(p => Files.getLastModifiedTime(p).toMillis).max.orElse(0L)
    Files.walk(Paths.get(later), FileVisitOption.FOLLOW_LINKS)
      .filter(Files.isRegularFile(_))
      .forEach(p => Files.setLastModifiedTime(p, FileTime.fromMillis(f0Max + 60000L)))
  }

  test("streaming tumbling window == batch q_time_window counts") {
    val stream = Streams.tumblingCounts(Streams.eventsStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("win").agg(sum("cnt")).collect()(0).getLong(0)
    val want = Tables.events(spark, dir).count()
    assert(got === want)
    val batch = Registry.byName("q_time_window").build(spark, dir).count()
    assert(spark.table("win").count() === batch)
  }

  test("streaming sliding window == batch sliding-window aggregation") {
    val stream = Streams.slidingCounts(Streams.eventsStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("slide")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // every event lands in exactly 4 overlapping (1h, 15m-slide) windows
    val got = spark.table("slide").agg(sum("cnt")).collect()(0).getLong(0)
    val want = Tables.events(spark, dir).count() * 4
    assert(got === want)
    // and the streaming result equals the identical batch aggregation
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .count()
    assert(spark.table("slide").count() === batch)
  }

  test("streaming dedup-by-key emits each event_id once") {
    val stream = Streams.dedupByKey(Streams.eventsStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup").count()
    val want = Tables.events(spark, dir).select("event_id").distinct().count()
    assert(got === want)
  }

  test("stream-stream interval join == equivalent batch join") {
    val joined = Streams.purchasesWithRecentErrors(Streams.eventsStream(spark, dir))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("ts").as("e_ts"))
    val batch = p.join(e,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("e_ts") <= col("p_ts")).count()
    assert(spark.table("ssj").count() === batch)
  }

  test("purchase-click interval join + aggregation twin == batch q_event_window_join") {
    // the chained-stateful shape: time-interval LEFT-OUTER join followed
    // by a windowed aggregation, sealed by a far-future sentinel carrying
    // BOTH a purchase and a click (the global watermark is the min over
    // sides, so both must advance for unmatched-left emission + sealing)
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val staged = TestSpark.tempDir("pcj")
    base.coalesce(1).write.parquet(s"$staged/f0.parquet")
    val maxUs = base.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val farUs = maxUs + 10L * 3600 * 1000 * 1000
    spark.createDataFrame(Seq((-1L, -1L, "purchase", farUs), (-1L, -2L, "click", farUs)))
      .toDF("user_id", "event_id", "event_type", "ts_us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"))
      .coalesce(1).write.parquet(s"$staged/f1.parquet")
    forceLaterMtime(s"$staged/f0.parquet", s"$staged/f1.parquet")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$staged/f0.parquet").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
    val q = graft.streaming.Streams.purchaseClickCounts(stream)
      .writeStream.format("memory").queryName("pcj").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("pcj").filter(col("event_id") >= 0)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("clicks_1h")).toMap
    val want = Registry.byName("q_event_window_join").build(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("clicks_1h")).toMap
    assert(got === want)
  }

  test("durable parquet sink with checkpoint restarts cleanly") {
    val out = TestSpark.tempDir("sink")
    def run(): Unit = {
      val q = Streams.tumblingCounts(Streams.eventsStream(spark, dir))
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    run() // restart from checkpoint: no reprocessing, no failure
    // append-mode windowed agg only emits watermark-sealed windows
    val rows = spark.read.parquet(s"$out/data").count()
    val sealedBatch = Registry.byName("q_time_window").build(spark, dir).count()
    assert(rows > 0 && rows <= sealedBatch)
  }

  test("foreachBatch parquet snapshot == batch twin exactly") {
    val out = TestSpark.tempDir("fb")
    val stream = Streams.tumblingCounts(Streams.eventsStream(spark, dir))
    val q = Streams.snapshotToParquet(stream, s"$out/data", s"$out/ckpt")
    try q.processAllAvailable() finally q.stop()
    // complete-mode snapshot: the sink holds the FULL aggregate, so the
    // parquet contents must equal the identical batch aggregation exactly
    // (the append-mode test above can only bound sealed windows)
    val got = spark.read.parquet(s"$out/data").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour_start"),
        r.getAs[String]("event_type")) -> r.getAs[Long]("cnt")).toMap
    val want = Streams.tumblingCounts(Tables.events(spark, dir)).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour_start"),
        r.getAs[String]("event_type")) -> r.getAs[Long]("cnt")).toMap
    assert(got === want)
    assert(got.values.sum === Tables.events(spark, dir).count())
  }

  test("stateful sessionizer (batch mode) == declarative q_sessionize") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts"))
      .as[SessionEvent]
    val got = Sessions.sessionize(ev)
    val want = Registry.byName("q_sessionize").build(spark, dir)
    assert(got.count() === want.count())
    // per-user session counts must match exactly
    val gotPer = got.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    val wantPer = want.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(gotPer === wantPer)
  }

  test("session-path assembly: batch twin == declared q_session_paths head") {
    import spark.implicits._
    import graft.streaming.{PathEvent, SessionPaths}
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("ts"))
      .as[PathEvent]
    val counts = SessionPaths.sessionPaths(ev)
      .groupBy("path").count().as[(String, Long)].collect().toMap
    val declared = Registry.byName("q_session_paths").build(spark, dir).collect()
    Caches.releaseAll()
    // the declared query is the top-20 of exactly this relation
    declared.foreach { r =>
      assert(counts(r.getAs[String]("path")) === r.getAs[Long]("n_sessions"),
        s"path ${r.getAs[String]("path")} count mismatch")
    }
    assert(declared.map(_.getAs[Long]("n_sessions")).sum <= counts.values.sum)
  }

  test("session-path assembly: streaming twin == batch twin exactly") {
    import spark.implicits._
    import graft.streaming.{PathEvent, SessionPaths}
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("ts"))
    val batch = SessionPaths.sessionPaths(base.as[PathEvent])
      .collect().map(p => (p.user_id, p.session_id, p.path)).sorted
    // Stage the fixture plus one far-future sentinel event (user -1) as a
    // second file: its batch advances the watermark past every real
    // session's timeout, so the no-data batch seals ALL real sessions and
    // exact equality is well-defined (without it, sessions near the end
    // of the bounded fixture stay open forever).
    val staged = TestSpark.tempDir("paths")
    base.coalesce(1).write.parquet(s"$staged/f0.parquet")
    val maxUs = base.agg(org.apache.spark.sql.functions.max(col("ts_us"))).head().getLong(0)
    val farUs = maxUs + 3L * 3600 * 1000 * 1000
    spark.createDataFrame(Seq((-1L, -1L, farUs, "view")))
      .toDF("user_id", "event_id", "ts_us", "event_type")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        org.apache.spark.sql.functions.timestamp_micros(col("ts_us")).as("ts"))
      .coalesce(1).write.parquet(s"$staged/f1.parquet")
    forceLaterMtime(s"$staged/f0.parquet", s"$staged/f1.parquet")
    val stream = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
      .withWatermark("ts", "1 hour")
      .as[PathEvent]
    val q = SessionPaths.sessionPathsStream(stream).writeStream
      .format("memory").queryName("sess_paths").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_paths")
      .as[graft.streaming.SessionPath]
      .collect().filter(_.user_id >= 0)
      .map(p => (p.user_id, p.session_id, p.path)).sorted
    assert(streamed.toSeq === batch.toSeq)
  }

  test("SCD2 version reconstruction: batch twin rolls up to declared q_scd2 exactly") {
    import spark.implicits._
    import graft.streaming.{PathEvent, Scd2}
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("ts"))
      .as[PathEvent]
    val got = Scd2.versions(ev)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("end_us") === -1L, 1L).otherwise(0L)).as("n_open"),
        sum(when(col("end_us") =!= -1L, col("end_us") - col("start_us"))
          .otherwise(0L)).as("closed_us"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val want = Registry.byName("q_scd2").build(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    assert(got === want)
  }

  test("SCD2 version reconstruction: streaming twin == batch twin exactly") {
    import spark.implicits._
    import graft.streaming.{PathEvent, Scd2, VersionRecord}
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("ts"))
    val batch = Scd2.versions(base.as[PathEvent])
      .collect().map(v => (v.user_id, v.event_type, v.start_us, v.end_us)).sorted
    // far-future sentinel (user −1): advances the watermark past every
    // real user's timeout so all version chains seal (the session-paths
    // harness); the sentinel's own single open version is filtered out
    val staged = TestSpark.tempDir("scd2")
    base.coalesce(1).write.parquet(s"$staged/f0.parquet")
    val maxUs = base.agg(org.apache.spark.sql.functions.max(col("ts_us"))).head().getLong(0)
    val farUs = maxUs + 3L * 3600 * 1000 * 1000
    spark.createDataFrame(Seq((-1L, -1L, farUs, "view")))
      .toDF("user_id", "event_id", "ts_us", "event_type")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        org.apache.spark.sql.functions.timestamp_micros(col("ts_us")).as("ts"))
      .coalesce(1).write.parquet(s"$staged/f1.parquet")
    forceLaterMtime(s"$staged/f0.parquet", s"$staged/f1.parquet")
    val stream = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
      .withWatermark("ts", "1 hour")
      .as[PathEvent]
    val q = Scd2.versionsStream(stream).writeStream
      .format("memory").queryName("scd2_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("scd2_stream")
      .as[VersionRecord]
      .collect().filter(_.user_id >= 0)
      .map(v => (v.user_id, v.event_type, v.start_us, v.end_us)).sorted
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stateful sessionizer (streaming mode) runs and seals sessions") {
    import spark.implicits._
    val ev = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts"))
      .as[SessionEvent]
    val q = Sessions.sessionizeStream(ev).writeStream
      .format("memory").queryName("sess").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // bounded input: sessions whose close precedes the final watermark seal.
    assert(spark.table("sess").count() > 0)
  }

  test("stream-static dimension join == identical batch enrichment") {
    val cust = Tables(spark, dir, "customer")
    val stream = Streams.enrichedBySegment(Streams.eventsStream(spark, dir), cust)
    val q = stream.writeStream.format("memory").queryName("enrich")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enrich").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Streams.enrichedBySegment(Tables.events(spark, dir), cust).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.values.sum === Tables.events(spark, dir).count())
  }
}
