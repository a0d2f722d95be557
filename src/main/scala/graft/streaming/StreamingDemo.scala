package graft.streaming

import org.apache.spark.sql.functions._

/** Runnable Structured Streaming demo over the events table: tumbling
  * window + watermark, streaming dedup, and the stateful sessionizer.
  * Usage: sbt "runMain graft.streaming.StreamingDemo [sfDir]".
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session(4)
    import spark.implicits._

    val win = Streams.tumblingCounts(Streams.eventsStream(spark, sfDir))
      .writeStream.format("memory").queryName("win").outputMode("complete").start()
    win.processAllAvailable(); win.stop()
    println(s"WINDOWED_ROWS=${spark.table("win").count()}")
    spark.table("win").orderBy("hour_start", "event_type").show(5)

    val dedup = Streams.dedupByKey(Streams.eventsStream(spark, sfDir))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    dedup.processAllAvailable(); dedup.stop()
    println(s"DEDUP_ROWS=${spark.table("dedup").count()}")

    val ev = Streams.eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts"))
      .as[SessionEvent]
    val sess = Sessions.sessionizeStream(ev).writeStream
      .format("memory").queryName("sess").outputMode("append").start()
    sess.processAllAvailable(); sess.stop()
    println(s"SESSION_ROWS=${spark.table("sess").count()}")
    spark.table("sess").orderBy("user_id", "session_id").show(5)
    spark.stop()
  }
}
