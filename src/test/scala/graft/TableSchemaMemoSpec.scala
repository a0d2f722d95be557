package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' schema memo: a read takes its schema from the memo, so a
  * query build over cached tables runs no Spark job and still hits the
  * cache, while a changed file or a second path to a file misses it.
  * Also `Session.cacheTables`' skip rule.
  */
class TableSchemaMemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  /** A copy of the sf0.001 fixtures without `drop`, so this suite's cache
    * entries never match another suite's reads of the shared fixtures.
    */
  private def fixtureCopy(tag: String, drop: Set[String]): String = {
    val dir = TestSpark.tempDir(tag)
    Tables.names.filterNot(drop).foreach { n =>
      Files.copy(Paths.get(TestSpark.sf0001, s"$n.parquet"), Paths.get(dir, s"$n.parquet"))
    }
    dir
  }

  /** Every fixture but events, cached through `Session.cacheTables`. */
  private var cachedDir: Option[String] = None
  private def cached: String = cachedDir.getOrElse {
    val dir = fixtureCopy("memo-cached", drop = Set("events"))
    cachedDir = Some(dir)
    Session.cacheTables(spark, dir)
    dir
  }
  private val cachedNames = Tables.names.filterNot(_ == "events")

  override def afterAll(): Unit =
    cachedDir.foreach(d => cachedNames.foreach(n => Tables(spark, d, n).unpersist(blocking = true)))

  private def jobs(body: => Any): Int = QueryMetrics.measure(spark)(body)._2.jobs.size

  test("building q_tpch_q3 over cached tables runs no Spark job, and each read hits the cache") {
    val dir = cached
    assert(jobs(Registry.byName("q_tpch_q3").build(spark, dir)) === 0)
    cachedNames.foreach { n =>
      val plan = Tables(spark, dir, n).queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty, s"$n not cached:\n$plan")
    }
  }

  test("cacheTables skips a table whose file is absent and caches the rest") {
    val dir = cached
    cachedNames.foreach(n => assert(Tables(spark, dir, n).storageLevel != StorageLevel.NONE, n))
    assert(!Tables.exists(spark, dir, "events"))
  }

  test("cacheTables rethrows a corrupt table file instead of skipping it") {
    val dir = TestSpark.tempDir("memo-corrupt")
    Files.copy(Paths.get(TestSpark.sf0001, "region.parquet"), Paths.get(dir, "region.parquet"))
    Files.write(Paths.get(dir, "orders.parquet"), "not a parquet file".getBytes("UTF-8"))
    try intercept[Exception](Session.cacheTables(spark, dir))
    finally Tables(spark, dir, "region").unpersist(blocking = true)
  }

  test("overwriting a table at the same path with an added column misses the memo") {
    val dir = TestSpark.tempDir("memo-overwrite")
    val path = s"$dir/region.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables(spark, dir, "region").columns.toSeq === Seq("a"))
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode("overwrite").parquet(path)
    val after = Tables(spark, dir, "region")
    assert(after.columns.toSeq === Seq("a", "b"))
    assert(after.selectExpr("sum(b)").head.getLong(0) === 6L)
  }

  test("two paths to one file (a symlink) are separate entries") {
    val dir = TestSpark.tempDir("memo-link")
    Files.createSymbolicLink(Paths.get(dir, "nation.parquet"),
      Paths.get(TestSpark.sf0001, "nation.parquet"))
    Tables(spark, TestSpark.sf0001, "nation")
    assert(jobs(Tables(spark, dir, "nation")) > 0, "the link's first read hit the target's entry")
    assert(jobs(Tables(spark, dir, "nation")) === 0)
    assert(jobs(Tables(spark, TestSpark.sf0001, "nation")) === 0)
  }

  /** One event at `ts` in a file whose `ts` column is TIMESTAMP(`unit`). */
  private def writeEvents(dir: String, unit: String, ts: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,false)); }")
    val w = ExampleParquetWriter.builder(new HPath(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L).append("ts", ts))
    finally w.close()
  }

  test("Tables.events reads ts as TIMESTAMP for both ts vintages") {
    val micros = 1700000000123456L
    for ((unit, raw) <- Seq("NANOS" -> (micros * 1000 + 789), "MICROS" -> micros)) {
      val dir = TestSpark.tempDir(s"memo-events-${unit.toLowerCase}")
      writeEvents(dir, unit, raw)
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType, unit)
      assert(ev.selectExpr("unix_micros(ts)").head.getLong(0) === micros, unit)
    }
  }
}
