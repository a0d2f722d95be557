package graft

import java.util.concurrent.CyclicBarrier

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs

/** The job-group scoping and lifecycle of the one metrics collector that
  * `Jobs.state`, `ShuffleMeter` and `ProfileQueries` read.
  */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def collectors = Bridge.listeners(spark.sparkContext)
    .collect { case m: QueryMetrics => m }

  test("two groups measured concurrently on the shared session each count " +
    "only their own stages and shuffle bytes") {
    def wide() = spark.range(0, 200000, 1, 4)
      .groupBy(col("id") % 97).count().collect().length
    def narrow() = spark.range(0, 50000, 1, 3)
      .repartition(2).groupBy(col("id") % 5).count().collect().length
    val (_, wideAlone) = QueryMetrics.measure(spark)(wide())
    val (_, narrowAlone) = QueryMetrics.measure(spark)(narrow())
    val barrier = new CyclicBarrier(2)
    val both = Seq(() => wide(), () => narrow()).map { body =>
      Future(QueryMetrics.measure(spark) { barrier.await(); body() })
    }.map(Await.result(_, 2.minutes))
    val Seq((wideRows, wideBoth), (narrowRows, narrowBoth)) = both
    assert(wideRows === 97 && narrowRows === 5)
    for ((alone, conc) <- Seq(wideAlone -> wideBoth, narrowAlone -> narrowBoth)) {
      assert(alone.shuffleWriteBytes > 0, s"no shuffle measured: $alone")
      assert(conc.stagesCompleted === alone.stagesCompleted, s"$conc vs $alone")
      assert(conc.jobs.size === alone.jobs.size, s"$conc vs $alone")
      assert(conc.shuffleWriteBytes === alone.shuffleWriteBytes, s"$conc vs $alone")
      assert(conc.shuffleReadBytes === alone.shuffleReadBytes, s"$conc vs $alone")
    }
    assert(wideAlone.stagesCompleted != narrowAlone.stagesCompleted ||
      wideAlone.shuffleWriteBytes != narrowAlone.shuffleWriteBytes)
  }

  test("20 Jobs start/await/close cycles leave no group state and no extra " +
    "listener on the context") {
    val sc = spark.sparkContext
    for (i <- 1 to 20) {
      val h = Jobs.start(spark, s"cycle-$i") {
        spark.range(0, 1000, 1, 2).groupBy(col("id") % 3).count().collect()
      }
      assert(h.await().length === 3)
      h.close()
    }
    Bridge.waitListenerBusEmpty(sc, 10000)
    assert(collectors.size === 1)
    assert(QueryMetrics.of(sc).heldState === 0)
  }

  test("a stopped context's collector is never reused") {
    val sc = spark.sparkContext
    val before = QueryMetrics.of(sc)
    // what SparkContext.stop delivers to every listener before its bus stops
    before.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    val after = QueryMetrics.of(sc)
    assert(after ne before)
    assert(collectors === Seq(after))
    val (n, r) = QueryMetrics.measure(spark) {
      spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count().collect().length
    }
    assert(n === 3 && r.jobs.nonEmpty && r.shuffleWriteBytes > 0, s"$r")
  }
}
