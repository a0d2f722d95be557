package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ConfLock under an ACTUAL two-thread race (VERDICT r14 task 5): the
  * r13 ADVICE failure mode was locked out by construction but never
  * exercised concurrently — this spec runs a VintageWrite loop against a
  * static-mode store-build loop on the shared session and proves neither
  * store loses a partition.
  */
class ConfLockRaceSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = graft.TestSpark.sf0001

  test("a VintageWrite raced against a static-mode store write cannot " +
    "truncate the unrelated base vintage (two-thread stress)") {
    // The failure mode, actually raced: VintageWrite's dynamic partition
    // overwrite reading the session conf while a concurrent store build
    // holds it at static would turn the delta rewrite into a
    // truncate-ALL-partitions overwrite — silently deleting the base
    // vintage. ConfLock serializes every toggle+write+restore section;
    // this test runs the two writers concurrently for several rounds and
    // asserts no base row is ever lost on either store.
    import spark.implicits._
    val key = StoreToken(spark, dir)
    val wh = StoreToken.workspace("conflock_race", key)
    Stores.delete(wh)
    Stores.cleanupOnExit(wh)
    val t1 = s"g_race_a_$key"
    val t2 = s"g_race_b_$key"
    Seq((1L, "base"), (2L, "base"), (3L, "delta1"))
      .toDF("id", "vintage")
      .write.mode("overwrite").partitionBy("vintage")
      .option("path", s"$wh/a").saveAsTable(t1)
    Seq((10L, "base"), (11L, "base"), (12L, "delta1"))
      .toDF("id", "vintage")
      .write.mode("overwrite").partitionBy("vintage")
      .option("path", s"$wh/b").saveAsTable(t2)
    // Race power (ADVICE r15): 6 rounds of two free-running loops could
    // serialize by scheduling accident and pass even without ConfLock.
    // Three teeth against that: a start latch releases both writers
    // simultaneously (the first sections collide by construction), the
    // round count is 24, and the static section ASSERTS the conf value
    // it set is still in force both before and after its INSERT — if
    // ConfLock's mutex were removed, the dynamic writer's concurrent
    // toggle/restore flips the shared conf mid-section and this observes
    // it directly (probabilistically per round) even when neither write
    // happens to truncate.
    val rounds = 24
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val dyn = new Thread(() => {
      try {
        start.await()
        var i = 0
        while (i < rounds) {
          // the dynamic-overwrite delta append (VintageWrite under test)
          VintageWrite(Seq((100L + i, "delta1")).toDF("id", "vintage"), t1)
          i += 1
        }
      } catch { case e: Throwable => errs.add(e); () }
    })
    val static = new Thread(() => {
      try {
        start.await()
        var i = 0
        while (i < rounds) {
          // the conf-toggling store build on the OTHER table
          ConfLock.withConf(spark, confKey, "static") {
            assert(spark.conf.get(confKey) == "static",
              "another writer's toggle leaked into this ConfLock section")
            spark.sql(s"INSERT OVERWRITE TABLE $t2 " +
              s"PARTITION (vintage='delta1') SELECT id FROM VALUES " +
              s"(${200L + i}) AS t(id)")
            assert(spark.conf.get(confKey) == "static",
              "another writer's restore flipped the conf mid-INSERT")
          }
          i += 1
        }
      } catch { case e: Throwable => errs.add(e); () }
    })
    dyn.start(); static.start(); start.countDown(); dyn.join(); static.join()
    assert(errs.isEmpty, s"racing writers threw: ${errs.peek()}")
    spark.sql(s"REFRESH TABLE $t1"); spark.sql(s"REFRESH TABLE $t2")
    assert(spark.table(t1).filter(col("vintage") === "base")
      .select(col("id")).as[Long].collect().sorted.toSeq === Seq(1L, 2L),
      "t1's base vintage was truncated by the raced static toggle")
    assert(spark.table(t1).filter(col("vintage") === "delta1").count() === 1L,
      "t1's delta1 vintage must hold exactly the last overwrite")
    assert(spark.table(t2).filter(col("vintage") === "base")
      .select(col("id")).as[Long].collect().sorted.toSeq === Seq(10L, 11L),
      "t2's base vintage was truncated")
    assert(spark.table(t2).filter(col("vintage") === "delta1").count() === 1L)
  }
}
