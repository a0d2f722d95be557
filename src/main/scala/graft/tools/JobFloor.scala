package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Micro-measurement of the session's fixed per-job / per-task / per-stage
  * costs (r16, guide §1): how much of a bench query's wall clock is
  * irreducible scheduling floor vs plan work. Times, after warm-up,
  * medians of: (a) a 1-task no-shuffle job, (b) a 32-task no-shuffle job,
  * (c) a 1-exchange AQE aggregate, (d) a 2-exchange AQE aggregate chain,
  * (e) a broadcast-join job. Prints one JSON line.
  */
object JobFloor {
  def main(args: Array[String]): Unit = {
    val spark = Session(Session.cpus(Session.allCores))
    def med(n: Int)(body: => Unit): Double = {
      (1 to 3).foreach(_ => body) // warm-up
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(n / 2)
    }
    val r1 = spark.range(0, 32, 1, 1).toDF("x")
    val r32 = spark.range(0, 32, 1, 32).toDF("x")
    // pure-RDD jobs: scheduling floor with zero SQL compilation
    val rdd1 = spark.sparkContext.parallelize(1 to 32, 1)
    val rdd32 = spark.sparkContext.parallelize(1 to 32, 32)
    val z1 = med(21)(rdd1.count())
    val z32 = med(21)(rdd32.count())
    // pre-planned SQL execution: executedPlan reused, no re-compilation
    val preplanned = r1.queryExecution.executedPlan
    val p1 = med(21)(preplanned.execute().count())
    print(f"""{"rdd_1task_ms":$z1%.1f,"rdd_32task_ms":$z32%.1f,"preplanned_1task_ms":$p1%.1f,""")
    val a = med(21)(r1.count())
    val b = med(21)(r32.count())
    val c = med(21)(r32.groupBy(col("x") % 4).count().count())
    val d = med(21)(r32.groupBy(col("x") % 4).agg(sum("x").as("s"))
      .groupBy(col("s") % 2).count().count())
    val e = med(21)(r32.join(broadcast(r1.select(col("x").as("y"))),
      col("x") === col("y")).count())
    println(f""""job_1task_ms":$a%.1f,"job_32task_ms":$b%.1f,"agg_1ex_ms":$c%.1f,"agg_2ex_ms":$d%.1f,"bcast_join_ms":$e%.1f}""")
    spark.stop()
  }
}
