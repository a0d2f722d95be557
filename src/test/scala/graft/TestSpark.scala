package graft

import org.apache.spark.sql.SparkSession

/** One shared session across all suites (SURVEY.md §5.2 harness shape:
  * local[4], 4 shuffle partitions, UTC), whatever `SPARK_GRAFT_CPUS` says.
  */
object TestSpark {
  lazy val spark: SparkSession = Session(4)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
