package graft

import org.apache.spark.sql.SparkSession

/** One shared session across all suites (SURVEY.md §5.2 harness shape:
  * local[4], 4 shuffle partitions, UTC), whatever `SPARK_GRAFT_CPUS` says.
  */
object TestSpark {
  lazy val spark: SparkSession = Session(4)

  /** A fresh `graft-<tag>…` scratch directory, removed at JVM exit. */
  def tempDir(tag: String): String = operators.Stores.tempDir(tag)

  /** `body` with session conf `key` set to `value`, the earlier setting
    * restored after.
    */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
