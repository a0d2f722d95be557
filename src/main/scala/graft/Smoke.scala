package graft

/** Local smoke of the driver's t1 check: SparkEntry.entry must return >0
  * rows on sf0.001. Usage: sbt "runMain graft.Smoke".
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session(4)
    val df = SparkEntry.entry(spark)
    df.show(5)
    println(s"ENTRY_ROWS=${df.count()}")
    println(s"QUERIES=${SparkEntry.queries.size} ORACLES=${SparkEntry.oracleSql.size}")
    spark.stop()
  }
}
