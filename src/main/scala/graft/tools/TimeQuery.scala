package graft.tools

import graft.Session

/** Ad-hoc timing harness: runs one declared query N times and prints each
  * wall time + the final executed plan. Usage:
  *   sbt "runMain graft.tools.TimeQuery q_knn_brute /root/testdata/sf0.1 3"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session(Session.cpus(4))
    // SPARK_GRAFT_CACHE_TABLES=1 reproduces Bench's cached-table session
    // (plan shapes can differ: InMemoryRelation stats vs file stats)
    if (sys.env.get("SPARK_GRAFT_CACHE_TABLES").contains("1"))
      Session.cacheTables(spark, dir)
    val q = graft.Registry.byName(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = q.build(spark, dir).count()
      println(f"RUN$i%d: ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      graft.Caches.releaseAll()
    }
    if (args.length > 3 && args(3) == "explain")
      q.build(spark, dir).explain("formatted")
    spark.stop()
  }
}
