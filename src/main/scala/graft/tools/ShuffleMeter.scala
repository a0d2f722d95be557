package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Caches, QueryMetrics, Registry, Session}

/** Shuffle-byte meter (VERDICT r15 task 2): runs an action under its own
  * [[QueryMetrics]] job group and returns the shuffle bytes it wrote and
  * read. This turns "the twin's 100 TB case is shuffle BYTES" from prose
  * into a pinned number — an approximate twin whose oracle passes but
  * whose plan still moves the full data mass (the reverted first
  * q_jaccard_approx design, and the reverted capped-LPA twin) now fails
  * a byte assertion instead of surviving until a bench window exposes
  * it. Only the group's own stages are counted, so concurrent jobs on
  * the shared session never pollute a reading (VERDICT r16 task 1).
  */
object ShuffleMeter {
  type Reading = QueryMetrics.Reading

  def measure[A](spark: SparkSession)(body: => A): (A, Reading) =
    QueryMetrics.measure(spark)(body)

  /** Measure one declared query by id under the steady-state protocol:
    * an untimed warm-up pass settles file-listing/footer caches and any
    * one-time store builds, caches are released, and the metered pass is
    * then the full from-parquet computation — deterministic regardless
    * of what ran on the session before (the r16 spec's readings moved
    * 5.7 KB..92 KB with cache state because the metered pass included
    * whatever rebuild the previous caller's releaseAll left behind).
    */
  def measureQuery(spark: SparkSession, id: String, dir: String)
      : (Long, Reading) = {
    val q = Registry.byName(id)
    q.build(spark, dir).count()
    Caches.releaseAll()
    val (rows, r) = measure(spark) { q.build(spark, dir).count() }
    Caches.releaseAll()
    (rows, r)
  }
}

/** Side-by-side shuffle-byte comparison of declared query ids — the
  * SCALE.md measurement arm of the ShuffleMeter spec. Usage:
  *   sbt "runMain graft.tools.ShuffleCompare q_jaccard_approx q_graph_jaccard /root/testdata/sf0.1"
  * Prints one JSON line per id: rows, shuffle write/read bytes, stages.
  */
object ShuffleCompare {
  def main(args: Array[String]): Unit = {
    val ids = args.dropRight(1).toSeq
    val dir = args.last
    val spark = Session(Session.cpus(4))
    ids.foreach { id =>
      // measureQuery warms up internally (steady-state protocol)
      val (rows, r) = ShuffleMeter.measureQuery(spark, id, dir)
      println(s"""{"id":"$id","rows":$rows,"shuffle_write_bytes":${r.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${r.shuffleReadBytes},"stages":${r.stagesCompleted}}""")
    }
    spark.stop()
  }
}
