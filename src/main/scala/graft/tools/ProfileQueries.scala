package graft.tools

import graft.{Caches, QueryMetrics, Registry, Session}

/** Per-query cost anatomy for the optimization rounds (guide §1): where
  * does a timed pass's wall clock go? Splits one execution into
  *   - build_ms: driver-side DataFrame construction (includes any eager
  *     jobs the query's build step runs — store builds, materialize
  *     counts);
  *   - plan_ms: analysis + optimization + physical planning of the final
  *     action, from the QueryPlanningTracker;
  *   - exec_ms: the count() action itself;
  *   - jobs / stages / tasks: scheduler work the pass generated;
  *   - task_ms: summed executor task time (run time, not queue time);
  *   - shuffle_w/r: bytes through exchanges;
  *   - per_job: [job id, wall ms, call site] of every job, which shows
  *     exactly where a 30-job query spends its scheduling floor.
  * exec_ms ≫ task_ms/cores with small task counts = per-stage scheduling
  * latency (sequential stage chains); task_ms ≈ exec_ms × cores = real
  * compute. Usage:
  *   sbt "runMain graft.tools.ProfileQueries /root/testdata/sf0.1 q_a q_b"
  * Reports the SECOND run of each query (warm caches, JIT done), matching
  * Bench's steady-state protocol; only the measured pass's own job group
  * is counted.
  */
object ProfileQueries {
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val ids = args.tail.toSeq
    val spark = Session(Session.cpus(Session.allCores))
    Session.cacheTables(spark, dir)
    ids.foreach { id =>
      val q = Registry.byName(id)
      // pass 1: warm-up (JIT, codegen, footer caches), untimed
      try { q.build(spark, dir).count(); () }
      catch { case e: Throwable => System.err.println(s"[profile] $id warm-up: ${e.getMessage}") }
      Caches.releaseAll()
      val t0 = System.nanoTime()
      val ((df, tBuild, tExec), r) = QueryMetrics.measure(spark) {
        val df = q.build(spark, dir)
        val tBuild = System.nanoTime()
        df.count()
        (df, tBuild, System.nanoTime())
      }
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => s""""$k":${v.durationMs}""" }.mkString("{", ",", "}")
      val perJob = r.jobs.map(j => s"[${j.id},${j.ms},${str(j.callSite)}]").mkString("[", ",", "]")
      println(s"""{"id":"$id","build_ms":${(tBuild - t0) / 1000000},""" +
        s""""exec_ms":${(tExec - tBuild) / 1000000},"phases":$phases,""" +
        s""""jobs":${r.jobs.size},"stages":${r.stagesCompleted},"tasks":${r.tasks},""" +
        s""""task_ms":${r.taskMs},"shuffle_w":${r.shuffleWriteBytes},""" +
        s""""shuffle_r":${r.shuffleReadBytes},"per_job":$perJob}""")
      Caches.releaseAll()
    }
    spark.stop()
  }
}
