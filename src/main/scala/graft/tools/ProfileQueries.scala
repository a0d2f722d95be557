package graft.tools

import graft.{Caches, QueryMetrics, Registry, Session}
import org.apache.spark.metrics.source.CodegenMetrics

/** Per-query cost anatomy for the optimization rounds (guide §1): where
  * does a timed pass's wall clock go? Splits one execution into
  *   - build_ms / build_jobs: driver-side DataFrame construction and the
  *     Spark jobs it runs eagerly (store builds, materialize counts,
  *     fixpoint loops), counted in a job group of their own;
  *   - plan_ms: analysis + optimization + physical planning of the final
  *     action, from the QueryPlanningTracker;
  *   - exec_ms: the count() action itself;
  *   - jobs / stages / tasks: scheduler work of that action;
  *   - task_ms: summed executor task time (run time, not queue time);
  *   - shuffle_w/r: bytes through exchanges;
  *   - per_job / build_per_job: [job id, wall ms, call site] of every job
  *     of the action / of the build, which shows exactly where a 30-job
  *     query spends its scheduling floor;
  *   - compiles: codegen classes compiled by the measured run. The warm-up
  *     just built the same query, so a non-zero count marks an id whose
  *     generated code differs between two builds of it, which no codegen
  *     cache size can help.
  * exec_ms ≫ task_ms/cores with small task counts = per-stage scheduling
  * latency (sequential stage chains); task_ms ≈ exec_ms × cores = real
  * compute. Usage:
  *   sbt "runMain graft.tools.ProfileQueries <sfDir> [q_a q_b ...]"
  * With no ids it times the build only, of every registry id: no action
  * runs, and each line carries just the build fields. Either way it ends
  * with one `{"total_build_jobs":…,"total_compiles":…}` line summed over
  * the ids. Reports the SECOND run of each query (warm caches, JIT done),
  * matching Bench's steady-state protocol; only the measured pass's own
  * job groups are counted. A query that fails prints an `error` line and
  * is left out of the total.
  */
object ProfileQueries {
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  private def jobList(r: QueryMetrics.Reading): String =
    r.jobs.map(j => s"[${j.id},${j.ms},${str(j.callSite)}]").mkString("[", ",", "]")

  /** `body`'s result and its wall ms. */
  private def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1000000)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val buildsOnly = args.length == 1
    val ids = if (buildsOnly) Registry.all.map(_.name).sorted else args.tail.toSeq
    val spark = Session(Session.cpus(Session.allCores))
    Session.cacheTables(spark, dir)
    var buildJobs, profiled = 0
    var totalCompiles = 0L
    ids.foreach { id =>
      val q = Registry.byName(id)
      // pass 1: warm-up (JIT, codegen, footer caches), untimed
      try { val df = q.build(spark, dir); if (!buildsOnly) df.count(); () }
      catch { case e: Throwable => System.err.println(s"[profile] $id warm-up: ${e.getMessage}") }
      Caches.releaseAll()
      try {
        val compiles0 = compiles
        val ((df, buildMs), b) = QueryMetrics.measure(spark)(timed(q.build(spark, dir)))
        val action =
          if (buildsOnly) ""
          else {
            val ((_, execMs), r) = QueryMetrics.measure(spark)(timed(df.count()))
            val phases = df.queryExecution.tracker.phases
              .map { case (k, v) => s""""$k":${v.durationMs}""" }.mkString("{", ",", "}")
            s""""exec_ms":$execMs,"phases":$phases,"jobs":${r.jobs.size},"stages":${r.stagesCompleted},""" +
              s""""tasks":${r.tasks},"task_ms":${r.taskMs},"shuffle_w":${r.shuffleWriteBytes},""" +
              s""""shuffle_r":${r.shuffleReadBytes},"per_job":${jobList(r)},"""
          }
        val compiled = compiles - compiles0
        println(s"""{"id":"$id","build_ms":$buildMs,"build_jobs":${b.jobs.size},""" + action +
          s""""compiles":$compiled,"build_per_job":${jobList(b)}}""")
        buildJobs += b.jobs.size
        totalCompiles += compiled
        profiled += 1
      } catch {
        case e: Throwable => println(s"""{"id":"$id","error":${str(String.valueOf(e.getMessage))}}""")
      }
      Caches.releaseAll()
    }
    println(s"""{"total_build_jobs":$buildJobs,"total_compiles":$totalCompiles,"queries":$profiled,"failed":${ids.size - profiled}}""")
    spark.stop()
  }
}
