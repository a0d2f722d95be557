package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.Session

/** Dumps `.explain("formatted")` of the named queries to
  * <outDir>/<query>_<tag>.txt — per-change plan evidence (before/after
  * pairs, as commit 9de9dbf recorded for round 16). Usage:
  *   sbt "runMain graft.tools.ExplainSome <sfDir> <outDir> <tag> q_a q_b ..."
  * Runs each query once first so the dumped plan is the AQE-final one.
  */
object ExplainSome {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val ids = args.drop(3).toSeq
    val spark = Session(Session.cpus(Session.allCores))
    Session.cacheTables(spark, dir)
    Files.createDirectories(Paths.get(outDir))
    ids.foreach { id =>
      val q = graft.Registry.byName(id)
      val df = q.build(spark, dir)
      try { df.count(); () } catch { case _: Throwable => () } // AQE-final
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${id}_$tag.txt"), txt)
      println(s"WROTE $outDir/${id}_$tag.txt")
      graft.Caches.releaseAll()
    }
    spark.stop()
  }
}
