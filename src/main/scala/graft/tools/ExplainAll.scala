package graft.tools

import java.nio.file.{Files, Paths}

import graft.Session

/** Dumps the formatted physical plan of every declared query to a
  * markdown file — the plan-audit artifact (are filters pushed, joins
  * broadcast, aggregates partial?). Generated on demand, not committed;
  * PlanSpec holds the structural pins. Usage:
  *   sbt "runMain graft.tools.ExplainAll <sfDir> <outFile>"
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ExplainAll <sfDir> <outFile>")
    val Array(dir, out) = args
    val spark = Session(4)
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.ExplainAll at ")
      .append(dir).append(")\n\n")
    sb.append("Executed (AQE-final) plans per declared query. Things to check:\n")
    sb.append("PushedFilters / ReadSchema at scans, BroadcastHashJoin for small\n")
    sb.append("dims, partial+final HashAggregate pairs, TakeOrderedAndProject\n")
    sb.append("for top-k, `*(n)` whole-stage-codegen spans.\n")
    graft.Registry.all.sortBy(_.name).foreach { q =>
      if (q.name == "q_heavy_hitters") {
        // eager builder (driver-side CMS probe, see its Q doc): its plan
        // is a 10-row local relation; the real work runs at build time
        sb.append(s"\n## ${q.name}\n\n(eager sketch probe — no inspectable plan;")
        sb.append(" two lineitem scans run at build time)\n")
      } else {
        val df = q.build(spark, dir)
        df.count() // materialize AQE final plan
        sb.append(s"\n## ${q.name}\n\n```\n")
        // cap per-query dump: deeply-chained caches make plan.toString
        // re-embed each InMemoryRelation's child plan recursively, so a
        // 6-cache chain (q_local_clustering) renders megabytes of
        // repeated subtrees — the audit needs the top of the tree, not
        // the repetition
        val txt = df.queryExecution.executedPlan.toString
        val cap = 60000
        if (txt.length <= cap) sb.append(txt)
        else sb.append(txt.take(cap)).append(
          s"\n... [truncated ${txt.length - cap} chars: nested InMemoryRelation " +
            "rendering repeats child plans]")
        sb.append("```\n")
      }
      graft.Caches.releaseAll() // closeJobHandle discipline per query
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"WROTE $out")
    spark.stop()
  }
}
