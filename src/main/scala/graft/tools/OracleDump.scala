package graft.tools

/** Print declared oracle SQL (no SparkSession — registry construction is
  * plain Scala), so an oracle can be smoke-run in DuckDB before paying a
  * Spark verify cycle.
  *
  * With query ids, prints each one's oracle as written. With no
  * arguments, prints every registry id and its `Registry.oracles` text
  * (the whitespace-collapsed form Verify writes to `oracle_sql.json`),
  * one `id<TAB>sql` line per id, sorted by id: a one-command dump to diff
  * before and after an oracle refactor.
  * Usage: sbt "runMain graft.tools.OracleDump [q_hll_merge ...]"
  */
object OracleDump {
  def main(args: Array[String]): Unit =
    if (args.isEmpty)
      graft.Registry.oracles.toSeq.sortBy(_._1).foreach { case (id, sql) => println(s"$id\t$sql") }
    else
      args.foreach { name =>
        val q = graft.Registry.byName(name)
        println(s"-- ==== $name ====")
        println(q.oracle.getOrElse("-- (no oracle)"))
        println(";")
      }
}
