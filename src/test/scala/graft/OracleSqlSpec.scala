package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Pins every declared oracle, without a SparkSession. The oracle is the
  * reference the correctness gate compares Spark against, so a refactor of
  * the SQL builders must leave each id's `Registry.oracles` text (the
  * whitespace-collapsed form Verify writes to `oracle_sql.json`)
  * byte-identical. `oracle_sql.sha256` holds one `<sha256>  <id>` line
  * per id; an intended oracle change updates its line in the same commit.
  * Regenerate a line from `graft.tools.OracleDump` (no arguments) output.
  */
class OracleSqlSpec extends AnyFunSuite {
  private lazy val pinned: Map[String, String] = {
    val src = Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    try src.getLines().filter(_.trim.nonEmpty).map { line =>
      val Array(digest, id) = line.trim.split("\\s+", 2)
      id -> digest
    }.toMap
    finally src.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  test("the pinned ids are exactly the registry's oracle ids") {
    val actual = Registry.oracles.keySet
    val missing = (pinned.keySet -- actual).toSeq.sorted
    val extra = (actual -- pinned.keySet).toSeq.sorted
    assert(missing.isEmpty, s"pinned ids with no oracle in the registry: ${missing.mkString(", ")}")
    assert(extra.isEmpty, s"registry oracles with no pinned digest: ${extra.mkString(", ")}")
  }

  test("every oracle's collapsed SQL matches its pinned SHA-256") {
    val changed = Registry.oracles.toSeq.sortBy(_._1).collect {
      case (id, sql) if pinned.get(id).exists(_ != sha256(sql)) => id
    }
    assert(changed.isEmpty, s"oracle text changed for: ${changed.mkString(", ")}")
  }
}
