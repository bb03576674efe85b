package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle text is part of the correctness gate: it changes only
  * when a defect forces it. `src/test/resources/oracle_sql.sha256.tsv` holds
  * one `name<TAB>sha256(SparkEntry.oracleSql(name))` row per query, sorted by
  * name. A deliberate oracle change regenerates the file by copying the rows
  * this spec prints on a mismatch, and is named in CHANGES.md.
  */
class OracleTextSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  test("every oracle SQL string matches its recorded sha256") {
    val current = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\t${sha256(sql)}" }
    val in = getClass.getResourceAsStream("/oracle_sql.sha256.tsv")
    assert(in != null, "missing resource oracle_sql.sha256.tsv")
    val recorded =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toSeq
      finally in.close()
    assert(current.size == 120)
    val changed = (current.diff(recorded) ++ recorded.diff(current))
      .map(_.takeWhile(_ != '\t')).distinct
    assert(changed.isEmpty,
      "— the oracle SQL of these queries changed. If the change is " +
        "deliberate, replace oracle_sql.sha256.tsv with:\n" + current.mkString("\n"))
  }
}
