package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SHA-256 of every query's DuckDB oracle text, as
  * `CanonicalHashSpec` pins every query's result: an oracle edit, or a
  * move of oracle text between files that changes one byte, fails here
  * and has to be made explicit. To re-pin after an intentional edit,
  * copy the `"name": "sha"` lines the failing test prints into
  * `src/test/resources/oracle_sql_sha256.json`.
  */
class OracleSqlPinSpec extends AnyFunSuite {
  private lazy val stored: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql_sha256.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    """"([^"]+)"\s*:\s*"([0-9a-f]+)"""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  test("oracle pin inventory covers exactly the declared queries") {
    val q = SparkEntry.queries.keySet
    val p = stored.keySet
    assert((q -- p).isEmpty, s"queries without a pinned oracle: ${(q -- p).toSeq.sorted}")
    assert((p -- q).isEmpty, s"stale oracle pins: ${(p -- q).toSeq.sorted}")
  }

  test("every query's oracle SQL matches its pinned SHA-256") {
    val fresh = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => name -> sha256(sql) }
    val bad = fresh.filter { case (name, sha) => !stored.get(name).contains(sha) }
    assert(bad.isEmpty, s"${bad.size} oracle digests differ from their pins:\n" +
      bad.map { case (name, sha) => s"""  "$name": "$sha"""" }.mkString(",\n"))
  }
}
