package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the oracle SQL the correctness gate compares against: the files
  * `Verify` writes, rendered by its one renderer, must hash to these
  * digests. Any edit to an oracle string, its escaping or its order fails
  * here, without test data or DuckDB. Updating a digest is a deliberate
  * act: the oracle changed, so the gate's meaning changed with it. */
class OraclePinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  test("oracle_sql.json renders to its pinned SHA-256") {
    assert(sha256(Verify.oracleJson(SparkEntry.oracleSql)) ===
      "ab04e077244c1b80dc9fe9943718410840354d0643bb4ad97b0d2d0cb202f507")
  }

  test("oracle_sql_scale.json renders to its pinned SHA-256") {
    assert(sha256(Verify.oracleJson(SparkEntry.oracleSqlScale)) ===
      "5343c9f9d91a1b5dacc4d6d7cba7d662e5654e3001ccf77bd4781c0e96d288d0")
  }

  test("the renderer escapes quotes, backslashes and every control char") {
    assert(Verify.oracleJson(Map("a\"b" -> "x\\y\n\r\t\u0001")) ===
      "{\"a\\\"b\": \"x\\\\y\\n\\r\\t\\u0001\"}")
  }
}
