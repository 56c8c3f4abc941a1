package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract's catalog byte for byte: the query count, the
  * sorted query names, and every oracle SQL string. A refactor of how
  * [[SparkEntry.queries]] or [[SparkEntry.oracleSql]] is built (file
  * split, `def` to `val`, family moves) must leave all three unchanged; a
  * deliberate catalog change updates the pins in the same commit.
  */
class QueryCatalogPinSpec extends AnyFunSuite {

  private def sha256(parts: Seq[String]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("query names: count and sorted-name hash are pinned") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val (count, hash) = (names.size, sha256(names))
    assert(count == 368)
    assert(hash == "e2879eccb7a9eab4b3cc37bfe9824987b619e7d3b44b8e9ea27daa89547f8587")
  }

  test("oracle SQL: every name -> SQL string is pinned") {
    val entries = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(k, v) }
    val (count, hash) = (SparkEntry.oracleSql.size, sha256(entries))
    assert(count == 368)
    assert(hash == "d25982f10dc918ae203850ca2a878c2be400e929230c73df825611eebcc94343")
  }
}
