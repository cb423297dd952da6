package graft
package catalog

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Oracle identity: every catalog query's DuckDB oracle text hashes to its
  * line in `oracle_sql.sha256` (`<query name>\t<sha256>`, sorted by name).
  * The hash is over [[OracleTextSpec.canonical]], so a text may be
  * re-indented or assembled from shared fragments, but no SQL token may
  * move. An intended oracle edit updates its one manifest line (the failure
  * prints it) and re-gates the query. */
class OracleTextSpec extends AnyFunSuite with Matchers {
  import OracleTextSpec._

  private lazy val manifest: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    assert(in != null, "oracle_sql.sha256 is not on the test classpath")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, hash) = l.split('\t')
      name -> hash
    }.toList
    finally src.close()
  }

  test("canonical form: whitespace runs fold outside literals, identifiers and comments") {
    canonical("SELECT  a,\n\t b  FROM t") shouldBe "SELECT a, b FROM t"
    canonical("SELECT 'a  b', \"x  y\"   FROM t") shouldBe "SELECT 'a  b', \"x  y\" FROM t"
    canonical("SELECT 'it''s  ok'  x") shouldBe "SELECT 'it''s  ok' x"
    canonical("SELECT 1  -- keep  this\n   FROM t") shouldBe "SELECT 1 -- keep  this\n FROM t"
    canonical("SELECT a,b") should not be canonical("SELECT a, b")
  }

  test("the manifest is sorted by query name and names each query once") {
    manifest.map(_._1) shouldBe manifest.map(_._1).distinct.sorted
  }

  test("every oracle text hashes to its manifest line") {
    val want = manifest.toMap
    val got = SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(canonical(sql)) }
    val wrong = got.toSeq.sorted.collect { case (n, h) if !want.get(n).contains(h) => s"$n\t$h" }
    wrong.foreach(println)
    withClue(s"changed or new oracle texts; their manifest lines:\n${wrong.mkString("\n")}\n") {
      wrong shouldBe empty
    }
    (want.keySet -- got.keySet) shouldBe empty
  }

  test("catalog query names are only added: every manifest name is still a query") {
    (manifest.map(_._1).toSet -- SparkEntry.queries.keySet) shouldBe empty
  }

  test("every catalog query is oracle-gated") {
    (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet) shouldBe empty
  }
}

object OracleTextSpec {

  /** `sql` with each whitespace run outside single-quoted literals,
    * double-quoted identifiers and `--` comments folded to one space.
    * Literal, identifier and comment bytes are kept; a comment keeps its
    * line end. A doubled quote inside a literal closes and reopens it,
    * which keeps the same bytes. */
  def canonical(sql: String): String = {
    val b = new StringBuilder
    var i = 0
    def copyThrough(close: Int): Unit = {   // to `close` inclusive, or to the end
      val end = if (close < 0) sql.length else close + 1
      b.append(sql.substring(i, end)); i = end
    }
    while (i < sql.length) {
      val c = sql(i)
      if (c == '\'' || c == '"') copyThrough(sql.indexOf(c, i + 1))
      else if (sql.startsWith("--", i)) copyThrough(sql.indexOf('\n', i))
      else if (c.isWhitespace) {
        while (i < sql.length && sql(i).isWhitespace) i += 1
        b.append(' ')
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
}
