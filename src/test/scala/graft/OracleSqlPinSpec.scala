package graft

import graft.io.OracleTables
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Every DuckDB oracle text stays byte-for-byte as committed: the md5 of
  * each `oracleSqlFor` text at sf0.01 must equal its row in
  * `oracle_sql.md5`. The oracle-table root embeds the checkout path, so
  * it is replaced by a fixed placeholder before hashing. A change that
  * edits an oracle on purpose edits that table by hand. */
class OracleSqlPinSpec extends AnyFunSuite {

  /** The texts depend on the sf dir only through its scale name
    * (`clipCount`, `bpeVocabFor`). */
  private val SfDir = "testdata/sf0.01"

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("oracle_sql.md5")(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, hash) = line.split(' ')
      name -> hash
    }.toMap
    finally src.close()
  }

  test("every oracle text hashes to its pinned md5") {
    val actual = SparkEntry.oracleSqlFor(SfDir).map { case (name, sql) =>
      name -> md5(sql.replace(OracleTables.Root, "<oracle-root>"))
    }
    assert(actual.keySet === pinned.keySet)
    val changed = actual.keys.toSeq.sorted.filter(n => actual(n) != pinned(n))
    assert(changed.isEmpty, s"oracle texts changed: ${changed.mkString(", ")}")
  }
}
