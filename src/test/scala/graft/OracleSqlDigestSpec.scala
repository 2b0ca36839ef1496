package graft

import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Tripwire for oracle edits: the SHA-256 of every [[OracleSql.all]]
  * entry is pinned in `src/test/resources/oracle_sql.sha256` (one
  * `name sha256` line per query, sorted by name). A refactor of the
  * oracle must leave every string byte-identical; a deliberate change
  * to an oracle's SQL regenerates the file (`sbt "Test/runMain
  * graft.OracleSqlDigest"`), so the change shows up in the diff as the
  * queries it touched. No Spark session needed. */
class OracleSqlDigestSpec extends AnyFunSuite with Matchers {

  test("every OracleSql.all entry matches its pinned SHA-256") {
    val src = Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    val pinned =
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(name, sha) = l.split(' ')
        name -> sha
      }.toMap
      finally src.close()
    val actual = OracleSqlDigest.digests
    val added = (actual.keySet -- pinned.keySet).toSeq.sorted
    val removed = (pinned.keySet -- actual.keySet).toSeq.sorted
    val changed = actual.keySet.intersect(pinned.keySet)
      .filter(k => actual(k) != pinned(k)).toSeq.sorted
    withClue(s"added: $added; removed: $removed; changed: $changed; ") {
      (added ++ removed ++ changed) shouldBe empty
    }
  }
}

/** Digest lines of [[OracleSql.all]], in the pinned file's format. */
object OracleSqlDigest {

  def digests: Map[String, String] = OracleSql.all.map { case (name, sql) =>
    name -> MessageDigest.getInstance("SHA-256").digest(sql.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  def lines: Seq[String] = digests.toSeq.sorted.map { case (n, d) => s"$n $d" }

  /** Rewrites the pinned file from the current [[OracleSql.all]]. */
  def main(args: Array[String]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/test/resources/oracle_sql.sha256"),
      lines.map(_ + "\n").mkString.getBytes("UTF-8"))
}
