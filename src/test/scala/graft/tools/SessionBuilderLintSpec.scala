package graft.tools

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One harness session builder: every measuring or dumping main runs
  * on the session [[Harness.session]] builds, so two tools never
  * measure two engine configurations. No Spark session needed: the
  * rule reads the source tree. */
class SessionBuilderLintSpec extends AnyFunSuite with Matchers {

  private def scalaFiles(root: String): Seq[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def text(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  test("SparkSession.builder occurs in src/main only in tools/Harness.scala") {
    val hits = scalaFiles("src/main/scala")
      .filter(p => text(p).contains("SparkSession.builder"))
      .map(_.toString)
    hits shouldBe Seq("src/main/scala/graft/tools/Harness.scala")
  }

  test("test-side mains build no session of their own") {
    val mainDef = """(?m)^\s+def main\(""".r
    val mains = scalaFiles("src/test/scala").filter(p => mainDef.findFirstIn(text(p)).isDefined)
    mains should not be empty
    withClue("test-side mains must take their session from Harness.session: ") {
      mains.filter(p => text(p).contains("SparkSession.builder")).map(_.toString) shouldBe empty
    }
  }
}
