package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Anti-drift lint for the hand-written docs (round-16 protocol):
  * round 15 burned three commits on manual README/SURVEY count syncs
  * (5adf89a, c74c727, cd32de2). This spec DERIVES the counts — registry
  * size, oracled size, suite-file count, SURVEY §2.13 E-row contiguity,
  * and every E-row's query citations — and fails the build when a doc
  * statement drifts from the tree, so the sync is forced at edit time,
  * not round end. No Spark session needed: the registry map and oracle
  * map are plain values. */
class CountSyncSpec extends AnyFunSuite with Matchers {

  private def read(rel: String): String = {
    val p = java.nio.file.Paths.get(rel)
    withClue(s"$rel must exist at the repo root (sbt test runs there): ") {
      java.nio.file.Files.exists(p) shouldBe true
    }
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("README registry counts match SparkEntry (queries + oracled)") {
    val n = graft.SparkEntry.queries.size
    val oracled =
      (graft.SparkEntry.queries.keySet intersect
        graft.SparkEntry.oracleSql.keySet).size
    val readme = read("README.md")
    withClue(s"README must state the derived counts '$n queries " +
      s"($oracled DuckDB-oracled' (registry grew/shrank without a " +
      "README sync): ") {
      readme should include(s"$n queries ($oracled DuckDB-oracled")
    }
  }

  test("README suite count matches the test tree") {
    // concrete `class … extends SparkSpec/AnyFunSuite` declarations —
    // NOT a bare content grep, which would also count the SparkSpec
    // base trait's own file and overstate sbt's suite count by one
    val suiteRe = """(?m)^class\s+\w+\s+extends\s+(SparkSpec|AnyFunSuite)""".r
    val specFiles = {
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/test/scala"))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .map { p =>
            val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            suiteRe.findAllIn(s).size
          }.sum
      } finally walk.close()
    }
    withClue(s"README must state '($specFiles suites)': ") {
      read("README.md") should include(s"($specFiles suites)")
    }
  }

  test("registry short keys (bench digest keys) are unique") {
    // bench_diff.py's fallback path reads the total line's top-10
    // digest under SHORT keys; Bench refuses to render duplicates, but
    // that failure surfaces only at bench time — this pins it in CI.
    val names = graft.SparkEntry.queries.keySet.toSeq
    val dup = names.groupBy(_.takeWhile(_ != '_')).filter(_._2.size > 1)
    withClue("two registry names share a qNN prefix (bench digests " +
      "would collapse them): ") { dup shouldBe empty }
  }

  test("every public operator def appears exactly once in the SURVEY 2.13.1 name index") {
    // The round-16 q324 incident (a semantic near-duplicate drafted
    // because the inventory wasn't consulted) as a failing test:
    // landing a public def without touching the index fails here, and
    // touching the index means reading the inventory — where the
    // duplicate is caught at draft time.
    val pkgs = Seq("analytics", "etl", "text", "dedup", "similarity",
      "graph", "events")
    val defRe = """(?m)^  (?:final )?def (\w+)""".r
    val treeDefs: Map[String, String] = pkgs.flatMap { p =>
      val dir = java.nio.file.Paths.get(s"src/main/scala/graft/$p")
      val walk = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.toString.endsWith(".scala")).toSeq
          .flatMap { f =>
            val s = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
            defRe.findAllMatchIn(s).map(m =>
              m.group(1) -> s"$p/${f.getFileName}").toSeq
          }
      } finally walk.close()
    }.toMap
    withClue("two packages define a same-named public def (the index " +
      "is keyed by name): ") {
      treeDefs.keySet.size shouldBe treeDefs.size
    }

    val survey = read("SURVEY.md")
    val idxRe = """(?m)^\| `(\w+)` \| (\S+) \| `([^`]+)` \|$""".r
    val idx = idxRe.findAllMatchIn(
      survey.split("#### 2\\.13\\.1")(1)).map(m =>
        (m.group(1), m.group(2), m.group(3))).toSeq
    idx should not be empty
    withClue("index lists a def twice: ") {
      idx.map(_._1).distinct.size shouldBe idx.size
    }
    val idxNames = idx.map(_._1).toSet
    withClue("public operator defs missing from the SURVEY 2.13.1 " +
      "name index (add a row — and CHECK the inventory for an " +
      "existing operator first): ") {
      (treeDefs.keySet -- idxNames) shouldBe empty
    }
    withClue("index rows with no matching public def in the tree " +
      "(operator removed/renamed without an index sync): ") {
      (idxNames -- treeDefs.keySet) shouldBe empty
    }
    // home ids must exist: an E-row in the 2.13 table, a core §2 id,
    // or the explicit `support` classification
    val eIds = """(?m)^\| (E\d+) \|""".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
    val coreIds =
      (1 to 6).map("S" + _) ++ (1 to 9).map("K" + _) ++
        (1 to 17).map("P" + _) ++ (1 to 3).map("J" + _) ++
        (1 to 10).map("A" + _) ++ (1 to 2).map("W" + _) ++
        (1 to 4).map("O" + _)
    val valid = eIds ++ coreIds + "support"
    withClue("index rows citing a nonexistent home row id: ") {
      idx.filterNot(r => valid.contains(r._2)) shouldBe empty
    }
    withClue("index rows naming the wrong defining file: ") {
      idx.filterNot(r => treeDefs(r._1) == r._3) shouldBe empty
    }
  }

  test("SURVEY 2.13 E-rows are contiguous and cite real registry queries") {
    val survey = read("SURVEY.md")
    val rowRe = """(?m)^\| E(\d+) \|(.*)$""".r
    val rows = rowRe.findAllMatchIn(survey).toSeq
    rows should not be empty
    val ids = rows.map(_.group(1).toInt)
    withClue("duplicate E ids: ") {
      ids.distinct.size shouldBe ids.size
    }
    withClue(s"E ids must be contiguous 1..${ids.max} (a gap or " +
      "renumber means rows were dropped or double-counted): ") {
      ids.sorted shouldBe (1 to ids.max).toList
    }
    // every qNNN cited anywhere in an E-row must exist in the registry
    // (>= 2 digits: the registry convention, and it dodges prose like
    // "q1/median/q3" quartile names)
    val shortKeys = graft.SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val qRe = """\bq\d{2,}\b""".r
    val phantom = for {
      m <- rows
      q <- qRe.findAllIn(m.group(2)).toSeq.distinct
      if !shortKeys.contains(q)
    } yield s"E${m.group(1)} cites $q"
    withClue("E-rows cite queries missing from SparkEntry.queries: ") {
      phantom shouldBe empty
    }
  }

  test("bare UNION in OracleSql appears only as a recursive CTE's own union") {
    // DuckDB 1.0, measured round 18 (the q347 find): inside any
    // statement carrying WITH RECURSIVE, a bare UNION in a
    // NON-self-referential CTE degrades to concatenation — no
    // cross-branch dedup — and which duplicates survive a downstream
    // row_number top-k cut is run-dependent, so the oracle's answer
    // goes nondeterministic (q344's twin was exposed). House rule,
    // enforced file-wide so a later RECURSIVE wrap can't re-arm the
    // landmine: bare UNION is allowed ONLY as the recursion operator
    // of a SELF-referential CTE; every other union writes UNION ALL
    // + an outer SELECT DISTINCT.
    val lines = read("src/main/scala/graft/OracleSql.scala").split("\n")
    import CountSyncSpec.cteDefName
    val bad = for {
      i <- lines.indices
      l = lines(i)
      if """\bUNION\b""".r.findFirstIn(l).isDefined
      if !l.contains("UNION ALL")
      pre = l.split("UNION", 2)(0)
      if !pre.trim.startsWith("*") && !pre.contains("--") // comments
      defIdx = (i to 0 by -1).find(j => cteDefName(lines(j)).isDefined)
      name = defIdx.flatMap(j => cteDefName(lines(j)))
      selfRef = (defIdx, name) match {
        case (Some(j), Some(n)) =>
          // self-referential iff the CTE's own name occurs again
          // anywhere between its definition and the next CTE def
          val end = ((j + 1) until lines.length)
            .find(k => cteDefName(lines(k)).isDefined).getOrElse(lines.length)
          val span = lines.slice(j, end).mkString("\n")
          ("""\b""" + n + """\b""").r.findAllIn(span).length >= 2
        case _ => false
      }
      if !selfRef
    } yield s"line ${i + 1} (cte ${name.getOrElse("?")})"
    withClue("bare UNION outside a self-referential CTE — write UNION " +
      "ALL + outer SELECT DISTINCT (the WITH RECURSIVE rule): ") {
      bad shouldBe empty
    }
  }

  test("cteDefName finds a CTE definition at line start or on its val/def line") {
    import CountSyncSpec.cteDefName
    cteDefName("hp(m) AS (SELECT 1),") shouldBe Some("hp")
    cteDefName(", ranked AS (") shouldBe Some("ranked")
    cteDefName("  private val connCte = \"\"\"conn(a, b) AS (") shouldBe Some("conn")
    cteDefName("  private val dailyCloseCte: String = \"\"\"daily AS (") shouldBe Some("daily")
    cteDefName("  private def sessionStarts(order: String): String = s\"\"\"m AS (") shouldBe
      Some("m")
    cteDefName("    val priorSelect = s\"\"\"SELECT 'prior' AS component,") shouldBe None
    cteDefName("  private val hpMatrix = \"hp\"") shouldBe None
    cteDefName("SELECT a, b FROM conn UNION SELECT a, c FROM conn") shouldBe None
    cteDefName("    * ranked AS ( in a comment") shouldBe None
  }

  test("no src/main file names the checkout's absolute path") {
    // fixture and scratch dirs resolve against the working directory;
    // a literal checkout path sends a second checkout's writes into
    // the first one
    val root = java.nio.file.Paths.get("").toAbsolutePath.toString
    withClue(s"src/main files containing '$root': ") {
      srcMainFilesContaining(root) shouldBe empty
    }
  }

  test("no src/main file calls Files.createTempDirectory") {
    // a temp dir made while building a query is never deleted, so
    // every Verify, ExplainDump or Bench run leaves one behind; build
    // persisted tables once per sf dir as `fixture`s under `scratch`
    withClue("src/main files calling Files.createTempDirectory: ") {
      srcMainFilesContaining("createTempDirectory") shouldBe empty
    }
  }

  private def srcMainFilesContaining(text: String): Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains(text))
        .map(_.toString).toSeq
    } finally walk.close()
  }
}

object CountSyncSpec {
  private val cteDef = ("""^(?:\s*(?:private\s+)?(?:val|def)\s+\w+[^=]*=\s*s?"{3})?""" +
    """,?\s*([A-Za-z_][A-Za-z0-9_]*)(\([^)]*\))? AS \(""").r

  /** The CTE an `OracleSql` source line defines, if any: `name AS (` or
    * `name(cols) AS (` at the start of the line (after an optional
    * comma), or right after the `"""` that opens a `val`/`def` string
    * literal on that line. */
  def cteDefName(line: String): Option[String] =
    cteDef.findFirstMatchIn(line).map(_.group(1))
}
