package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("part", StringType, nullable = false)))

  private def rows(rs: (Long, Double, String)*) =
    df(schema, rs.map { case (i, v, p) => Row(i, v, p) }: _*)

  private def freshTable() = tempDir("versioned").toString + "/t"

  private def d1 = rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"))

  test("versioned round-trip and sequential numbering") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    Versioned.currentVersion(spark, t) shouldBe 1
  }

  test("readVersion without a commit token or its data schema fails naming table and version") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    val manifest = java.nio.file.Paths.get(s"$t/_manifests/v1.json")
    val published = Versioned.parseManifest(
      new String(Files.readAllBytes(manifest), "UTF-8"))
    val dv = published(Versioned.CommitDvKey)
    // the token's schema file is gone
    Files.delete(java.nio.file.Paths.get(s"$t/_manifests/schema_dv$dv.json"))
    the[IllegalStateException] thrownBy Versioned.readVersion(spark, t, 1) should
      have message s"$t version 1 has no data schema: " +
        s"$t/_manifests/schema_dv$dv.json is missing"
    // the manifest carries no commit token at all
    Files.write(manifest, Versioned.renderManifest(published - Versioned.CommitDvKey)
      .getBytes("UTF-8"))
    the[IllegalStateException] thrownBy Versioned.readVersion(spark, t, 1) should
      have message s"$t version 1 has no data schema: its manifest lacks __commit_dv"
  }

  test("a MERGE commit rewrites only touched partitions; old versions stay intact") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil)
    val aFilesBefore = new java.io.File(s"$t/data/part=a/__dv=1").listFiles()
      .map(f => f.getName -> f.lastModified).toMap

    // touch only partition b: update id 3, insert id 4
    val staging = rows((3L, 30.0, "b"), (4L, 40.0, "b"))
    Versioned.commit(spark, t, staging, "part", keys = Seq("id")) shouldBe 2

    // v2 merged view
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "b")))
    // v1 is byte-for-byte the same files, untouched (snapshot isolation)
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    val aFilesAfter = new java.io.File(s"$t/data/part=a/__dv=1").listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    aFilesAfter shouldBe aFilesBefore
    // partition a was NOT rewritten for v2: no __dv=2 dir exists under it
    new java.io.File(s"$t/data/part=a/__dv=2").exists() shouldBe false
  }

  test("partition values needing Hive escaping commit, merge, and time-travel") {
    val t = freshTable()
    val d = rows((1L, 1.0, "a:b"), (2L, 2.0, "p%q"), (3L, 3.0, "with space"))
    Versioned.commit(spark, t, d, "part", Nil) shouldBe 1
    assertSameRows(Versioned.readVersion(spark, t, 1), d)
    // on-disk layout is the escaped dir name partitionBy produced, and
    // the manifest key matches it (the round-6 failure mode: raw key,
    // escaped dir -> path-not-found on read)
    new java.io.File(s"$t/data/part=a%3Ab/__dv=1").exists() shouldBe true
    new java.io.File(s"$t/data/part=p%25q/__dv=1").exists() shouldBe true
    // MERGE into one escaped partition only; the others stay at v1
    Versioned.commit(spark, t, rows((2L, 20.0, "p%q")), "part", Seq("id")) shouldBe 2
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((1L, 1.0, "a:b"), (2L, 20.0, "p%q"), (3L, 3.0, "with space")))
    assertSameRows(Versioned.readVersion(spark, t, 1), d)
    new java.io.File(s"$t/data/part=a%3Ab/__dv=2").exists() shouldBe false
  }

  test("numeric-looking string partition values MERGE instead of silently replacing") {
    val t = freshTable()
    // "0042" and "1e3" are the partition-inference trap: dir-name type
    // inference coerces them to int 42 / double 1000.0, whose string
    // forms no longer equal the logical value — the merge path's
    // touched filter then matches nothing and the commit silently
    // REPLACES the partition (id 1 would vanish).
    val d = rows((1L, 1.0, "0042"), (2L, 2.0, "0042"), (3L, 3.0, "1e3"))
    Versioned.commit(spark, t, d, "part", Nil) shouldBe 1
    val v1 = Versioned.readVersion(spark, t, 1)
    v1.schema("part").dataType shouldBe StringType
    v1.select("part").distinct().as[String].collect().toSet shouldBe
      Set("0042", "1e3")
    // MERGE into "0042": update id 2, insert id 4 — id 1 must survive
    Versioned.commit(spark, t, rows((2L, 20.0, "0042"), (4L, 4.0, "0042")),
      "part", Seq("id")) shouldBe 2
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((1L, 1.0, "0042"), (2L, 20.0, "0042"), (3L, 3.0, "1e3"),
        (4L, 4.0, "0042")))
    assertSameRows(Versioned.readVersion(spark, t, 1), d)
  }

  test("null/empty partition values abort the commit before any data is written") {
    val t = freshTable()
    an[IllegalArgumentException] should be thrownBy
      Versioned.commit(spark, t, rows((1L, 1.0, "")), "part", Nil)
    val nullPart = d1.withColumn("part",
      when(col("id") === 1L, lit(null: String)).otherwise(col("part")))
    an[IllegalArgumentException] should be thrownBy
      Versioned.commit(spark, t, nullPart, "part", Nil)
    new java.io.File(s"$t/data").exists() shouldBe false
    Versioned.currentVersion(spark, t) shouldBe 0
  }

  test("property: manifest render/parse is identity over escaped partition names") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // raw logical values: alphanumerics plus every charset the escaper
    // handles (separators, quotes, backslash, control chars, unicode)
    val rawValue = Gen.nonEmptyListOf(Gen.frequency(
      4 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('=', ':', '%', '/', '"', '\\', ' ', '#', '\n', '\t', '\u0001'),
      1 -> Gen.choose('\u00a0', '\ud7ff'))).map(_.mkString)
    val entries = Gen.listOf(Gen.zip(rawValue, Gen.choose(1, 999)))
    val prop = Prop.forAll(entries) { es =>
      val m = es.map { case (pv, v) =>
        Versioned.partitionDirName("part", pv) -> v }.toMap
      Versioned.parseManifest(Versioned.renderManifest(m)) == m
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"manifest round-trip: $res")
  }

  test("readVersion over 1000 logical partitions stays cheap and correct") {
    val t = freshTable()
    val wide = spark.range(0, 1000).selectExpr(
      "id", "CAST(id AS DOUBLE) AS v", "format_string('p%04d', id) AS part")
    Versioned.commit(spark, t, wide, "part", Nil) shouldBe 1
    // the manifest-fanout read path: one input dir per logical
    // partition. The property pinned is STRUCTURAL, not wall-clock
    // (this box shows 4-70 s of FS/GC noise for the identical listing
    // across runs): construction must be manifest + schema JSON + ONE
    // distributed listing job — zero parquet-footer reads (commit()
    // persists the data schema; the old inference path paid a second
    // footer-merge job here) and zero per-partition driver jobs. A
    // loose wall bound backstops against O(partitions²) regressions.
    val dfv = Versioned.readVersion(spark, t, 1) // warm the FS cache
    dfv.count() shouldBe 1000
    val t0 = System.nanoTime()
    val (again, jobs) = countJobs(Versioned.readVersion(spark, t, 1))
    val constructSec = (System.nanoTime() - t0) / 1e9
    assert(jobs <= 1,
      s"readVersion construction ran $jobs Spark jobs for 1000 " +
        "partitions; expected at most the one parallel-listing job")
    assert(constructSec < 30.0,
      f"readVersion construction took $constructSec%.1f s for 1000 partitions")
    again.schema("part").dataType shouldBe StringType
    dfv.select("part").distinct().count() shouldBe 1000
    dfv.filter(col("part") === "p0042").select("v")
      .collect().map(_.getDouble(0)).toSeq shouldBe Seq(42.0)
  }

  test("data without a manifest pointer is invisible (crash = garbage, not corruption)") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil)
    // simulate a crashed v2: data written, manifest never published
    rows((9L, 9.0, "a")).drop("part")
      .write.parquet(s"$t/data/part=a/__dv=2")
    Versioned.currentVersion(spark, t) shouldBe 1
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    // the next successful commit supersedes the orphan dir
    Versioned.commit(spark, t, rows((9L, 9.0, "b")), "part", Seq("id")) shouldBe 2
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (9L, 9.0, "b")))
  }

  test("vacuum reclaims only leaves no retained manifest references") {
    val t = freshTable()
    // v1: partitions a+b. v2: MERGE touching only b. v3: touching only a.
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    Versioned.commit(spark, t, rows((4L, 40.0, "b")), "part", Seq("id")) shouldBe 2
    Versioned.commit(spark, t, rows((1L, 10.0, "a")), "part", Seq("id")) shouldBe 3
    val v2Expected = rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 40.0, "b"))
    val v3Expected = rows((1L, 10.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 40.0, "b"))

    val stats = Versioned.vacuum(spark, t, keepVersions = 2)
    stats.retained shouldBe Seq(2, 3)
    stats.expired shouldBe Seq(1)
    // Referenced by v2/v3: (a,1) — v2 never rewrote a — (b,2), (a,3).
    // Reclaimable is exactly (b,1).
    stats.deletedLeafDirs shouldBe 1
    new java.io.File(s"$t/data/part=b/__dv=1").exists() shouldBe false
    new java.io.File(s"$t/data/part=a/__dv=1").exists() shouldBe true

    // Retained versions are untouched; the expired one is gone.
    assertSameRows(Versioned.readVersion(spark, t, 3), v3Expected)
    assertSameRows(Versioned.readVersion(spark, t, 2), v2Expected)
    Versioned.currentVersion(spark, t) shouldBe 3
    an[IllegalArgumentException] should be thrownBy
      Versioned.readVersion(spark, t, 1)
    new java.io.File(s"$t/_manifests/v1.json").exists() shouldBe false
    new java.io.File(s"$t/_manifests/schema_v1.json").exists() shouldBe false
    // commits keep working after a vacuum (numbering continues)
    Versioned.commit(spark, t, rows((5L, 5.0, "b")), "part", Seq("id")) shouldBe 4
  }

  test("vacuum keeping every version deletes nothing but crashed-commit orphans") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil)
    Versioned.commit(spark, t, rows((4L, 40.0, "b")), "part", Seq("id"))
    // orphan: data written by a crashed commit, manifest never published
    rows((9L, 9.0, "a")).drop("part").write.parquet(s"$t/data/part=a/__dv=9")
    // a partition dir that ONLY ever held orphan data
    rows((8L, 8.0, "c")).drop("part").write.parquet(s"$t/data/part=c/__dv=9")

    val stats = Versioned.vacuum(spark, t, keepVersions = 10)
    stats.retained shouldBe Seq(1, 2)
    stats.expired shouldBe empty
    stats.deletedLeafDirs shouldBe 2
    new java.io.File(s"$t/data/part=a/__dv=9").exists() shouldBe false
    new java.io.File(s"$t/data/part=c").exists() shouldBe false // empty husk removed
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 40.0, "b")))
  }

  test("vacuum invariance over a seeded random commit history") {
    // 6 commits over 4 partitions, seeded-random mix of whole-partition
    // replacements and MERGEs; capture every version's contents, then
    // vacuum progressively tighter and assert retained versions are
    // bit-for-bit what they were pre-vacuum — the retention contract on
    // an arbitrary history, not a hand-picked one.
    val rnd = new scala.util.Random(8)
    val parts = Vector("a", "b", "c", "d")
    val t = freshTable()
    var nextId = 100L
    for (_ <- 1 to 6) {
      val touched = rnd.shuffle(parts).take(1 + rnd.nextInt(3))
      val batch = rows(touched.flatMap { p =>
        (1 to (1 + rnd.nextInt(2))).map { _ =>
          nextId += 1
          // ids collide across commits within a partition often enough
          // to exercise the MERGE update path (reuse a low id half the time)
          val id = if (rnd.nextBoolean()) nextId else 1L + rnd.nextInt(4)
          (id, id * 1.0 + rnd.nextInt(10), p)
        }
      }.distinctBy(_._1): _*) // upsert keys must be unique within a batch
      val keys = if (rnd.nextBoolean()) Seq("id") else Nil
      Versioned.commit(spark, t, batch, "part", keys)
    }
    val current = Versioned.currentVersion(spark, t)
    current shouldBe 6
    val snapshots = (1 to current).map(v =>
      v -> Versioned.readVersion(spark, t, v).orderBy("part", "id", "v")
        .collect().toSeq).toMap

    for (keep <- Seq(4, 2, 1)) {
      val stats = Versioned.vacuum(spark, t, keep)
      val retained = (current - keep + 1) to current
      stats.retained shouldBe retained
      for (v <- retained)
        Versioned.readVersion(spark, t, v).orderBy("part", "id", "v")
          .collect().toSeq shouldBe snapshots(v)
      for (v <- 1 until retained.head)
        new java.io.File(s"$t/_manifests/v$v.json").exists() shouldBe false
    }
  }

  test("additive schema evolution: new column via whole-partition commit; old files read NULL") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    // v2 rewrites only partition b, carrying a NEW nullable column w.
    // The per-version persisted schema makes this work: v2's schema
    // has w, so partition a's v1 files (no w in the footer) come back
    // with w = NULL; v1 read with v1's schema never sees w at all.
    val evolved = df(schema.add(StructField("w", StringType, nullable = true)),
      Row(3L, 33.0, "b", "tag3"), Row(5L, 55.0, "b", "tag5"))
      .select("id", "v", "w", "part") // schema cols need not trail the partition col
    Versioned.commit(spark, t, evolved, "part", Nil) shouldBe 2

    val v2 = Versioned.readVersion(spark, t, 2)
    v2.schema.fieldNames should contain("w")
    v2.filter(col("part") === "a").select("w")
      .collect().map(_.isNullAt(0)) shouldBe Array(true, true)
    v2.filter(col("part") === "b").orderBy("id").select("id", "w")
      .collect().map(r => (r.getLong(0), r.getString(1))) shouldBe
      Array((3L, "tag3"), (5L, "tag5"))
    // time travel: v1 keeps its own (pre-evolution) schema
    Versioned.readVersion(spark, t, 1).schema.fieldNames should not contain "w"
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
  }

  test("a MERGE commit with a column the target lacks aborts instead of dropping it") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil)
    val staging = df(schema.add(StructField("w", StringType, nullable = true)),
      Row(3L, 30.0, "b", "tag"))
    val e = the[IllegalArgumentException] thrownBy
      Versioned.commit(spark, t, staging, "part", keys = Seq("id"))
    e.getMessage should include("w")
    // the failed commit published nothing
    Versioned.currentVersion(spark, t) shouldBe 1
  }

  test("deleteCommit removes tombstoned keys in their partition only; time travel intact") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    // tombstone id 1 in partition a AND id 1 in partition b — but the
    // table has id 1 only in a; id 3 (in b) is NOT tombstoned, and a
    // same-key row in an untouched partition must survive untouched
    val tomb = rows((1L, 0.0, "a")).select("id", "part")
    Versioned.deleteCommit(spark, t, tomb, "part", Seq("id")) shouldBe 2
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((2L, 2.0, "a"), (3L, 3.0, "b")))
    // pre-delete version reads the deleted row (the point of snapshots)
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    // partition b was never rewritten: v2's manifest still points at dv1
    (Versioned.readManifest(spark, t, 2) - Versioned.CommitDvKey) shouldBe
      Map("part=a" -> 2, "part=b" -> 1)
  }

  test("a delete that empties a partition drops it from the manifest") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    // partition b holds only id 3 — tombstoning it empties b entirely
    val tomb = rows((3L, 0.0, "b"), (1L, 0.0, "a")).select("id", "part")
    Versioned.deleteCommit(spark, t, tomb, "part", Seq("id")) shouldBe 2
    val v2 = Versioned.readVersion(spark, t, 2)
    assertSameRows(v2, rows((2L, 2.0, "a")))
    (Versioned.readManifest(spark, t, 2) - Versioned.CommitDvKey) shouldBe
      Map("part=a" -> 2) // no dangling pointer to an empty b dir
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
  }

  test("deleteCommit with keys = Nil drops touched partitions whole") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    val tomb = rows((0L, 0.0, "a")).select("part")
    Versioned.deleteCommit(spark, t, tomb, "part", keys = Nil) shouldBe 2
    assertSameRows(Versioned.readVersion(spark, t, 2), rows((3L, 3.0, "b")))
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    // vacuum to v2 only: partition a's data version 1 is unreferenced
    val stats = Versioned.vacuum(spark, t, keepVersions = 1)
    stats.deletedLeafDirs shouldBe 1
    new java.io.File(s"$t/data/part=a").exists() shouldBe false
    assertSameRows(Versioned.readVersion(spark, t, 2), rows((3L, 3.0, "b")))
  }

  test("deleteCommit validates tombstones and empty-table targets") {
    val t = freshTable()
    an[IllegalArgumentException] should be thrownBy
      Versioned.deleteCommit(spark, t, d1.select("id", "part"), "part", Seq("id"))
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    an[IllegalArgumentException] should be thrownBy
      Versioned.deleteCommit(spark, t, d1.select("id", "part"), "part",
        Seq("id", "v")) // tombstones lack column v
    Versioned.currentVersion(spark, t) shouldBe 1
  }

  test("tryCreateExclusive is a CAS: exactly one of two racing writers wins") {
    val t = freshTable()
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$t/_manifests/v1.json")
    // serial: first create wins, second loses, content is the winner's
    Versioned.tryCreateExclusive(f, p, "AA".getBytes) shouldBe true
    Versioned.tryCreateExclusive(f, p, "BB".getBytes) shouldBe false
    scala.io.Source.fromFile(s"$t/_manifests/v1.json").mkString shouldBe "AA"
    // concurrent: 8 threads on one fresh path — exactly one winner
    val p2 = new org.apache.hadoop.fs.Path(s"$t/_manifests/v2.json")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wins = Await.result(Future.sequence((1 to 8).map(i => Future {
      Versioned.tryCreateExclusive(f, p2, s"W$i".getBytes)
    })), 30.seconds)
    wins.count(identity) shouldBe 1
  }

  test("a commit that lost the publish race rebases on the winner and retries") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    // Simulate a concurrent winner publishing v2 between this writer's
    // base read and its publish: hand-publish a v2 manifest that
    // re-points partition a at a new data version 7, with the data
    // staged the way a real MERGE commit stages it — the WHOLE merged
    // partition (id 1 updated, id 2 carried over), not a fragment.
    rows((1L, 100.0, "a"), (2L, 2.0, "a")).drop("part").write
      .parquet(s"$t/data/part=a/__dv=7")
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Versioned.tryCreateExclusive(f, Versioned.claimPath(t,7),
      Array.emptyByteArray) shouldBe true
    val winner = Map("part=a" -> 7, "part=b" -> 1, Versioned.CommitDvKey -> 7)
    // schema for dv 7 = v1's data schema (copy dv1's schema file)
    val v1Schema = scala.io.Source.fromFile(s"$t/_manifests/schema_dv1.json").mkString
    Versioned.tryCreateExclusive(f,
      new org.apache.hadoop.fs.Path(s"$t/_manifests/schema_dv7.json"),
      v1Schema.getBytes) shouldBe true
    Versioned.tryCreateExclusive(f,
      new org.apache.hadoop.fs.Path(s"$t/_manifests/v2.json"),
      Versioned.renderManifest(winner).getBytes) shouldBe true
    // This writer MERGEs partition b from what it thinks is the top.
    // commit() must see v2 as current and publish v3 ON TOP of the
    // winner's state — the winner's a=100 update must survive.
    Versioned.commit(spark, t, rows((3L, 30.0, "b")), "part", Seq("id")) shouldBe 3
    assertSameRows(Versioned.readVersion(spark, t, 3),
      rows((1L, 100.0, "a"), (2L, 2.0, "a"), (3L, 30.0, "b")))
    // and its data landed under a token above the winner's (8, not 2)
    new java.io.File(s"$t/data/part=b/__dv=8").exists() shouldBe true
  }

  test("two concurrent committers: both survive, serialized — never a lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    for (round <- 1 to 3) {
      val t = freshTable()
      Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
      // two writers MERGE disjoint keys into DIFFERENT partitions from
      // the same base, concurrently; whatever the interleaving, the
      // final version must contain both updates
      val fa = Future {
        Versioned.commit(spark, t, rows((1L, 111.0, "a")), "part", Seq("id"))
      }
      val fb = Future {
        Versioned.commit(spark, t, rows((3L, 333.0, "b")), "part", Seq("id"))
      }
      val versions = Await.result(Future.sequence(Seq(fa, fb)), 5.minutes)
      withClue(s"round $round versions=$versions: ") {
        versions.toSet shouldBe Set(2, 3)
        Versioned.currentVersion(spark, t) shouldBe 3
        assertSameRows(Versioned.readVersion(spark, t, 3),
          rows((1L, 111.0, "a"), (2L, 2.0, "a"), (3L, 333.0, "b")))
      }
    }
  }

  test("a commit that keeps losing the race aborts cleanly with the chain untouched") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    // Exhaustion needs a winner that keeps publishing BETWEEN this
    // writer's base read and its CAS — only a real racing publisher
    // does that (a pre-built wall of versions doesn't: commit() reads
    // currentVersion fresh each attempt and would just top it). So:
    // a thread publishes copies of v1 in a tight loop while the
    // commit runs with maxRetries = 1. The interleaving decides the
    // outcome, and BOTH legal outcomes are asserted exactly: the
    // commit either wins some version (its merge visible there) or
    // aborts with ConcurrentCommitException leaving every published
    // version untouched. No third outcome, no lost update.
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = Versioned.readManifest(spark, t, 1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wall = Future {
      var v = 1
      while (!stop.get && v < 300) {
        val cur = Versioned.currentVersion(spark, t)
        Versioned.tryCreateExclusive(f,
          new org.apache.hadoop.fs.Path(s"$t/_manifests/v${cur + 1}.json"),
          Versioned.renderManifest(v1).getBytes)
        v = cur
        Thread.sleep(1)
      }
    }
    val outcome = try {
      Right(Versioned.commit(spark, t, rows((3L, 30.0, "b")), "part",
        Seq("id"), maxRetries = 1))
    } catch {
      case e: ConcurrentCommitException => Left(e)
    } finally {
      stop.set(true)
      Await.result(wall, 1.minute)
    }
    outcome match {
      case Right(v) =>
        // the commit won some version; its merge must be intact there
        val got = Versioned.readVersion(spark, t, v)
          .filter(col("id") === 3L).select("v").as[Double].collect()
        got shouldBe Array(30.0)
      case Left(e) =>
        e.getMessage should include("vacuum")
        // aborted: every published version is a copy of v1's content —
        // the aborted writer changed nothing visible
        val cur = Versioned.currentVersion(spark, t)
        Versioned.readVersion(spark, t, cur)
          .filter(col("id") === 3L).select("v").as[Double].collect()
          .toSeq shouldBe Seq(3.0)
    }
  }

  test("vacuum collects aborted-commit claims and schemas; commits continue after") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    Versioned.commit(spark, t, rows((4L, 40.0, "b")), "part", Seq("id")) shouldBe 2
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed/aborted commit left a claim + schema + data, no manifest
    Versioned.tryCreateExclusive(f, Versioned.claimPath(t,9),
      Array.emptyByteArray) shouldBe true
    val v1Schema = scala.io.Source.fromFile(s"$t/_manifests/schema_dv1.json").mkString
    Versioned.tryCreateExclusive(f,
      new org.apache.hadoop.fs.Path(s"$t/_manifests/schema_dv9.json"),
      v1Schema.getBytes) shouldBe true
    rows((9L, 9.0, "a")).drop("part").write.parquet(s"$t/data/part=a/__dv=9")

    val stats = Versioned.vacuum(spark, t, keepVersions = 10)
    stats.deletedLeafDirs shouldBe 1
    new java.io.File(s"$t/_manifests/dv9.claim").exists() shouldBe false
    new java.io.File(s"$t/_manifests/schema_dv9.json").exists() shouldBe false
    // live commits' bookkeeping survives
    new java.io.File(s"$t/_manifests/dv1.claim").exists() shouldBe true
    new java.io.File(s"$t/_manifests/schema_dv2.json").exists() shouldBe true
    assertSameRows(Versioned.readVersion(spark, t, 2),
      rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 40.0, "b")))
    // the reclaimed token is reusable: next commit claims above current
    Versioned.commit(spark, t, rows((5L, 5.0, "b")), "part", Seq("id")) shouldBe 3
    assertSameRows(Versioned.readVersion(spark, t, 3),
      rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 40.0, "b"),
        (5L, 5.0, "b")))
  }

  test("history lists published versions; readAsOf time-travels by publish instant") {
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil) shouldBe 1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(150) // distinct manifest mtimes (local fs is ms-precise)
    Versioned.commit(spark, t, rows((3L, 30.0, "b")), "part", Seq("id")) shouldBe 2
    val h = Versioned.history(spark, t)
    h.map(_.version) shouldBe Seq(2, 1) // newest first
    // v1 and v2 both reference partitions a and b (v2's manifest
    // carries pointers for untouched partitions too — that's the
    // design: a version is a complete view)
    h.foreach(_.partitions shouldBe Seq("part=a", "part=b"))
    h.head.committedAtMs should be > h.last.committedAtMs
    // between the publishes: v1's world
    assertSameRows(Versioned.readAsOf(spark, t, afterV1), d1)
    // now: v2's world (id 3 updated)
    assertSameRows(Versioned.readAsOf(spark, t, System.currentTimeMillis()),
      rows((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 30.0, "b")))
    // before the first commit: no meaningful answer
    an[IllegalArgumentException] should be thrownBy
      Versioned.readAsOf(spark, t, 1000L)
  }

  test("commit writeOptions reach the data files: bloom filters in the footer") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    Versioned.commit(spark, t, d1, "part", Nil,
      writeOptions = Store.bloomFilterOptions(Seq("id"), ndv = 100)) shouldBe 1
    assertSameRows(Versioned.readVersion(spark, t, 1), d1)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new HPath(s"$t/data/part=a/__dv=1")
    val file = dir.getFileSystem(conf).listStatus(dir)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val rg = reader.getRowGroups.asScala.head
      val cd = rg.getColumns.asScala.find(_.getPath.toDotString == "id").get
      reader.getBloomFilterDataReader(rg).readBloomFilter(cd) should not be null
    } finally reader.close()
  }
}
