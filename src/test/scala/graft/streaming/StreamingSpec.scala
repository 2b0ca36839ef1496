package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.events.EventAnalytics

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

case class CdcRow(id: Long, version: Long, op: String, v: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Base well above the epoch: a watermark starts at 1970-01-01, and
  // rows at-or-below the watermark are dropped as late — an event at
  // minute 0 would silently vanish from the first micro-batch.
  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def ev(id: Long, minute: Long, typ: String = "click",
                 value: Double = 1.0): Ev =
    Ev(id, new Timestamp(base + minute * 60000L), 1L, typ, value, """{"k": 1}""")

  private def tmp(name: String): String =
    tempDir(s"graft-stream-$name").toString

  test("applyCdcBatch: sequential batches equal one batch apply; replay is a no-op") {
    val path = tmp("cdc") + "/t"
    val b1 = Seq(CdcRow(1, 1, "U", "a"), CdcRow(2, 1, "U", "b")).toDF
    val b2 = Seq(CdcRow(1, 2, "U", "a2"), CdcRow(2, 2, "D", "x"),
      CdcRow(3, 1, "U", "c")).toDF
    Streaming.applyCdcBatch(b1, path, Seq("id"), "version", "op")
    Streaming.applyCdcBatch(b2, path, Seq("id"), "version", "op")
    // the applied TABLE carries state, not log metadata (the applyCdc
    // contract: target = keys + payload; version/op live in the log)
    def read() = spark.read.parquet(path).select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq
    val after = read()
    after shouldBe Seq((1L, "a2"), (3L, "c")) // 2 tombstoned
    // post-crash replay of the LAST batch: idempotent by struct-max
    Streaming.applyCdcBatch(b2, path, Seq("id"), "version", "op")
    read() shouldBe after
  }

  test("cdcSink end-to-end: change log stream materializes the latest state") {
    val path = tmp("cdc2") + "/t"
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[CdcRow]
    in.addData(CdcRow(10, 1, "U", "x"), CdcRow(11, 1, "U", "y"))
    val q = Streaming.cdcSink(in.toDF(), path, Seq("id"), "version",
      tmp("cdc2-ck")).start()
    try {
      q.processAllAvailable()
      in.addData(CdcRow(10, 2, "D", "x"), CdcRow(11, 2, "U", "y2"))
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(path).select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq shouldBe Seq((11L, "y2"))
  }

  test("appendBatch: a re-delivered batchId is a no-op, even with different data") {
    val path = tmp("idem") + "/t"
    Streaming.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, path) shouldBe true
    Streaming.appendBatch(Seq((3L, "c")).toDF("id", "v"), 1L, path) shouldBe true
    // crash-replay of epoch 1 re-delivers (possibly differing) rows:
    // the ledger marker makes it a no-op — exactly-once, not at-least-once
    Streaming.appendBatch(Seq((99L, "X"), (98L, "Y")).toDF("id", "v"),
      1L, path) shouldBe false
    val rows = Streaming.readCommitted(spark, path)
      .as[(Long, String)].collect().sorted
    rows.toSeq shouldBe Seq((1L, "a"), (2L, "b"), (3L, "c"))
  }

  test("readCommitted: an uncommitted half-written batch dir is invisible") {
    val path = tmp("idem2") + "/t"
    Streaming.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0L, path) shouldBe true
    // simulate a crash AFTER the data write, BEFORE the marker commit
    Seq((666L, "torn")).toDF("id", "v")
      .write.parquet(s"$path/batch=7")
    Streaming.readCommitted(spark, path)
      .as[(Long, String)].collect().toSeq shouldBe Seq((1L, "a"))
    // the engine replays epoch 7: the overwrite clobbers the torn dir
    // whole and THEN commits — the replacement, not a double, surfaces
    Streaming.appendBatch(Seq((7L, "g")).toDF("id", "v"), 7L, path) shouldBe true
    Streaming.readCommitted(spark, path)
      .as[(Long, String)].collect().sorted.toSeq shouldBe
        Seq((1L, "a"), (7L, "g"))
  }

  test("idempotentAppendSink end-to-end: stream rows land exactly once") {
    val path = tmp("idem3") + "/t"
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(ev(1, 10), ev(2, 20))
    val q = Streaming.idempotentAppendSink(in.toDF(), path, tmp("idem3-ck")).start()
    try {
      q.processAllAvailable()
      in.addData(ev(3, 30))
      q.processAllAvailable()
    } finally q.stop()
    Streaming.readCommitted(spark, path)
      .select("event_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("dropDuplicatesWithinWatermark drops re-delivered event_ids") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermark(ms.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tmp("dedup-ckpt")).outputMode("append")
      .start()
    try {
      ms.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      ms.addData(ev(2, 2), ev(3, 3)) // id 2 re-delivered within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted
      ids.toSeq shouldBe Seq(1L, 2L, 3L)
    } finally q.stop()
  }

  test("streaming windowed aggregation matches the batch twin (complete mode)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val events = Seq(
      ev(1, 10, "view", 1.5), ev(2, 50, "view", 2.5),
      ev(3, 70, "view", 4.0), ev(4, 75, "click", 8.0))
    val q = Streaming.windowedStats(ms.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .option("checkpointLocation", tmp("win-ckpt")).outputMode("complete")
      .start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("win_out")
      val batch = EventAnalytics.windowedStats(events.toDF(), "1 hour")
        .select("window_start", "event_type", "n_events", "total_value")
      assertSameRows(streamed, batch)
    } finally q.stop()
  }

  test("streaming HLL register frame matches the batch sketch across micro-batches") {
    // the sketch IS a streaming aggregation: groupBy(register).max(rho)
    // runs in complete mode with state bounded by m = 1024 rows no
    // matter how many values stream past — distinct-cardinality over
    // an unbounded stream at fixed memory, equal to the batch sketch
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val b1 = (1 to 150).map(i => ev(i, (i % 60).toLong, s"u${i % 40}"))
    val b2 = (151 to 300).map(i => ev(i.toLong, (i % 60).toLong, s"u${i % 70}"))
    val q = graft.analytics.Sketches.hllSketch(ms.toDF(), "event_type")
      .writeStream.format("memory").queryName("hll_out")
      .option("checkpointLocation", tmp("hll-ckpt")).outputMode("complete")
      .start()
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_out")
      streamed.count() should be <= 1024L // state bound, the claim
      val batch = graft.analytics.Sketches.hllSketch(
        (b1 ++ b2).toDF(), "event_type")
      assertSameRows(streamed, batch)
      val estStream = graft.analytics.Sketches.hllEstimate(streamed)
        .select("est_milli").as[Long].head()
      val estBatch = graft.analytics.Sketches.hllEstimate(batch)
        .select("est_milli").as[Long].head()
      estStream shouldBe estBatch
    } finally q.stop()
  }

  test("streaming HDR bucket frame matches the batch sketch across micro-batches") {
    // the quantile histogram IS a streaming aggregation:
    // groupBy(exp, man).count in complete mode, state bounded by the
    // ~1.9k-bucket int64 ceiling however many values stream past —
    // p50/p99 over an unbounded stream at fixed memory, equal to the
    // batch sketch (the hllSketch pin's quantile sibling)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val b1 = (1 to 150).map(i =>
      ev(i, (i % 60).toLong, "view", value = (i.toLong * i * 997 % 100000).toDouble))
    val b2 = (151 to 300).map(i =>
      ev(i, (i % 60).toLong, "view", value = (i.toLong * 31 % 5000).toDouble))
    val q = graft.analytics.Sketches.hdrSketch(ms.toDF(), "value")
      .writeStream.format("memory").queryName("hdr_out")
      .option("checkpointLocation", tmp("hdr-ckpt")).outputMode("complete")
      .start()
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hdr_out")
      streamed.count() should be <= 2048L // the bucket-ceiling state bound
      val batch = graft.analytics.Sketches.hdrSketch((b1 ++ b2).toDF(), "value")
      assertSameRows(streamed, batch)
      // the quantile read off the streamed frame equals the batch read
      assertSameRows(
        graft.analytics.Sketches.hdrQuantiles(streamed, Seq(500, 990)),
        graft.analytics.Sketches.hdrQuantiles(batch, Seq(500, 990)))
    } finally q.stop()
  }

  test("file-source stream: parquet drops process via AvailableNow and match batch") {
    import org.apache.spark.sql.streaming.Trigger
    val landing = tmp("landing")
    val events = Seq(ev(1, 10, "view", 1.5), ev(2, 50, "view", 2.5),
      ev(3, 70, "click", 4.0))
    // two separate file drops in the landing dir
    events.take(2).toDF().write.mode("append").parquet(landing)
    events.drop(2).toDF().write.mode("append").parquet(landing)
    val q = Streaming.windowedStats(
        Streaming.readEventsStream(spark, landing), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("file_win_out")
      .option("checkpointLocation", tmp("file-ckpt"))
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) shouldBe true
    finally q.stop()
    assertSameRows(
      spark.table("file_win_out"),
      EventAnalytics.windowedStats(events.toDF(), "1 hour")
        .select("window_start", "event_type", "n_events", "total_value"))
  }

  test("stateful sessions: gap closes in-batch, watermark timeout closes the tail") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StatefulSessions.sessionize(ms.toDF(), gapMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", tmp("sess-ckpt")).outputMode("append")
      .start()
    try {
      // user 1: events at 10,20 then 100 -> first session closes on gap
      ms.addData(ev(1, 10), ev(2, 20, value = 2.0))
      q.processAllAvailable()
      ms.addData(ev(3, 100))
      q.processAllAvailable()
      val afterGap = spark.table("sess_out")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect()
      afterGap.toSeq shouldBe Seq((1L, 2L, 3.0))
      // watermark past 100+30+10 -> the open session times out and emits
      ms.addData(Ev(99, new Timestamp(base + 200 * 60000L), 2L, "click", 1.0, "{}"))
      q.processAllAvailable()
      ms.addData(Ev(100, new Timestamp(base + 201 * 60000L), 2L, "click", 1.0, "{}"))
      q.processAllAvailable()
      val users = spark.table("sess_out").select("user_id")
        .as[Long].collect().sorted
      users should contain(1L)
      users.count(_ == 1L) shouldBe 2 // both user-1 sessions emitted
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch twin across batches") {
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val joined = Streaming.attributionJoin(
      views.toDF(), buys.toDF(), withinMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .option("checkpointLocation", tmp("attr-ckpt")).outputMode("append")
      .start()
    val vRows = Seq(ev(1, 10, "view"), ev(2, 100, "view"))
    val bRows = Seq(ev(10, 20, "purchase", 5.0),   // within 30m of view 1
      ev(11, 90, "purchase", 7.0),                 // before view 2: no match
      ev(12, 120, "purchase", 9.0))                // within 30m of view 2
    try {
      views.addData(vRows.head); buys.addData(bRows.head)
      q.processAllAvailable()
      views.addData(vRows(1)); buys.addData(bRows(1), bRows(2))
      q.processAllAvailable()
      // advance both watermarks so every in-bound match is emitted
      views.addData(ev(98, 1000, "view")); buys.addData(ev(99, 1000, "purchase"))
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      streamed shouldBe Set((1L, 10L), (2L, 12L), (98L, 99L))
      // batch twin over the same (non-sentinel) events
      val batch = Streaming.attributionJoin(
        vRows.toDF(), bRows.toDF(), withinMinutes = 30)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      batch shouldBe Set((1L, 10L), (2L, 12L))
    } finally q.stop()
  }

  test("enrichJoin with signed bounds matches the batch twin (lookback interval)") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val imps = MemoryStream[Ev]
    // impressions within [-30, 0] minutes of a click: lookback
    // enrichment, the bound shape attributionJoin cannot express
    val joined = Streaming.enrichJoin(
      clicks.toDF(), imps.toDF(), "user_id",
      lowerMinutes = -30, upperMinutes = 0)
    val q = joined.writeStream.format("memory").queryName("enrich_out")
      .option("checkpointLocation", tmp("enrich-ckpt")).outputMode("append")
      .start()
    val cRows = Seq(ev(1, 50, "click"), ev(2, 200, "click"))
    val iRows = Seq(ev(10, 25, "imp", 5.0),  // 25m before click 1: match
      ev(11, 55, "imp", 7.0),                // after click 1: no match
      ev(12, 175, "imp", 9.0))               // 25m before click 2: match
    try {
      imps.addData(iRows.head); clicks.addData(cRows.head)
      q.processAllAvailable()
      imps.addData(iRows(1), iRows(2)); clicks.addData(cRows(1))
      q.processAllAvailable()
      // advance both watermarks so every in-bound match is emitted
      clicks.addData(ev(98, 1000, "click")); imps.addData(ev(99, 1000, "imp"))
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      streamed shouldBe Set((1L, 10L), (2L, 12L), (98L, 99L))
      // batch twin: the same code path on static frames
      val batch = Streaming.enrichJoin(cRows.toDF(), iRows.toDF(), "user_id",
        lowerMinutes = -30, upperMinutes = 0)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      batch shouldBe Set((1L, 10L), (2L, 12L))
    } finally q.stop()
  }

  test("enrichJoinLeftOuter emits unmatched lefts null-padded after the watermark passes") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val imps = MemoryStream[Ev]
    val q = Streaming.enrichJoinLeftOuter(
        clicks.toDF(), imps.toDF(), "user_id",
        lowerMinutes = 0, upperMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("louter_out")
      .option("checkpointLocation", tmp("louter-ckpt")).outputMode("append")
      .start()
    // click 2 is a DIFFERENT user with no impressions: never matched
    val click2 = Ev(2, new Timestamp(base + 12 * 60000L), 2L, "click", 1.0, "{}")
    try {
      // click 1 gets a match; click 2 never will
      clicks.addData(ev(1, 10, "click"), click2)
      imps.addData(ev(10, 20, "imp", 5.0))
      q.processAllAvailable()
      // matched row emits promptly, unmatched is still HELD: a match
      // could arrive until the right watermark passes 12m + 30m bound
      spark.table("louter_out").select("l_id").as[Long].collect()
        .toSet shouldBe Set(1L)
      // push both watermarks far past every open interval; the
      // watermark computed at one batch's end acts in the next
      clicks.addData(ev(98, 1000, "click")); imps.addData(ev(99, 1000, "imp"))
      q.processAllAvailable()
      clicks.addData(ev(96, 1001, "click")); imps.addData(ev(97, 1001, "imp"))
      q.processAllAvailable()
      val rows = spark.table("louter_out")
        .select("l_id", "r_id").as[(Long, Option[Long])].collect().toSet
      rows should contain ((1L, Some(10L)))  // matched, r columns real
      rows should contain ((2L, None))       // unmatched, null-padded
      // batch twin: the same code path on static frames agrees
      val batch = Streaming.enrichJoinLeftOuter(
        Seq(ev(1, 10, "click"), click2).toDF(),
        Seq(ev(10, 20, "imp", 5.0)).toDF(),
        "user_id", 0, 30)
        .select("l_id", "r_id").as[(Long, Option[Long])].collect().toSet
      batch shouldBe Set((1L, Some(10L)), (2L, None))
    } finally q.stop()
  }

  test("enrichJoinFullOuter keeps unmatched rows of BOTH sides with their keys") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val imps = MemoryStream[Ev]
    val q = Streaming.enrichJoinFullOuter(
        clicks.toDF(), imps.toDF(), "user_id",
        lowerMinutes = 0, upperMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("fouter_out")
      .option("checkpointLocation", tmp("fouter-ckpt")).outputMode("append")
      .start()
    // user 1: matched pair; user 2: click only; user 3: imp only
    val click2 = Ev(2, new Timestamp(base + 12 * 60000L), 2L, "click", 1.0, "{}")
    val imp3 = Ev(11, new Timestamp(base + 15 * 60000L), 3L, "imp", 7.0, "{}")
    try {
      clicks.addData(ev(1, 10, "click"), click2)
      imps.addData(ev(10, 20, "imp", 5.0), imp3)
      q.processAllAvailable()
      clicks.addData(ev(98, 1000, "click")); imps.addData(ev(99, 1000, "imp"))
      q.processAllAvailable()
      clicks.addData(ev(96, 1001, "click")); imps.addData(ev(97, 1001, "imp"))
      q.processAllAvailable()
      val rows = spark.table("fouter_out")
        .select("user_id", "l_id", "r_id")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      rows should contain ((1L, Some(1L), Some(10L))) // matched
      rows should contain ((2L, Some(2L), None))      // left-only, key kept
      rows should contain ((3L, None, Some(11L)))     // right-only, key kept
      // batch twin agrees on the same static frames
      val batch = Streaming.enrichJoinFullOuter(
        Seq(ev(1, 10, "click"), click2).toDF(),
        Seq(ev(10, 20, "imp", 5.0), imp3).toDF(), "user_id", 0, 30)
        .select("user_id", "l_id", "r_id")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      batch shouldBe Set(
        (1L, Some(1L), Some(10L)), (2L, Some(2L), None), (3L, None, Some(11L)))
    } finally q.stop()
  }

  test("property: enrichJoin matches a naive interval filter-join on random events") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEvents = for {
      n <- Gen.choose(0, 12)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 120L)))
    } yield rows.zipWithIndex.map { case ((u, m), i) =>
      Ev(i.toLong, new Timestamp(base + m * 60000L), u, "e", 1.0, "{}") }
    val cases = for {
      l <- genEvents; r <- genEvents
      lo <- Gen.choose(-30, 10); width <- Gen.choose(0, 40)
    } yield (l, r.map(e => e.copy(event_id = e.event_id + 100)), lo, lo + width)
    val prop = Prop.forAll(cases) { case (ls, rs, lo, hi) =>
      val naive = (for {
        l <- ls; r <- rs
        if l.user_id == r.user_id
        if r.ts.getTime >= l.ts.getTime + lo * 60000L
        if r.ts.getTime <= l.ts.getTime + hi * 60000L
      } yield (l.event_id, r.event_id)).toSet
      val got = Streaming.enrichJoin(ls.toDF(), rs.toDF(), "user_id", lo, hi)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      got == naive
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"enrichJoin vs naive: $res")
  }

  test("enrichJoin state is watermark-bounded: join state rows are evicted") {
    implicit val ctx = spark.sqlContext
    val lhs = MemoryStream[Ev]
    val rhs = MemoryStream[Ev]
    val q = Streaming.enrichJoin(lhs.toDF(), rhs.toDF(), "user_id",
        lowerMinutes = 0, upperMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("evict_out")
      .option("checkpointLocation", tmp("evict-ckpt")).outputMode("append")
      .start()
    def stateRows: Long =
      q.recentProgress.reverseIterator
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    def removedRows: Long =
      q.recentProgress.iterator
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    try {
      // 6 rows per side land in join state (watermark still behind them)
      lhs.addData((1 to 6).map(i => ev(i, 10 + i)): _*)
      rhs.addData((1 to 6).map(i => ev(100 + i, 10 + i)): _*)
      q.processAllAvailable()
      val peak = stateRows
      peak should be >= 12L
      // advance both watermarks far past every buffered row, twice:
      // the watermark computed at the END of one batch drives state
      // eviction in the NEXT batch
      lhs.addData(ev(98, 1000)); rhs.addData(ev(99, 1000))
      q.processAllAvailable()
      lhs.addData(ev(96, 1001)); rhs.addData(ev(97, 1001))
      q.processAllAvailable()
      // every pre-sentinel row is gone from state despite MORE input
      // having arrived — retention is horizon-bounded, not append-only
      stateRows should be < peak
      stateRows should be <= 4L // at most the two sentinel pairs
      removedRows should be >= 12L
    } finally q.stop()
  }

  test("session_window tie at exactly last+gap extends the session, agreeing with batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // minute 10 then minute 40 with a 30-minute gap: the second event
    // lands at EXACTLY first.last + gap. Round 12's scaladoc claimed
    // session_window excludes it half-open-style (new session); this
    // spec FALSIFIED that claim: the event's window [40, 70) starts
    // touching the open session's end [10, 40) and session merging
    // joins them — the same `<= gap`-stays decision batch sessionize
    // makes. The operators agree even on the tie; this pins it.
    val events = Seq(ev(1, 10, value = 1.0), ev(2, 40, value = 2.0))
    val q = Streaming.sessionStats(ms.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("tie_out")
      .option("checkpointLocation", tmp("tie-ckpt")).outputMode("complete")
      .start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("tie_out")
        .select("session_start", "session_end", "n_events", "total_value")
        .as[(Timestamp, Timestamp, Long, Double)].collect().toSet
      streamed shouldBe Set((
        new Timestamp(base + 10 * 60000L),
        new Timestamp(base + 70 * 60000L), // last event 40m + 30m gap
        2L, 3.0))
      val batch = EventAnalytics.sessionize(events.toDF(), gapMinutes = 30)
        .select("session_start", "n_events")
        .as[(Timestamp, Long)].collect().toSet
      batch shouldBe Set((new Timestamp(base + 10 * 60000L), 2L))
    } finally q.stop()
  }

  test("foreachBatch upsert: an empty first micro-batch creates no table") {
    import org.apache.spark.sql.streaming.Trigger
    val landing = tmp("empty-landing")
    val ckpt = tmp("empty-ckpt")
    val table = tmp("empty-upsert") + "/events_table"
    // a data-less file drop: schema-complete parquet, zero rows — the
    // restart-replay shape that used to leave a _SUCCESS-only table dir
    spark.emptyDataset[Ev].toDF().write.mode("append").parquet(landing)
    val q1 = Streaming.upsertSink(Streaming.readEventsStream(spark, landing),
        table, keys = Seq("event_id"), checkpointDir = ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q1.awaitTermination(60000) shouldBe true finally q1.stop()
    new java.io.File(table).exists() shouldBe false
    // real rows arrive later on the SAME checkpoint: table created then
    Seq(ev(1, 0), ev(2, 1)).toDF().write.mode("append").parquet(landing)
    val q2 = Streaming.upsertSink(Streaming.readEventsStream(spark, landing),
        table, keys = Seq("event_id"), checkpointDir = ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q2.awaitTermination(60000) shouldBe true finally q2.stop()
    spark.read.parquet(table).select("event_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L)
  }

  test("foreachBatch upsert: a replayed micro-batch is idempotent (exactly-once)") {
    import org.apache.spark.sql.streaming.Trigger
    val landing = tmp("replay-landing")
    val ckpt = tmp("replay-ckpt")
    val table = tmp("replay-upsert") + "/events_table"
    def runOnce(): Unit = {
      val q = Streaming.upsertSink(Streaming.readEventsStream(spark, landing),
          table, keys = Seq("event_id"), checkpointDir = ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) shouldBe true finally q.stop()
    }
    Seq(ev(1, 0, value = 1.0), ev(2, 1, value = 2.0)).toDF()
      .write.mode("append").parquet(landing)
    runOnce()
    val before = spark.read.parquet(table).select("event_id", "value")
      .as[(Long, Double)].collect().sorted.toSeq
    before shouldBe Seq((1L, 1.0), (2L, 2.0))
    // Simulate the crash window the exactly-once claim is about: the
    // sink's work landed but the checkpoint never recorded batch 0
    // (commit marker missing). On restart Spark re-executes batch 0
    // through foreachBatch with the same source offsets — the merge
    // must absorb the replay without duplicating or corrupting rows.
    // (the .crc checksum shadow must go too: a stale .0.crc makes the
    // local filesystem's rename-into-place fail, which Spark surfaces
    // as a bogus concurrent-queries error)
    new java.io.File(s"$ckpt/commits/0").delete() shouldBe true
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    runOnce()
    spark.read.parquet(table).select("event_id", "value")
      .as[(Long, Double)].collect().sorted.toSeq shouldBe before
  }

  test("foreachBatch upsert: late re-delivery updates in place across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = tmp("upsert") + "/events_table"
    // day 0 and day 1 events -> two event_date partitions
    val day = 24 * 60L
    val q = Streaming.startUpsertStream(ms.toDF(), table,
      keys = Seq("event_id"), checkpointDir = tmp("upsert-ckpt"))
    try {
      ms.addData(ev(1, 0, value = 1.0), ev(2, day, value = 2.0))
      q.processAllAvailable()
      val day0Dir = new java.io.File(s"$table/event_date=2024-01-01")
      val day0Before = day0Dir.listFiles()
        .map(f => (f.getName, f.length, f.lastModified)).toSet
      // batch 2 touches ONLY day 1: id 2 updated, id 3 inserted
      ms.addData(ev(2, day, value = 99.0), ev(3, day + 1, value = 3.0))
      q.processAllAvailable()
      val out = spark.read.parquet(table)
        .select("event_id", "value").as[(Long, Double)].collect().sorted
      out.toSeq shouldBe Seq((1L, 1.0), (2L, 99.0), (3L, 3.0))
      // the untouched day-0 partition's files were not rewritten
      day0Dir.listFiles().map(f => (f.getName, f.length, f.lastModified))
        .toSet shouldBe day0Before
    } finally q.stop()
  }

  test("observedQuality surfaces per-micro-batch metrics in the query progress") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.observedQuality(ms.toDF(), "feed_quality", Seq("props"))
      .writeStream.format("memory").queryName("obs_out")
      .option("checkpointLocation", tmp("obs-ckpt")).outputMode("append")
      .start()
    try {
      ms.addData(ev(1, 0), ev(2, 1),
        Ev(3, new Timestamp(base + 2 * 60000L), 1L, "click", 1.0, null))
      q.processAllAvailable()
      ms.addData(ev(4, 3))
      q.processAllAvailable()
      val observed = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("feed_quality")))
        .map(r => (r.getAs[Long]("row_count"), r.getAs[Long]("null_props")))
        .filter(_._1 > 0)
      // batch 0: 3 rows, 1 null props; batch 1: 1 row, 0 nulls
      observed shouldBe Seq((3L, 1L), (1L, 0L))
    } finally q.stop()
  }

  test("driftMonitorSink scores each micro-batch against the static baseline") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val baseline = tmp("drift-baseline")
    val out = tmp("drift-out")
    // baseline: 50/50 click/view
    Seq(ev(900, 0, "click"), ev(901, 1, "view")).toDF()
      .write.mode("overwrite").parquet(baseline)
    val q = Streaming.driftMonitorSink(ms.toDF(), baseline,
        "event_type", out, tmp("drift-ckpt")).start()
    try {
      // batch 0 matches the baseline; batch 1 is all-click
      ms.addData(ev(1, 2, "click"), ev(2, 3, "view"))
      q.processAllAvailable()
      ms.addData(ev(3, 4, "click"), ev(4, 5, "click"))
      q.processAllAvailable()
      val r = spark.read.parquet(out)
        .select("batch_id", "event_type", "share_diff")
        .as[(Long, String, Double)].collect()
      val tv = r.groupBy(_._1).view
        .mapValues(_.map(_._3).sum / 2.0).toMap
      tv(0L) shouldBe 0.0
      tv(1L) shouldBe 0.5 // |1-.5|/2 + |0-.5|/2
    } finally q.stop()
  }

  test("session_window sessions match the batch sessionize on a tie-free stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // user 1: minutes 10, 25 (gap 15 < 30: same session), then 90
    // (gap 65: new session); user 2 one event. The exact-gap tie case
    // has its own spec below (streaming and batch agree there too).
    val events = Seq(
      ev(1, 10, value = 1.5), ev(2, 25, value = 2.5), ev(3, 90, value = 4.0),
      Ev(4, new Timestamp(base + 40 * 60000L), 2L, "view", 8.0, "{}"))
    val q = Streaming.sessionStats(ms.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sw_out")
      .option("checkpointLocation", tmp("sw-ckpt")).outputMode("complete")
      .start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("sw_out")
        .select("user_id", "session_start", "n_events", "total_value")
      val batch = EventAnalytics.sessionize(events.toDF(), gapMinutes = 30)
        .select(col("user_id"), col("session_start"),
          col("n_events"), col("total_value"))
      assertSameRows(streamed, batch)
      // session extent: [first event, last event + gap) half-open
      val ends = spark.table("sw_out")
        .select("session_start", "session_end")
        .as[(Timestamp, Timestamp)].collect().toSet
      ends should contain ((new Timestamp(base + 10 * 60000L),
        new Timestamp(base + 55 * 60000L))) // 25min last event + 30min gap
    } finally q.stop()
  }

  test("heavyHitterSink reports per-batch hot keys matching the batch operator") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val out = tmp("hh-out")
    val q = Streaming.heavyHitterSink(ms.toDF(), "event_type", phi = 0.4,
        out, tmp("hh-ckpt")).start()
    try {
      // batch 0: click 3/4 (> 1.6 rows) is hot, view 1/4 is not
      ms.addData(ev(1, 0, "click"), ev(2, 1, "click"),
        ev(3, 2, "click"), ev(4, 3, "view"))
      q.processAllAvailable()
      // batch 1: 2/2 view — per-batch frequency, history forgotten
      ms.addData(ev(5, 4, "view"), ev(6, 5, "view"))
      q.processAllAvailable()
      val r = spark.read.parquet(out)
        .select("batch_id", "value", "cnt")
        .as[(Long, String, Long)].collect().toSet
      r shouldBe Set((0L, "click", 3L), (1L, "view", 2L))
    } finally q.stop()
  }

  test("enrichStatic: stateless dimension join, unmatched events kept, broadcast plan") {
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val events = Seq(
      ev(1, 1).copy(user_id = 1L), ev(2, 2).copy(user_id = 2L),
      ev(3, 3).copy(user_id = 9L)) // no dimension coverage: must survive
    val ms = MemoryStream[Ev]
    val q = Streaming.enrichStatic(ms.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("static_out")
      .option("checkpointLocation", tmp("static-ckpt")).outputMode("append")
      .start()
    try {
      ms.addData(events.take(2): _*)
      q.processAllAvailable()
      ms.addData(events.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("static_out")
        .select("event_id", "user_id", "segment")
      val batch = Streaming.enrichStatic(events.toDF(), dim, "user_id")
        .select("event_id", "user_id", "segment")
      assertSameRows(streamed, batch)
      streamed.filter(col("segment").isNull).select("event_id")
        .as[Long].collect() shouldBe Array(3L)
      // THE point of the form: no state operator exists — nothing
      // buffered, nothing to watermark, nothing to evict
      q.recentProgress.flatMap(_.stateOperators) shouldBe empty
      // and the batch twin plans the dimension as a broadcast join
      batch.queryExecution.executedPlan.toString should
        include("BroadcastHashJoin")
    } finally q.stop()
  }
test("streaming session_window with watermark matches the batch sessionWindows twin") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // two users, interleaved sessions; a 31-minute gap splits u1
    val events = Seq(
      ev(1, 10, "view", 1.5), ev(2, 20, "view", 2.5),
      ev(3, 52, "click", 4.0),              // 32 min after -> new session
      Ev(4, new Timestamp(base + 15 * 60000L), 2L, "view", 8.0, "{}"),
      // a far-future row advances the watermark past every session end
      ev(9, 600, "view", 0.5))
    val sessions = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.core.Exact.exactSum(col("value"), 6).as("total_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("n_events"), col("total_value"))
    val q = sessions.writeStream.format("memory").queryName("sess_nat_out")
      .option("checkpointLocation", tmp("sessnat-ckpt")).outputMode("append")
      .start()
    try {
      ms.addData(events.take(4): _*)
      q.processAllAvailable()
      ms.addData(events.last)
      q.processAllAvailable()
      // append mode emits only watermark-closed sessions: all but the
      // far-future row's own session
      val streamed = spark.table("sess_nat_out")
      val batch = EventAnalytics.sessionWindows(events.take(4).toDF())
      assertSameRows(streamed, batch)
    } finally q.stop()
  }

  test("capstone: landing -> quarantine -> dedup -> sessions -> MERGE survives a mid-stream restart and equals the batch twin") {
    // The q306 of streams (round-17 brief #1): six spec'd pieces —
    // file source, E121 quarantine, watermark dedup, session_window
    // aggregation, foreachBatch MERGE, E271 restart — chained as ONE
    // pipeline and drilled end to end. The restart lands MID-SESSION:
    // user 1's session has two events before the stop and one after
    // (plus a re-delivered duplicate), so the final table proves state
    // continuity (dedup state + open session) across the restart, not
    // just sink idempotence.
    val landing = tmp("cap-landing")
    val quarantine = tmp("cap-quarantine") + "/t"
    val table = tmp("cap-table") + "/sessions"
    val ckpt = tmp("cap-ckpt")
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX" // Sources.TsFormat
    def drop(events: Seq[Ev], name: String): Unit =
      events.toDF().coalesce(1).write.mode("append")
        .option("timestampFormat", tsFmt).json(landing)
    def dropBad(line: String, name: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$landing/$name.json"),
        (line + "\n").getBytes("UTF-8"))
    def runPhase(): Unit = {
      val (qq, sq) = Streaming.startCapstone(
        spark, landing, quarantine, table, ckpt,
        gap = "30 minutes", watermark = "10 minutes")
      try { qq.processAllAvailable(); sq.processAllAvailable() }
      finally { qq.stop(); sq.stop() }
    }

    // phase 1: user 1 opens a session (minutes 10, 20); user 2 a
    // lone event (minute 15); one malformed line
    new java.io.File(landing).mkdirs()
    drop(Seq(ev(1, 10, value = 1.0), ev(2, 20, value = 2.0),
      Ev(3, new Timestamp(base + 15 * 60000L), 2L, "view", 8.0, "{}")), "p1")
    dropBad("""{"event_id": 4, "ts": "not-a-time" BROKEN""", "bad-1")
    runPhase()
    // MID-STREAM: user 1's session is still open here (watermark
    // hasn't passed its end), nothing emitted for it yet

    // phase 2, after the stop: the SAME event 2 re-delivered (dedup
    // state must survive the restart), event 4 extends user 1's open
    // session (minute 25: straddles the restart), a second malformed
    // line, and a far-future pusher that closes every real session
    drop(Seq(ev(2, 20, value = 2.0), ev(4, 25, value = 4.0),
      Ev(99, new Timestamp(base + 600 * 60000L), 9L, "view", 0.5, "{}")), "p2")
    dropBad("""not json at all""", "bad-2")
    runPhase()

    // the streamed table vs the batch twin over the SAME landing
    // files, on the watermark-closed subset (the pusher's own session
    // never closes — excluded from both sides)
    val streamed = spark.read.parquet(table)
      .filter(col("user_id") =!= 9L)
      .select("user_id", "session_start", "session_end",
        "n_events", "total_value")
    val twin = Streaming.capstoneBatchTwin(spark, landing, gapMinutes = 30)
      .filter(col("user_id") =!= 9L)
    assertSameRows(streamed, twin)
    // the straddling session: ONE row, all three events, duplicate
    // dropped — state continuity in one line
    streamed.filter(col("user_id") === 1L)
      .select("n_events", "total_value")
      .as[(Long, Double)].collect().toSeq shouldBe Seq((3L, 7.0))
    // the dead-letter feed holds exactly the two malformed raw lines
    Streaming.readCommitted(spark, quarantine)
      .select("raw_line").as[String].collect().sorted.toSeq shouldBe
        Seq("""not json at all""", """{"event_id": 4, "ts": "not-a-time" BROKEN""")
  }

  test("stateful aggregation survives a stop-and-restart from its checkpoint") {
    // The crash-recovery contract a 100 TB/day stream lives on: a NEW
    // query object resuming the SAME checkpointLocation restores the
    // state store and source offsets, so a window whose rows STRADDLE
    // the restart is counted as one window — nothing lost, nothing
    // double-counted. (File source + parquet sink: the recoverable
    // pair; the memory sink refuses checkpoint recovery outright.)
    val srcDir = tmp("restart-src")
    val outDir = tmp("restart-out")
    val ckpt = tmp("restart-ckpt")
    val schema = Seq.empty[Ev].toDF().schema
    def startQuery() =
      spark.readStream.schema(schema).json(srcDir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .start()

    Seq(ev(1, 1), ev(2, 2), ev(3, 3, "view")).toDF()
      .coalesce(1).write.mode("append").json(srcDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // rows 4 and 5 land in the SAME 0-10 window as the pre-restart
    // rows; the minute-40 pusher advances the watermark past it
    Seq(ev(4, 5), ev(5, 6, "view"), ev(99, 40)).toDF()
      .coalesce(1).write.mode("append").json(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val closed = spark.read.parquet(outDir)
      .select(col("event_type"), col("n"))
      .as[(String, Long)].collect().toMap
    closed("click") shouldBe 3L   // 2 before the restart + 1 after
    closed("view") shouldBe 2L    // 1 + 1, same window across restart
  }
}
