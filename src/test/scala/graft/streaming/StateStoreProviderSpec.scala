package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.events.EventAnalytics

/** The stateful streaming operators under BOTH state store providers.
  *
  * The default HDFSBackedStateStoreProvider keeps every state map
  * on-heap — the one piece of the streaming stack that cannot survive
  * 100 TB/day state (executor heap bounds total state). Spark's
  * production answer is RocksDBStateStoreProvider (state off-heap on
  * local disk, bounded memory, incremental checkpointing) — a config
  * swap, IF the operators only touch state through the documented
  * APIs. This suite pins exactly that: the stream-stream interval
  * join (E114), the windowed aggregation (E24), watermark dedup, and
  * the flatMapGroupsWithState sessionizer run green under BOTH
  * providers with identical results and watermark-bounded eviction,
  * and each run ASSERTS which provider actually served it from the
  * query progress's state-operator custom metrics (rocksdb* keys vs
  * the HDFS provider's loadedMapCache* keys) — the conf alone proves
  * nothing if a typo silently falls back to the default. */
class StateStoreProviderSpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def ev(id: Long, minute: Long, typ: String = "click",
                 value: Double = 1.0, user: Long = 1L): Ev =
    Ev(id, new Timestamp(base + minute * 60000L), user, typ, value, "{}")

  private def tmp(name: String): String =
    tempDir(s"graft-ssp-$name").toString

  private val providers = Seq(
    "HDFSBacked" -> ("org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"),
    "RocksDB" -> ("org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"))

  /** Metric-key prefix that only the named provider emits. */
  private def signature(short: String): String =
    if (short == "RocksDB") "rocksdb" else "loadedMapCache"

  private def assertProvider(q: org.apache.spark.sql.streaming.StreamingQuery,
                             short: String): Unit = {
    val keys = q.recentProgress.toSeq.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
    withClue(s"state metrics $keys under $short: ") {
      keys.exists(_.startsWith(signature(short))) shouldBe true
      // and none of the OTHER provider's signature keys
      val other = signature(if (short == "RocksDB") "HDFSBacked" else "RocksDB")
      keys.exists(_.startsWith(other)) shouldBe false
    }
  }

  for ((short, cls) <- providers) {

    test(s"windowed aggregation matches the batch twin under $short") {
      withSQLConf("spark.sql.streaming.stateStore.providerClass" -> cls) {
        implicit val ctx = spark.sqlContext
        val ms = MemoryStream[Ev]
        val events = Seq(ev(1, 10, "view", 1.5), ev(2, 50, "view", 2.5),
          ev(3, 70, "view", 4.0), ev(4, 75, "click", 8.0))
        val q = Streaming.windowedStats(ms.toDF(), "1 hour", "1 hour")
          .writeStream.format("memory").queryName(s"ssp_win_$short")
          .option("checkpointLocation", tmp(s"win-$short"))
          .outputMode("complete").start()
        try {
          ms.addData(events: _*)
          q.processAllAvailable()
          assertSameRows(
            spark.table(s"ssp_win_$short"),
            EventAnalytics.windowedStats(events.toDF(), "1 hour")
              .select("window_start", "event_type", "n_events", "total_value"))
          assertProvider(q, short)
        } finally q.stop()
      }
    }

    test(s"enrichJoin state eviction is watermark-bounded under $short") {
      withSQLConf("spark.sql.streaming.stateStore.providerClass" -> cls) {
        implicit val ctx = spark.sqlContext
        val lhs = MemoryStream[Ev]
        val rhs = MemoryStream[Ev]
        val q = Streaming.enrichJoin(lhs.toDF(), rhs.toDF(), "user_id",
            lowerMinutes = 0, upperMinutes = 30, watermark = "10 minutes")
          .writeStream.format("memory").queryName(s"ssp_evict_$short")
          .option("checkpointLocation", tmp(s"evict-$short"))
          .outputMode("append").start()
        def stateRows: Long =
          q.recentProgress.reverseIterator
            .find(_.stateOperators.nonEmpty)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        try {
          lhs.addData((1 to 6).map(i => ev(i, 10 + i)): _*)
          rhs.addData((1 to 6).map(i => ev(100 + i, 10 + i)): _*)
          q.processAllAvailable()
          val peak = stateRows
          peak should be >= 12L
          // watermark computed at one batch's END evicts in the NEXT
          lhs.addData(ev(98, 1000)); rhs.addData(ev(99, 1000))
          q.processAllAvailable()
          lhs.addData(ev(96, 1001)); rhs.addData(ev(97, 1001))
          q.processAllAvailable()
          stateRows should be < peak
          stateRows should be <= 4L
          // every in-bound pair was emitted: same user, minutes 11-16
          // on both sides, bound [0, 30] -> rhs j matches lhs i iff
          // j >= i: 6+5+4+3+2+1 = 21 pairs
          val got = spark.table(s"ssp_evict_$short")
            .select("l_id", "r_id").as[(Long, Long)].collect().toSet
          got.count(p => p._1 <= 6) shouldBe 21
          assertProvider(q, short)
        } finally q.stop()
      }
    }

    test(s"dedup-within-watermark and session timeout work under $short") {
      withSQLConf("spark.sql.streaming.stateStore.providerClass" -> cls) {
        implicit val ctx = spark.sqlContext
        // watermark dedup
        val ms = MemoryStream[Ev]
        val q = Streaming.dedupWithinWatermark(ms.toDF(), "1 hour")
          .writeStream.format("memory").queryName(s"ssp_dedup_$short")
          .option("checkpointLocation", tmp(s"dedup-$short"))
          .outputMode("append").start()
        try {
          ms.addData(ev(1, 0), ev(2, 1))
          q.processAllAvailable()
          ms.addData(ev(2, 2), ev(3, 3)) // re-delivery within watermark
          q.processAllAvailable()
          spark.table(s"ssp_dedup_$short").select("event_id")
            .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
          assertProvider(q, short)
        } finally q.stop()
        // flatMapGroupsWithState sessionizer: gap close + timeout close
        val ms2 = MemoryStream[Ev]
        val q2 = StatefulSessions.sessionize(ms2.toDF(), gapMinutes = 30,
            watermark = "10 minutes")
          .writeStream.format("memory").queryName(s"ssp_sess_$short")
          .option("checkpointLocation", tmp(s"sess-$short"))
          .outputMode("append").start()
        try {
          ms2.addData(ev(1, 10), ev(2, 20, value = 2.0))
          q2.processAllAvailable()
          ms2.addData(ev(3, 100)) // gap > 30m: first session closes
          q2.processAllAvailable()
          spark.table(s"ssp_sess_$short")
            .select("user_id", "n_events", "total_value")
            .as[(Long, Long, Double)].collect().toSeq shouldBe
            Seq((1L, 2L, 3.0))
          // watermark far past the open session: the tail times out
          ms2.addData(ev(99, 200, user = 2L))
          q2.processAllAvailable()
          ms2.addData(ev(100, 201, user = 2L))
          q2.processAllAvailable()
          val users = spark.table(s"ssp_sess_$short").select("user_id")
            .as[Long].collect()
          users.count(_ == 1L) shouldBe 2 // both user-1 sessions out
          assertProvider(q2, short)
        } finally q2.stop()
      }
    }
  }

  test("MapState type counts: per-cell updates, only touched types emit") {
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")) {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[Ev]
      val q = StatefulTypeCounts.typeCounts(ms.toDF())
        .writeStream.format("memory").queryName("tws_types")
        .option("checkpointLocation", tmp("tws-types"))
        .outputMode("update").start()
      try {
        ms.addData(ev(1, 0, "view"), ev(2, 1, "view"), ev(3, 2, "click"))
        q.processAllAvailable()
        ms.addData(ev(4, 3, "view"))    // only 'view' touched this batch
        q.processAllAvailable()
        val rows = spark.table("tws_types").collect()
          .map(r => (r.getString(1), r.getLong(2))).toSeq
        rows should contain allOf (("view", 2L), ("click", 1L),
          ("view", 3L))
        // batch 2 emitted NO click row (unchanged counts aren't news)
        rows.count(_._1 == "click") shouldBe 1
        // final per-type state equals the batch twin
        rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap shouldBe
          Map("view" -> 3L, "click" -> 1L)
      } finally q.stop()
    }
  }

  test("v2 sessionizer (event-time timers) matches v1 output-for-output") {
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")) {
      implicit val ctx = spark.sqlContext
      // the SAME three-batch feed through both sessionizers: a gap
      // close, then a watermark-timer close of the tail session
      def run(name: String,
              mk: org.apache.spark.sql.DataFrame =>
                org.apache.spark.sql.Dataset[SessionWindow]) = {
        val ms = MemoryStream[Ev]
        val q = mk(ms.toDF())
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", tmp(name))
          .outputMode("append").start()
        try {
          ms.addData(ev(1, 10), ev(2, 20, value = 2.0))
          q.processAllAvailable()
          ms.addData(ev(3, 100))            // gap > 30m: session 1 closes
          q.processAllAvailable()
          ms.addData(ev(99, 300, user = 2L)) // watermark sweeps the tail
          q.processAllAvailable()
          ms.addData(ev(100, 301, user = 2L))
          q.processAllAvailable()
        } finally q.stop()
        spark.table(name)
          .select("user_id", "session_start", "session_end", "n_events",
            "total_value")
          .collect().map(_.toSeq).toSet
      }
      val v1 = run("sessv1_eq",
        df => StatefulSessions.sessionize(df, 30, "10 minutes"))
      val v2 = run("sessv2_eq",
        df => StatefulSessionsV2.sessionize(df, 30, "10 minutes"))
      v2 shouldBe v1
      v1.size should be >= 2
    }
  }

  test("ListState recent-k buffer: trims to newest, re-sorts late arrivals") {
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")) {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[Ev]
      val q = StatefulRecent.recentEvents(ms.toDF(), k = 3)
        .writeStream.format("memory").queryName("tws_recent")
        .option("checkpointLocation", tmp("tws-recent"))
        .outputMode("update").start()
      try {
        ms.addData(ev(10, 10), ev(20, 20), ev(30, 30), ev(40, 40))
        q.processAllAvailable()
        // a LATE event (minute 25) arrives in batch 2: it must sort
        // into position, evicting the oldest, not append at the end
        ms.addData(ev(25, 25))
        q.processAllAvailable()
        val views = spark.table("tws_recent").collect()
          .map(r => (r.getAs[Int]("n_buffered"),
            r.getAs[Seq[Long]]("event_ids")))
        views should contain((3, Seq(20L, 30L, 40L)))   // after batch 1
        views should contain((3, Seq(25L, 30L, 40L)))   // late 25 in place
      } finally q.stop()
    }
  }

  // ------------------------------------------------------------------
  // RocksDB CHANGELOG checkpointing — the production recovery knob:
  // with changelogCheckpointing enabled each commit uploads a small
  // per-batch changelog instead of a full snapshot zip (snapshots
  // roll up in the background), turning per-batch checkpoint cost
  // from O(state) into O(delta) — the difference between a 100 TB
  // state stream that keeps up and one that falls behind its own
  // checkpoints. The v2-state trio (ValueState totals, ListState
  // recent-k, MapState type counts) must produce IDENTICAL results
  // under both modes, and the mode is asserted from the CHECKPOINT
  // CONTENTS (.changelog files present iff enabled) — the conf alone
  // proves nothing if a typo silently falls back to snapshot mode.
  // ------------------------------------------------------------------

  private val rocksCls = "org.apache.spark.sql.execution.streaming.state." +
    "RocksDBStateStoreProvider"

  /** Count state-store files with the given suffix under a streaming
    * checkpoint's state/ tree. */
  private def stateFiles(ckpt: String, suffix: String): Long = {
    val stateDir = java.nio.file.Paths.get(ckpt, "state")
    if (!java.nio.file.Files.exists(stateDir)) 0L
    else {
      val walk = java.nio.file.Files.walk(stateDir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .count(p => p.getFileName.toString.endsWith(suffix)).toLong
      } finally walk.close()
    }
  }

  for (changelog <- Seq(false, true)) {

    test(s"v2 state trio is mode-identical under changelogCheckpointing=$changelog, asserted from checkpoint contents") {
      withSQLConf(
        "spark.sql.streaming.stateStore.providerClass" -> rocksCls,
        ("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled") -> changelog.toString) {
        implicit val ctx = spark.sqlContext
        val tag = s"cl_$changelog"

        // ValueState running totals
        val ck1 = tmp(s"cl-totals-$tag")
        val ms1 = MemoryStream[Ev]
        val q1 = StatefulTotals.runningTotals(ms1.toDF())
          .writeStream.format("memory").queryName(s"clt_$tag")
          .option("checkpointLocation", ck1).outputMode("update").start()
        try {
          ms1.addData(ev(1, 0, value = 1.25), ev(2, 1, value = 2.50))
          q1.processAllAvailable()
          ms1.addData(ev(3, 2, value = 4.00))
          q1.processAllAvailable()
          val rows = spark.table(s"clt_$tag").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
          rows should contain allOf ((1L, 2L, 375L), (1L, 3L, 775L))
          assertProvider(q1, "RocksDB")
        } finally q1.stop()

        // ListState recent-k with a late arrival
        val ck2 = tmp(s"cl-recent-$tag")
        val ms2 = MemoryStream[Ev]
        val q2 = StatefulRecent.recentEvents(ms2.toDF(), k = 3)
          .writeStream.format("memory").queryName(s"clr_$tag")
          .option("checkpointLocation", ck2).outputMode("update").start()
        try {
          ms2.addData(ev(10, 10), ev(20, 20), ev(30, 30), ev(40, 40))
          q2.processAllAvailable()
          ms2.addData(ev(25, 25))
          q2.processAllAvailable()
          val views = spark.table(s"clr_$tag").collect()
            .map(r => (r.getAs[Int]("n_buffered"),
              r.getAs[Seq[Long]]("event_ids")))
          views should contain((3, Seq(25L, 30L, 40L)))
        } finally q2.stop()

        // MapState per-type counts
        val ck3 = tmp(s"cl-types-$tag")
        val ms3 = MemoryStream[Ev]
        val q3 = StatefulTypeCounts.typeCounts(ms3.toDF())
          .writeStream.format("memory").queryName(s"cly_$tag")
          .option("checkpointLocation", ck3).outputMode("update").start()
        try {
          ms3.addData(ev(1, 0, "view"), ev(2, 1, "view"), ev(3, 2, "click"))
          q3.processAllAvailable()
          ms3.addData(ev(4, 3, "view"))
          q3.processAllAvailable()
          val rows = spark.table(s"cly_$tag").collect()
            .map(r => (r.getString(1), r.getLong(2))).toSeq
          rows should contain allOf (("view", 2L), ("click", 1L), ("view", 3L))
        } finally q3.stop()

        // mode assert from checkpoint contents, not the conf: per-batch
        // .changelog files exist iff changelog checkpointing engaged
        for (ck <- Seq(ck1, ck2, ck3)) {
          val n = stateFiles(ck, ".changelog")
          withClue(s"$ck changelog files under changelog=$changelog: ") {
            if (changelog) n should be > 0L else n shouldBe 0L
          }
        }
      }
    }

    test(s"v2 sessionizer survives stop-and-restart under changelogCheckpointing=$changelog") {
      withSQLConf(
        "spark.sql.streaming.stateStore.providerClass" -> rocksCls,
        ("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled") -> changelog.toString) {
        // The crash-recovery contract under BOTH checkpoint modes: a
        // NEW query resuming the SAME checkpoint restores v2 state
        // (changelog mode replays changelogs over the last snapshot),
        // so a session whose events straddle the restart closes ONCE
        // with all its events. File source + parquet sink (the
        // recoverable pair, as in StreamingSpec's restart test).
        import spark.implicits._
        val tag = s"rs_$changelog"
        val srcDir = tmp(s"cl-restart-src-$tag")
        val outDir = tmp(s"cl-restart-out-$tag")
        val ckpt = tmp(s"cl-restart-ckpt-$tag")
        val schema = Seq.empty[Ev].toDF().schema
        def startQuery() =
          StatefulSessionsV2.sessionize(
              spark.readStream.schema(schema).json(srcDir),
              gapMinutes = 30, watermark = "10 minutes")
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt).outputMode("append")
            .start()

        // batch 1: an open session for user 1
        Seq(ev(1, 10), ev(2, 20, value = 2.0)).toDF()
          .coalesce(1).write.mode("append").json(srcDir)
        val q1 = startQuery()
        try q1.processAllAvailable() finally q1.stop()

        // restart: one more event in the SAME session, then a far
        // event that closes it via the event-time timer
        Seq(ev(3, 25, value = 4.0), ev(99, 200, user = 2L)).toDF()
          .coalesce(1).write.mode("append").json(srcDir)
        val q2 = startQuery()
        try {
          q2.processAllAvailable()
          // push the watermark so user 2's tail session also closes
          Seq(ev(100, 300, user = 2L)).toDF()
            .coalesce(1).write.mode("append").json(srcDir)
          q2.processAllAvailable()
        } finally q2.stop()

        val sessions = spark.read.parquet(outDir)
          .select("user_id", "n_events", "total_value")
          .as[(Long, Long, Double)].collect().toSeq
        // user 1's session closed ONCE with all 3 events (2 before
        // the restart + 1 after) — state survived the restart
        sessions should contain((1L, 3L, 7.0))
        sessions.count(_._1 == 1L) shouldBe 1
        val n = stateFiles(ckpt, ".changelog")
        if (changelog) n should be > 0L else n shouldBe 0L
      }
    }
  }

  test("transformWithState running totals: state carries across batches, batch-twin final") {
    // transformWithState REQUIRES the RocksDB provider — the v2 state
    // API is built on its column-family support
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")) {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[Ev]
      val q = StatefulTotals.runningTotals(ms.toDF())
        .writeStream.format("memory").queryName("tws_totals")
        .option("checkpointLocation", tmp("tws"))
        .outputMode("update").start()
      try {
        ms.addData(ev(1, 0, value = 1.25), ev(2, 1, value = 2.50))
        q.processAllAvailable()
        ms.addData(ev(3, 2, value = 4.00),
          ev(4, 3, value = 8.00, user = 2L))
        q.processAllAvailable()
        val rows = spark.table("tws_totals").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        // update mode emits one row per (user, batch): user 1 grows
        // 2 -> 3 events (125+250 -> +400 cents); user 2 appears once
        rows should contain allOf ((1L, 2L, 375L), (1L, 3L, 775L),
          (2L, 1L, 800L))
        // final state equals the batch twin
        val finals = rows.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
        finals(1L) shouldBe ((1L, 3L, 775L))
        finals(2L) shouldBe ((2L, 1L, 800L))
        assertProvider(q, "RocksDB")
      } finally q.stop()
    }
  }
}
