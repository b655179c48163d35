package graft.streaming

import graft.SparkSpec
import graft.io.Sources
import java.nio.file.Files

class StreamingKpisSpec extends SparkSpec {

  test("foreachBatchOverwrite recomputes KPIs per batch with overwrite semantics") {
    val dir = Files.createTempDirectory("graft-stream")
    val streamsDir = dir.resolve("in"); Files.createDirectories(streamsDir)
    Files.writeString(streamsDir.resolve("s1.csv"),
      """user_id,track_id,listen_time
        |1,t1,2024-06-25T10:00:00.000Z
        |2,t1,2024-06-25T10:10:00.000Z
        |2,t2,2024-06-25T11:00:00.000Z
        |""".stripMargin)
    import spark.implicits._
    val songs = Seq(("t1", "rock", 200.0, "Song A", "Artist 1"),
      ("t2", "jazz", 300.0, "Song B", "Artist 2"))
      .toDF("track_id", "track_genre", "duration_ms", "track_name", "artists")
    val users = Seq((1, "US"), (2, "FR")).toDF("user_id", "user_country")

    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema, streamsDir.toString)
    val enriched = graft.etl.MusicKpis.enrich(
      stream, songs, "track_id", users, "user_id", "listen_time")
    val q = StreamingKpis.foreachBatchOverwrite(enriched,
      dir.resolve("genre").toString, dir.resolve("hourly").toString,
      dir.resolve("ckpt").toString).start()
    q.awaitTermination(60000)

    val genre = spark.read.parquet(dir.resolve("genre").toString)
      .collect().map(r => r.getAs[String]("track_genre") -> r.getAs[Long]("listen_count")).toMap
    assert(genre("rock") == 2 && genre("jazz") == 1)
    val hourly = spark.read.parquet(dir.resolve("hourly").toString)
      .collect().map(r => r.getAs[Int]("hour") -> r.getAs[Long]("unique_listeners")).toMap
    assert(hourly(10) == 2 && hourly(11) == 1)
  }

  test("incrementalSnapshot merges per-batch partials into a full-history-equivalent snapshot") {
    val dir = Files.createTempDirectory("graft-incr")
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    def shard(name: String, rows: String): Unit =
      Files.writeString(inDir.resolve(name),
        "user_id,track_id,listen_time\n" + rows)
    shard("a.csv",
      """1,t1,2024-06-25T10:00:00.000Z
        |2,t1,2024-06-25T10:10:00.000Z
        |""".stripMargin)
    shard("b.csv",
      """1,t2,2024-06-25T11:00:00.000Z
        |3,t1,2024-06-25T11:30:00.000Z
        |""".stripMargin)
    shard("c.csv", "2,t2,2024-06-25T12:00:00.000Z\n")
    import org.apache.spark.sql.functions._
    // one file per micro-batch → three separate merge cycles
    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema,
        inDir.toString, maxFilesPerTrigger = 1)
      .withColumn("v", length(col("track_id")).cast("long"))
    val snap = dir.resolve("snap").toString
    val q = VersionedSnapshot.sink(stream, Seq("user_id"), "v",
      snap, dir.resolve("ckpt").toString).start()
    q.awaitTermination(60000)

    val got = VersionedSnapshot.read(spark, snap).get
      .selectExpr("user_id", "n", "sum_v").collect()
      .map(r => (r.getAs[Number]("user_id").longValue(),
        r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toSet
    // full recompute over all five rows: user 1 → 2 plays, user 2 → 2, 3 → 1
    assert(got == Set((1L, 2L, 4L), (2L, 2L, 4L), (3L, 1L, 2L)))
  }

  test("incrementalSnapshot same-lineage replay is a no-op; a lineage reset re-merges") {
    val dir = Files.createTempDirectory("graft-incr-replay")
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    Files.writeString(inDir.resolve("a.csv"),
      """user_id,track_id,listen_time
        |1,t1,2024-06-25T10:00:00.000Z
        |1,t2,2024-06-25T11:00:00.000Z
        |2,t1,2024-06-25T12:00:00.000Z
        |""".stripMargin)
    import org.apache.spark.sql.functions._
    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema,
        inDir.toString, maxFilesPerTrigger = 1)
      .withColumn("v", length(col("track_id")).cast("long"))
    val snap = dir.resolve("snap").toString
    val ckpt = dir.resolve("ckpt1").toString
    VersionedSnapshot.sink(stream, Seq("user_id"), "v", snap, ckpt)
      .start().awaitTermination(60000)
    def read() = VersionedSnapshot.read(spark, snap).get
      .selectExpr("user_id", "n", "sum_v").collect()
      .map(r => (r.getAs[Number]("user_id").longValue(),
        r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toSet
    val first = read()
    assert(first == Set((1L, 2L, 4L), (2L, 1L, 2L)))
    // same-lineage replay: re-deliver batchId 0 under the SAME checkpoint
    // tag — exactly what foreachBatch does after a crash between the
    // commit and the checkpoint commit. Must be skipped, not double-counted.
    val batchDf = spark.read.schema(Sources.streamsSchema)
      .option("header", "true").csv(inDir.toString)
      .withColumn("v", length(col("track_id")).cast("long"))
    val committed = VersionedSnapshot.currentVersion(spark, snap)
    VersionedSnapshot.mergeBatch(batchDf, Seq("user_id"), "v", snap,
      checkpointTag = ckpt, batchId = 0L)
    assert(read() == first, "same-lineage replayed batch was merged twice")
    // the skipped replay commits nothing
    assert(committed.isDefined && VersionedSnapshot.currentVersion(spark, snap) == committed)
    // lineage reset: a DIFFERENT checkpoint tag with restarted batchIds is
    // NOT a replay — batchId 0 may now carry never-seen data, so it merges
    // (at-least-once across resets; skipping on id alone would lose data)
    VersionedSnapshot.mergeBatch(batchDf, Seq("user_id"), "v", snap,
      checkpointTag = dir.resolve("ckpt2").toString, batchId = 0L)
    assert(read() == Set((1L, 4L, 8L), (2L, 2L, 4L)),
      "lineage-reset batch should have merged")
  }

  test("typed aggregators run in streaming complete mode (mode/top-k per group)") {
    // ranking windows are not expressible over a streaming aggregate —
    // this is exactly what the one-pass Aggregator forms exist for
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    input.addData(("rock", "Song A"), ("rock", "Song A"), ("rock", "Song B"), ("jazz", "Song C"))
    val agg = input.toDF.toDF("genre", "track")
      .groupBy("genre")
      .agg(
        graft.operators.Aggregates.mode_agg(col("track")).as("top_track"),
        graft.operators.Aggregates.topk_agg(2)(col("track")).as("top2"))
    val q = agg.writeStream.format("memory").queryName("stream_mode")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("stream_mode").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getSeq[String](2).toSeq)).toMap
      assert(r1("rock") == (("Song A", Seq("Song A", "Song B"))))
      assert(r1("jazz") == (("Song C", Seq("Song C"))))
      // incremental update flips the mode deterministically
      input.addData(("rock", "Song B"), ("rock", "Song B"))
      q.processAllAvailable()
      val r2 = spark.table("stream_mode").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(r2("rock") == "Song B") // 3 > 2
    } finally q.stop()
  }

  test("asOfEnrichStream finalizes temporal matches only once the watermark seals them") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val upIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def t(m: Int) = new java.sql.Timestamp(3600000L + m * 60000L)
    val evDf = evIn.toDF.toDF("key", "ts", "event_id").withWatermark("ts", "1 hour")
    val upDf = upIn.toDF.toDF("key", "ts", "value").withWatermark("ts", "1 hour")
    val out = StreamingKpis.asOfEnrichStream(spark, evDf, upDf)
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // batch 1: updates at 0 (v=1.0) and 60 (v=2.0); events at 30, 70; a
      // key-2 event that will never match
      upIn.addData((1L, t(0), 1.0), (1L, t(60), 2.0))
      evIn.addData((1L, t(30), 101L), (1L, t(70), 102L), (2L, t(30), 201L))
      q.processAllAvailable()
      // batch 2: OUT-OF-ORDER update at 40 (v=1.5) lands after the event
      // at 45 was... before any event is sealed — both within the horizon
      upIn.addData((1L, t(40), 1.5))
      evIn.addData((1L, t(45), 103L))
      q.processAllAvailable()
      // nothing is sealed yet (watermark still behind the events)
      assert(spark.table("asof_stream").isEmpty)
      // advance both sides' event time so the watermark seals 0..140
      upIn.addData((1L, t(200), 9.0)); evIn.addData((1L, t(200), 999L))
      q.processAllAvailable()
      upIn.addData((1L, t(400), 10.0)); evIn.addData((1L, t(400), 1000L))
      q.processAllAvailable()
      val res = spark.table("asof_stream").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Double]("value"), r.getAs[Boolean]("matched"))).toMap
      assert(res(101L) == ((1.0, true)))  // latest ≤ 30 is the update at 0
      assert(res(102L) == ((2.0, true)))  // update at 60 wins over 40
      assert(res(103L)._1 == 1.5)         // the LATE update at 40 still wins
      assert(!res(201L)._2)               // no update for key 2 → unmatched
      assert(res(999L) == ((9.0, true)))  // sealed by the timeout-driven flush
    } finally q.stop()
  }

  test("sessionCounts runs stateful gap-sessionization over a live stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(m: Int) = new java.sql.Timestamp(3600000L + m * 60000L)
    // user 1: two events 5 min apart (1 session), then one 90 min later (2nd)
    input.addData((1L, ts(0)), (1L, ts(5)), (1L, ts(95)), (2L, ts(10)))
    val out = StreamingKpis.sessionCounts(
      spark, input.toDF.toDF("user_id", "ts"), "ts", "user_id")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val res = spark.table("sessions").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(res(1L) == 2)
      assert(res(2L) == 1)
    } finally q.stop()
  }

  test("sessionCounts buffers within the watermark so out-of-order events count correctly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(m: Int) = new java.sql.Timestamp(3600000L + m * 60000L)
    val out = StreamingKpis.sessionCounts(
      spark, input.toDF.toDF("user_id", "ts"), "ts", "user_id")
    val q = out.writeStream.format("memory").queryName("sessions_ooo")
      .outputMode("append").start()
    try {
      // batch 1: event at t=60min
      input.addData((1L, ts(60)))
      q.processAllAvailable()
      // batch 2: an EARLIER event (t=5min) arrives late but within the 1h
      // watermark — [5, 60] has a 55-min gap → 2 sessions, which a naive
      // lastTs comparison would have merged into 1
      input.addData((1L, ts(5)))
      q.processAllAvailable()
      val latest = spark.table("sessions_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(latest.last == ((1L, 2L)), s"got ${latest.toSeq}")
    } finally q.stop()
  }

  test("sessionCounts evicts idle users via the event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def h(hh: Int, m: Int = 0) = new java.sql.Timestamp((hh * 60L + m) * 60000L)
    val out = StreamingKpis.sessionCounts(
      spark, input.toDF.toDF("user_id", "ts"), "ts", "user_id")
    val q = out.writeStream.format("memory").queryName("sessions_evict")
      .outputMode("append").start()
    try {
      input.addData((1L, h(10))); q.processAllAvailable()
      // other-user traffic advances the watermark past user 1's
      // (newest + gap) timeout → user 1's buffered state finalizes + evicts
      input.addData((2L, h(14))); q.processAllAvailable()
      input.addData((2L, h(14, 1))); q.processAllAvailable()
      input.addData((2L, h(14, 2))); q.processAllAvailable()
      val user1Rows = spark.table("sessions_evict").collect()
        .filter(_.getLong(0) == 1L).map(_.getLong(1)).toSeq
      // provisional emission from batch 1 + the timeout's final emission
      assert(user1Rows.size >= 2 && user1Rows.forall(_ == 1L), s"got $user1Rows")
    } finally q.stop()
  }

  test("detectPattern finds strict-contiguity V,V,P matches across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(m: Int) = new java.sql.Timestamp(3600000L + m * 60000L)
    val out = StreamingKpis.detectPattern(spark,
      input.toDF.toDF("user_id", "ts", "event_type"), "ts", "user_id",
      "event_type", Seq("view", "view", "purchase"),
      maxGapMs = 10 * 60000L, lateness = "30 minutes")
    val q = out.writeStream.format("memory").queryName("cep")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), "view"), (1L, ts(5), "view"),
        (2L, ts(0), "view"), (2L, ts(5), "purchase"), (2L, ts(8), "view"))
      q.processAllAvailable()
      // user 1's purchase lands in a LATER batch than its two views —
      // the match must still fire (state carries the sealed tail);
      // user 2's only V,V,P run is view@8, view@12, purchase@14
      input.addData((1L, ts(9), "purchase"),
        (2L, ts(12), "view"), (2L, ts(14), "purchase"))
      q.processAllAvailable()
      // far-future traffic advances the watermark, sealing + evicting
      input.addData((99L, ts(300), "view")); q.processAllAvailable()
      input.addData((99L, ts(600), "view")); q.processAllAvailable()
      val res = spark.table("cep").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
      assert(res == Set((1L, ts(9).getTime), (2L, ts(14).getTime)), s"got $res")
    } finally q.stop()
  }

  test("detectPattern sorts an out-of-order arrival into event-time order before matching") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(m: Int) = new java.sql.Timestamp(3600000L + m * 60000L)
    val out = StreamingKpis.detectPattern(spark,
      input.toDF.toDF("user_id", "ts", "event_type"), "ts", "user_id",
      "event_type", Seq("view", "view", "purchase"),
      maxGapMs = 10 * 60000L, lateness = "30 minutes")
    val q = out.writeStream.format("memory").queryName("cep_ooo")
      .outputMode("append").start()
    try {
      // processing order: view@0, purchase@6 … then view@3 arrives LATE
      // (but within the 30-min watermark). Event-time order is
      // view@0, view@3, purchase@6 — a real match a processing-order
      // DFA would never see (it reads V, P, V)
      input.addData((3L, ts(0), "view"), (3L, ts(6), "purchase"))
      q.processAllAvailable()
      input.addData((3L, ts(3), "view"))
      q.processAllAvailable()
      input.addData((99L, ts(300), "view")); q.processAllAvailable()
      input.addData((99L, ts(600), "view")); q.processAllAvailable()
      val res = spark.table("cep_ooo").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
      assert(res == Set((3L, ts(6).getTime)), s"got $res")
    } finally q.stop()
  }

  test("dedupStream drops an exact duplicate arriving in a later batch within the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(m: Int) = new java.sql.Timestamp(3600000L + m * 60000L)
    val out = StreamingKpis.dedupStream(
      input.toDF.toDF("content_key", "ts"), "ts", Seq("content_key"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(("k1", ts(0)), ("k2", ts(1)))
      q.processAllAvailable()
      // k1 again, later micro-batch, still within the 1h watermark → dropped
      input.addData(("k1", ts(5)), ("k3", ts(6)))
      q.processAllAvailable()
      val keys = spark.table("dedup_stream").collect().map(_.getString(0)).toSeq
      assert(keys.sorted == Seq("k1", "k2", "k3"), s"got $keys")
    } finally q.stop()
  }

  test("windowedHourlyKpis emits finalized windows as the watermark advances") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Int, java.sql.Timestamp)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-06-25 $h%02d:$m%02d:00")
    val out = StreamingKpis.windowedHourlyKpis(
      input.toDF.toDF("user_id", "listen_time"), "listen_time", "user_id",
      lateness = "0 seconds")
    val q = out.writeStream.format("memory").queryName("win_kpis")
      .outputMode("append").start()
    try {
      input.addData((1, ts(10, 5)), (2, ts(10, 20)), (1, ts(10, 40)))
      q.processAllAvailable()
      // watermark still inside hour 10 → nothing finalized yet
      assert(spark.table("win_kpis").count() == 0)
      input.addData((3, ts(13, 1))) // advances watermark past hour 10
      q.processAllAvailable()
      val rows = spark.table("win_kpis").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("2024-06-25 10:00:00.0") == ((2L, 3L))) // 2 users, 3 events
    } finally q.stop()
  }

  test("windowedHourlyKpis is a valid streaming plan and matches batch semantics") {
    import spark.implicits._
    // batch execution of the same plan shape validates the aggregation logic
    val events = Seq(
      (1, java.sql.Timestamp.valueOf("2024-06-25 10:05:00")),
      (2, java.sql.Timestamp.valueOf("2024-06-25 10:55:00")),
      (1, java.sql.Timestamp.valueOf("2024-06-25 11:05:00"))
    ).toDF("user_id", "listen_time")
    val out = StreamingKpis.windowedHourlyKpis(events, "listen_time", "user_id")
      .collect().map(r => r.getAs[java.sql.Timestamp]("hour_start").toString ->
        (r.getAs[Long]("unique_listeners"), r.getAs[Long]("listen_count"))).toMap
    assert(out("2024-06-25 10:00:00.0") == ((2L, 2L)))
    assert(out("2024-06-25 11:00:00.0") == ((1L, 1L)))
  }

  test("intervalJoinStream joins two live streams within the time bound across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-06-25 10:$m%02d:00")
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingKpis.intervalJoinStream(
      clicks.toDF.toDF("c_user", "c_ts"), buys.toDF.toDF("b_user", "b_ts"),
      "c_user", "b_user", "c_ts", "b_ts", delta = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("stream_ij")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(0)), (1L, ts(30)), (2L, ts(5)))
      buys.addData((1L, ts(8))) // within 10m of click@0, not of click@30
      q.processAllAvailable()
      // a later micro-batch joins against buffered left state
      buys.addData((1L, ts(25)), (2L, ts(45))) // 25 within 10m of 30; 45 matches nothing
      q.processAllAvailable()
      val rows = spark.table("stream_ij").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(11, 16),
          r.getTimestamp(3).toString.substring(11, 16))).toSet
      assert(rows == Set(
        (1L, "10:00", "10:08"),
        (1L, "10:30", "10:25")))
    } finally q.stop()
  }

  test("intervalJoinStreamLeftOuter emits null-padded rows once the watermark closes the window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-06-25 $h%02d:$m%02d:00")
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingKpis.intervalJoinStreamLeftOuter(
      clicks.toDF.toDF("c_user", "c_ts"), buys.toDF.toDF("b_user", "b_ts"),
      "c_user", "b_user", "c_ts", "b_ts",
      delta = "10 minutes", lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("stream_loj")
      .outputMode("append").start()
    try {
      // user 1 converts inside the window; user 2 never does
      clicks.addData((1L, ts(10, 0)), (2L, ts(10, 0)))
      buys.addData((1L, ts(10, 8)))
      q.processAllAvailable()
      // matched row emits promptly; the unmatched row must NOT emit yet —
      // a matching buy could still arrive until the watermark passes
      // c_ts + delta + lateness
      val early = spark.table("stream_loj").collect()
      assert(early.forall(r => !r.isNullAt(2)),
        s"unmatched left must be held while its window is open, saw ${early.toSeq}")
      // advance both watermarks far past the window on both sides
      clicks.addData((9L, ts(12, 0)))
      buys.addData((9L, ts(12, 0)))
      q.processAllAvailable()
      clicks.addData((9L, ts(12, 30)))
      buys.addData((9L, ts(12, 30)))
      q.processAllAvailable()
      val rows = spark.table("stream_loj").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(11, 16),
          if (r.isNullAt(2)) "none" else r.getTimestamp(3).toString.substring(11, 16)))
        .toSet
      assert(rows.contains((1L, "10:00", "10:08")), s"matched row missing from $rows")
      assert(rows.contains((2L, "10:00", "none")),
        s"watermark-expired unmatched left must emit null-padded, saw $rows")
    } finally q.stop()
  }

  test("intervalJoinStreamFullOuter emits BOTH sides' orphans null-padded after closure") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-06-25 $h%02d:$m%02d:00")
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingKpis.intervalJoinStreamFullOuter(
      clicks.toDF.toDF("c_user", "c_ts"), buys.toDF.toDF("b_user", "b_ts"),
      "c_user", "b_user", "c_ts", "b_ts",
      delta = "10 minutes", lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("stream_foj")
      .outputMode("append").start()
    try {
      // user 1 matches; user 2 clicks and never buys; user 3 buys with no click
      clicks.addData((1L, ts(10, 0)), (2L, ts(10, 0)))
      buys.addData((1L, ts(10, 8)), (3L, ts(10, 2)))
      q.processAllAvailable()
      // advance both watermarks far past every window
      clicks.addData((9L, ts(12, 0)))
      buys.addData((9L, ts(12, 0)))
      q.processAllAvailable()
      clicks.addData((9L, ts(12, 30)))
      buys.addData((9L, ts(12, 30)))
      q.processAllAvailable()
      val rows = spark.table("stream_foj").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows.contains((1L, 1L)), s"matched pair missing from $rows")
      assert(rows.contains((2L, -1L)), s"left orphan must emit null-padded: $rows")
      assert(rows.contains((-1L, 3L)), s"right orphan must emit null-padded: $rows")
    } finally q.stop()
  }

  test("streaming EWMA maintenance: foreachBatch partials merge equals batch recompute") {
    // the ewmaPartials merge law (ResampleSpec) driven through the REAL
    // Structured Streaming path: each micro-batch's partials are re-summed
    // into a snapshot table; after 3 batches the snapshot must equal the
    // batch-mode partials over everything seen.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, sum => ssum}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def d(day: Int) = java.sql.Date.valueOf(f"2024-03-$day%02d")
    val batches = Seq(
      Seq(("a", d(1), 10L), ("a", d(2), 20L), ("b", d(1), 5L)),
      Seq(("a", d(3), 40L), ("b", d(4), 7L)),          // crosses a's window seam
      Seq(("a", d(2), 2L), ("b", d(9), 1L)))           // late data for an old day
    val input = MemoryStream[(String, java.sql.Date, Long)]
    var snapshot: Seq[(String, java.sql.Date, Long, Long)] = Nil
    val q = input.toDS.toDF("k", "day", "x").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val p = graft.operators.Resample
          .ewmaPartials(batch, Seq("k"), "day", "x", window = 3)
        val merged = p.unionByName(
            snapshot.toDF("k", "__anchor", "__num", "__den"))
          .groupBy(col("k"), col("__anchor"))
          .agg(ssum(col("__num")).as("__num"), ssum(col("__den")).as("__den"))
        snapshot = merged.as[(String, java.sql.Date, Long, Long)].collect().toSeq
        ()
      }
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val all = batches.flatten.toDF("k", "day", "x")
    val expected = graft.operators.Resample
      .ewmaPartials(all, Seq("k"), "day", "x", window = 3)
      .as[(String, java.sql.Date, Long, Long)].collect()
    assert(snapshot.toSet == expected.toSet)
    assert(snapshot.nonEmpty)
  }
}
