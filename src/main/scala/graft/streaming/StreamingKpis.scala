package graft.streaming

import graft.etl.MusicKpis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming variant of the reference pipeline (SURVEY.md §2.11).
  *
  * The reference's "streaming" is an hourly batch re-extract + full
  * recompute + overwrite (`/root/reference/dags/music_streaming_etl_dags
  * .py:349`, `:253-257`, `:325-328`). Three faithful incremental forms:
  *
  *  1. [[foreachBatchOverwrite]] — file-source stream, per-batch FULL
  *     recompute of the tiny KPI relations, overwrite sink. Exact parity
  *     with the reference's whole-snapshot semantics; correct because both
  *     KPI keyspaces are small (genres×dates, 24 hours).
  *  2. [[windowedHourlyKpis]] — the idiomatic engine extension: event-time
  *     tumbling window + watermark, append mode, explicit late-data policy
  *     (the reference has none — late events are silently absorbed by the
  *     next full recompute).
  *  3. [[VersionedSnapshot.sink]] — each micro-batch's mergeable partials
  *     merged into a persistent keyed snapshot and published through an
  *     atomic pointer commit, effectively once per checkpoint lineage:
  *     per-batch work follows the batch, not the history.
  *
  * At scale: the streaming aggregations keyed on (genre,date) / hour carry
  * bounded state (small keyspace); the watermark bounds state for the
  * windowed form. approx_count_distinct is used in the windowed variant
  * because exact distinct over an unbounded stream requires per-key value
  * state — the documented trade (reference is exact; parity mode 1 stays
  * exact because it recomputes from files).
  *
  * Model: Armbrust et al., "Structured Streaming: A Declarative API for
  * Real-Time Applications in Apache Spark" (SIGMOD 2018).
  */
object StreamingKpis {

  /** File-source stream with a declared schema (no inference on streams).
    *
    * `maxFilesPerTrigger` bounds per-batch work for the incremental
    * consumers (windowed/sessionized); leave it 0 (unbounded) when feeding
    * [[foreachBatchOverwrite]] — full-refresh parity requires the whole
    * available snapshot in ONE batch, or each batch would overwrite the
    * sinks with only its own slice. */
  def fileStream(spark: SparkSession, schema: StructType, path: String,
      format: String = "csv", maxFilesPerTrigger: Int = 0): DataFrame = {
    val r0 = spark.readStream.schema(schema)
    val r = if (maxFilesPerTrigger > 0)
      r0.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else r0
    (format match {
      case "csv" => r.option("header", "true").option("nullValue", "").csv(path)
      case "parquet" => r.parquet(path)
      case other => throw new IllegalArgumentException(s"unsupported stream format $other")
    })
  }

  /** Parity mode: every micro-batch recomputes both KPI tables over the
    * accumulated snapshot and overwrites the sinks — foreachBatch is the
    * streaming home of full-refresh semantics. `snapshot` recomputes from
    * the batch union the caller maintains (here: the raw batch itself when
    * used with `Trigger.AvailableNow` over a growing directory). */
  def foreachBatchOverwrite(
      enrichedStream: DataFrame,
      genreOut: String,
      hourlyOut: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    MicroBatch.drain(enrichedStream, checkpoint) { (batch, _) =>
      val genre = MusicKpis.genreKpis(batch,
        genreCol = "track_genre", countCol = "track_id",
        avgCol = "duration_ms", modeCol = "track_name",
        modeOut = "most_popular_track")
      val hourly = MusicKpis.hourlyKpis(batch,
        userCol = "user_id", artistCol = "artists", trackCol = "track_id")
      graft.io.Sinks.parquet(genre, genreOut)
      graft.io.Sinks.parquet(graft.io.Sinks.serializeArray(hourly, "top_artists"), hourlyOut)
    }

  /** Idiomatic extension: tumbling 1h event-time window + watermark.
    * Emits (window, unique_listeners≈, listen_count) per hour once the
    * watermark passes — late rows beyond `lateness` are dropped
    * (explicit policy; the reference has none). */
  def windowedHourlyKpis(
      events: DataFrame, tsCol: String, userCol: String,
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(
        approx_count_distinct(userCol).as("unique_listeners"),
        count(lit(1)).as("listen_count"))
      .select(
        col("window.start").as("hour_start"),
        col("unique_listeners"), col("listen_count"))

  /** Custom-state sessionization over a stream:
    * flatMapGroupsWithState-based gap sessions (30 min inactivity), the
    * streaming analog of the batch `sessionize` query.
    *
    * Correct under OUT-OF-ORDER arrival within the watermark: events are
    * buffered in state until the watermark passes them, then folded into
    * the finalized count in event-time order — an event delivered by a
    * later micro-batch but earlier in event time sorts into place before
    * it is ever counted, so cross-batch reordering cannot split or merge
    * sessions incorrectly. Rows older than the watermark never reach the
    * operator (Spark's late-row filter — the explicit lateness policy).
    * Each emission is the count as if the stream ended now (finalized +
    * provisional over the buffer).
    *
    * State per user is (finalized count, last finalized ts, pending times);
    * pending is bounded by the watermark horizon. Eviction is real: the
    * event-time timeout is re-armed every invocation to (newest event +
    * gap); when it fires the remaining buffer is folded, a final count is
    * emitted if the buffer held anything, and the state is removed. */
  def sessionCounts(spark: SparkSession, events: DataFrame, tsCol: String, userCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val GapMs = 30 * 60 * 1000L
    val typed = events
      .select(col(userCol).cast("long").as("user"), col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", "1 hour")
      .as[(Long, java.sql.Timestamp)]
    // fold ASCENDING event times into (sessions, lastTs); sentinel check
    // first — t - Long.MinValue overflows
    def fold(times: Seq[Long], s0: Long, last0: Long): (Long, Long) =
      times.foldLeft((s0, last0)) { case ((s, last), t) =>
        if (last == Long.MinValue || t - last > GapMs) (s + 1, t) else (s, t)
      }
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Seq[Long]), (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          val (sessions, lastTs, pending) =
            state.getOption.getOrElse((0L, Long.MinValue, Seq.empty[Long]))
          if (state.hasTimedOut) {
            // watermark passed (newest + gap): fold what's left and evict
            val (finalSessions, _) = fold(pending.sorted, sessions, lastTs)
            state.remove()
            if (pending.nonEmpty) Iterator.single((user, finalSessions)) else Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val buffered = pending ++ rows.map(_._2.getTime)
            // the watermark has sealed everything ≤ wm: no future row can
            // sort before these, so they are safe to finalize
            val (ripe, hold) = buffered.partition(_ <= wm)
            val (s1, l1) = fold(ripe.sorted, sessions, lastTs)
            state.update((s1, l1, hold))
            // newest event seen (hold is nonempty whenever l1 is the
            // MinValue sentinel — a row is either ripe or held)
            val newest = (hold :+ l1).max
            state.setTimeoutTimestamp(math.max(newest + GapMs, wm + 1))
            val (provisional, _) = fold(hold.sorted, s1, l1)
            Iterator.single((user, provisional))
          }
      }
      .toDF("user_id", "n_sessions")
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` keyed on the
    * given columns — the streaming face of [[graft.operators.Dedup]]'s
    * exact dedup. A duplicate arriving within the watermark window is
    * dropped even when it lands in a later micro-batch; per-key state is
    * evicted as the watermark passes, so the state store stays bounded by
    * the horizon rather than the (unbounded) keyspace — the reason this
    * beats plain `dropDuplicates` on a 100 TB/day stream. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(keyCols)

  /** Streaming complex-event-pattern detection — the CEP "strict
    * contiguity" shape (Flink CEP's `next()` chain) on Spark: per key,
    * emit one row for every place the per-key event sequence, in
    * EVENT-TIME order, contains the `pattern` event types CONSECUTIVELY
    * with every adjacent gap ≤ `maxGapMs`.
    *
    * Detections emit only once the watermark has SEALED the events
    * involved, so a detection is never wrong and never retracted (what
    * append mode promises): an out-of-order event arriving within the
    * watermark sorts into place before the matcher ever sees that span —
    * a processing-order DFA would both miss real matches and emit false
    * ones there. Per key, state = (tail: the last pattern.length−1
    * sealed events — all a future event can chain onto — and the
    * unsealed buffer, bounded by the watermark horizon). Eviction is
    * real: the event-time timeout re-arms to newest + maxGap; when it
    * fires, any future event's time exceeds the watermark ≥ newest +
    * maxGap, so nothing can chain across it — the remaining buffer
    * folds, final detections emit, and the state is removed. */
  def detectPattern(spark: SparkSession, events: DataFrame, tsCol: String,
      keyCol: String, typeCol: String, pattern: Seq[String],
      maxGapMs: Long, lateness: String = "1 hour"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    require(pattern.nonEmpty, "pattern must be non-empty")
    require(maxGapMs > 0, s"maxGapMs must be positive, got $maxGapMs")
    val pat = pattern.toIndexedSeq
    val typed = events
      // null keys/timestamps cannot join a per-key pattern; dropping them
      // here (as every batch consumer of the events table does) beats the
      // alternative — deserialization into the non-nullable tuple field
      // would fail the micro-batch and kill the query
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("long").as("k"),
        col(tsCol).cast("timestamp").as("ts"),
        col(typeCol).cast("string").as("t"))
      .withWatermark("ts", lateness)
      .as[(Long, java.sql.Timestamp, String)]
    // feed sealed events (event-time order) after the retained tail;
    // windows ending at a NEW position are checked (tail-only windows
    // already emitted last time); returns (detection end-times, new tail)
    def run(tail: Seq[(Long, String)], ripe: Seq[(Long, String)]):
        (Seq[Long], Seq[(Long, String)]) = {
      val all = (tail ++ ripe).toIndexedSeq
      val hits = for {
        e <- tail.length until all.length
        s = e - pat.length + 1
        if s >= 0 &&
          (s to e).forall(i => all(i)._2 == pat(i - s)) &&
          (s until e).forall(i => all(i + 1)._1 - all(i)._1 <= maxGapMs)
      } yield all(e)._1
      (hits, all.takeRight(pat.length - 1))
    }
    val ord = Ordering.Tuple2(Ordering.Long, Ordering.String)
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[
          (Seq[(Long, String)], Seq[(Long, String)]), (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state) =>
          val (tail, pending) =
            state.getOption.getOrElse((Seq.empty[(Long, String)], Seq.empty[(Long, String)]))
          if (state.hasTimedOut) {
            // wm ≥ newest + maxGap ≥ every pending time: all sealed
            val (hits, _) = run(tail, pending.sorted(ord))
            state.remove()
            hits.iterator.map(key -> _)
          } else {
            val wm = state.getCurrentWatermarkMs()
            val buffered = pending ++ rows.map(r => (r._2.getTime, r._3))
            val (ripe, hold) = buffered.partition(_._1 <= wm)
            val (hits, tail1) = run(tail, ripe.sorted(ord))
            state.update((tail1, hold))
            val newest = (hold.map(_._1) ++ tail1.map(_._1)).foldLeft(wm)(math.max)
            state.setTimeoutTimestamp(math.max(newest + maxGapMs, wm + 1))
            hits.iterator.map(key -> _)
          }
      }
      .map { case (k, t) => (k, new java.sql.Timestamp(t)) }
      .toDF("key", "pattern_end_ts")
  }

  /** Streaming as-of enrichment — the streaming face of
    * [[graft.operators.AsOf]]'s backward join: each EVENT is matched with
    * its key's latest UPDATE at-or-before the event's time (temporal
    * "state of the dimension when this happened"). A plain stream-stream
    * join cannot express this (the match is an argmax over time, not a
    * bracket), and a static-table join would freeze the dimension.
    *
    * Same tag-union trick as the batch operator, then per-key
    * flatMapGroupsWithState: both sides buffer in state until the
    * WATERMARK passes an event's timestamp — at that point every update
    * at-or-before that event has either arrived or is late beyond the
    * horizon, so the emitted match is FINAL and deterministic under
    * arbitrary within-watermark reordering (a late-but-in-horizon update
    * arriving after the event still wins — spec'd). Late-beyond-watermark
    * rows are dropped by Spark's filter: the explicit lateness policy.
    *
    * State is bounded two ways: events are held at most the watermark
    * horizon; updates COMPACT to one anchor at-or-below the watermark
    * (older ones can never win another match) plus those above it. The
    * event-time timeout re-arms at wm+1 so a key with no new traffic
    * still flushes as the watermark advances, and state is removed once
    * both buffers drain. Updates must be unique per (key, ts) — on
    * collision the greater value wins (deterministic), matching
    * [[graft.operators.AsOf.latestPerKeyTs]] discipline.
    *
    * Watermarks must already be set on BOTH inputs (per-input watermarks
    * make the stateful operator use their MIN, so one fast side cannot
    * fast-forward drops on the slow side). Expected columns:
    * events(key, ts, event_id), updates(key, ts, value). */
  def asOfEnrichStream(spark: SparkSession,
      events: DataFrame, updates: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // NOTE: `ts` passes through UNCAST — a cast would strip the eventTime
    // watermark metadata and EventTimeTimeout would refuse the plan
    val tagged = events
      .select(col("key").cast("long"), col("ts"),
        lit(0).as("side"), col("event_id").cast("long"),
        lit(0.0).as("value"))
      .unionByName(updates.select(col("key").cast("long"),
        col("ts"), lit(1).as("side"),
        lit(0L).as("event_id"), col("value").cast("double")))
      .as[(Long, java.sql.Timestamp, Int, Long, Double)]
    // state: (event buffer (ts,id), update buffer (ts,value))
    tagged
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Seq[(Long, Long)], Seq[(Long, Double)]),
        (Long, Long, Long, Option[Double])](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state) =>
          val (ev0, up0) = state.getOption.getOrElse(
            (Seq.empty[(Long, Long)], Seq.empty[(Long, Double)]))
          // fold new arrivals in (updates dedupe per ts, greater value wins)
          var ev = ev0
          var upMap = up0.toMap
          rows.foreach { case (_, ts, side, id, v) =>
            if (side == 0) ev = ev :+ (ts.getTime, id)
            else upMap += (ts.getTime ->
              math.max(v, upMap.getOrElse(ts.getTime, Double.NegativeInfinity)))
          }
          val wm = state.getCurrentWatermarkMs()
          val ups = upMap.toSeq.sortBy(_._1)
          // events sealed by the watermark: their match set is complete
          val (ripe, hold) = ev.partition(_._1 <= wm)
          val out = ripe.sortBy(e => (e._1, e._2)).map { case (t, id) =>
            val m = ups.takeWhile(_._1 <= t).lastOption
            (key, id, t, m.map(_._2))
          }
          // compact updates: newest anchor ≤ wm + everything above it
          val anchor = ups.takeWhile(_._1 <= wm).lastOption
          val kept = anchor.toSeq ++ ups.dropWhile(_._1 <= wm)
          if (hold.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update((hold, kept))
            state.setTimeoutTimestamp(wm + 1) // flush as the watermark moves
          }
          out.iterator
      }
      .map { (r: (Long, Long, Long, Option[Double])) =>
        (r._1, r._2, new java.sql.Timestamp(r._3),
          r._4.getOrElse(Double.NaN), r._4.isDefined) }
      .toDF("key", "event_id", "ts", "value", "matched")
  }

  /** Stream-stream interval join — the streaming face of
    * [[graft.operators.Interval.joinWithin]]: rows join when keys match AND
    * the right timestamp lies within ±`delta` of the left one. Both sides
    * carry watermarks and the join condition brackets the right timestamp
    * with BOTH bounds, which is what lets Spark derive a state-eviction
    * horizon: buffered rows older than watermark + delta are dropped, so
    * join state is bounded by the (watermark + delta) window instead of
    * growing with the stream. Without the two-sided time bound a
    * stream-stream inner join must keep EVERY past row — unrunnable on an
    * unbounded stream; this operator makes the bound part of the API.
    *
    * Column names must be disjoint between the sides (rename before
    * joining); `delta` and `lateness` are SQL interval strings. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      delta: String = "30 minutes", lateness: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
         |$rightTs BETWEEN $leftTs - INTERVAL $delta AND $leftTs + INTERVAL $delta
         |""".stripMargin), joinType)
  }

  /** [[intervalJoinStream]] with `leftOuter` semantics — every left row
    * eventually emits: joined when a right row lands in its ±`delta`
    * window, null-padded otherwise. The outer result for an unmatched
    * left row CANNOT emit when the row arrives (a matching right row may
    * still come); it emits only once BOTH watermarks have passed the
    * row's join window, i.e. the engine has proof no match can arrive.
    * That deferred emission is the semantic difference from a batch left
    * join, and why the two-sided time bound is mandatory here: it is
    * what bounds the wait (and the buffered state) — without it the
    * "no match can arrive" proof never obtains and unmatched rows would
    * be held forever. Use for conversion funnels where the absence of a
    * follow-up event within the window is itself the signal. */
  def intervalJoinStreamLeftOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      delta: String = "30 minutes", lateness: String = "1 hour"): DataFrame =
    intervalJoinStream(left, right, leftKey, rightKey, leftTs, rightTs,
      delta, lateness, joinType = "leftOuter")

  /** [[intervalJoinStream]] with `fullOuter` semantics — BOTH sides'
    * unmatched rows eventually emit null-padded, each once its own join
    * window is provably closed by the opposite watermark (the same
    * deferred-emission argument as [[intervalJoinStreamLeftOuter]],
    * applied symmetrically). The reconciliation-report shape: "every
    * click AND every purchase, matched where possible" — what an audit
    * needs when orphans on either side are findings, not noise. */
  def intervalJoinStreamFullOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      delta: String = "30 minutes", lateness: String = "1 hour"): DataFrame =
    intervalJoinStream(left, right, leftKey, rightKey, leftTs, rightTs,
      delta, lateness, joinType = "fullOuter")
}
