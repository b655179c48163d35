package etlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.GraftSession
import graft.etl.{MusicKpis, MusicPipeline, PipelineConfig}
import graft.io.{Sinks, Sources}
import graft.operators.GroupTop
import graft.pipeline.{Pipeline, Stage}
import graft.quality.{Checks, InRange, NoNulls, NotEmpty}
import graft.streaming.VersionedSnapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Measurement side of the benchmark: one JVM, one session, one client in
  * a closed loop (the next operation starts when the previous returns).
  *
  *   etlbench.Main workload=<name> data=<dir> out=<dir> seconds=<n>
  *                 trace=<0|1> result=<file>
  *
  * Prints `READY` once the session is up (the launcher times process
  * launch to that line), runs the workload's first operation, then its
  * settling operations and [[ops]]`(seconds)` measured ones, and writes the raw samples as one JSON object
  * to `result`. Metrics, medians and the
  * output checks are computed by `run.py`. `workload=setup` exits right
  * after `READY`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spark = GraftSession.local(4, "etlbench")
    spark.sparkContext.setLogLevel("WARN")
    println("READY")
    System.out.flush()
    try {
      val workload = args("workload")
      if (workload != "setup") {
        val tracer = new Tracer(spark.sparkContext, args("trace") == "1")
        val res = new Result
        val n = ops(args("seconds").toDouble)
        workload match {
          case "pipeline_hourly" =>
            new PipelineLoop(spark, args("data"), args("out"), tracer, res).run(n)
          case "snapshot_upsert" =>
            new SnapshotLoop(spark, args("data"), args("out"), tracer, res).run(n)
        }
        res.put("rss_hwm_kb", rssHwmKb())
        if (tracer.enabled) res.put("spans", tracer.dump())
        Files.write(Paths.get(args("result")), res.json.getBytes(StandardCharsets.UTF_8))
      }
    } finally spark.stop()
  }

  /** Peak resident set of this process (Linux `VmHWM`). */
  private def rssHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** In a traced pass, whether operation `i` is traced: U T T U from
    * operation 1 on, so a steady drift (JIT warm-up) weighs equally on both
    * sides of the tracing overhead. Operation 0, still far up the warm-up
    * curve, is untraced and left out of the comparison. */
  def tracedTurn(t: Tracer, i: Int): Boolean = t.enabled && (i % 4 == 2 || i % 4 == 3)

  /** Measured warm operations: one per 4 s of `seconds` (5 at 20 s), and
    * at least 4. They follow a workload's settling operations, which still
    * sit on the JIT warm-up slope and are recorded apart (`settle_s`). A
    * fixed count rather than a deadline: on a slower machine a deadline
    * admits fewer samples, which moves the median up the warm-up curve and
    * adds to the slowdown; a count keeps the same samples, and the same
    * work on both sides of a comparison. */
  def ops(seconds: Double): Int = math.max(4, math.round(seconds / 4.0).toInt)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Regular files under `dir`, recursively, with their attributes. */
  def listFiles(dir: String): Seq[(Path, BasicFileAttributes)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.map(p => p -> Files.readAttributes(p, classOf[BasicFileAttributes]))
        .filter(_._2.isRegularFile).toList
      finally s.close()
    }
  }
}

/** Raw samples, serialised as a flat JSON object. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  private val lists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  var attempted = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** `v` goes in as its `toString`, so a JSON fragment goes in as is. */
  def put(k: String, v: Any): Unit = fields(k) = v.toString
  def add(k: String, v: Any): Unit = lists.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v.toString

  /** Run `op` as one attempted operation; a throw counts as failed. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch { case NonFatal(e) => errors += s"$what: $e"; None }
  }

  def json: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val all = fields.toSeq ++ lists.toSeq.map { case (k, v) => k -> v.mkString("[", ",", "]") } ++
      Seq("attempted" -> attempted.toString,
        "errors" -> errors.map(str).mkString("[", ",", "]"))
    all.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",\n", "}")
  }
}

/** `MusicPipeline.run` back to back over one generated snapshot.
  *
  * Untraced: the first run is `first_s`, the [[Settle]] runs after it
  * `settle_s` samples, and each of the `ops` runs after those a `run_s`
  * sample. Traced: runs alternate (see
  * [[Main.tracedTurn]]) between the untraced entry point (`untraced_s`,
  * output under `out/untraced`) and [[tracedRun]] (`traced_s`, output
  * under `out/traced`), whose outputs must be byte-identical. */
final class PipelineLoop(spark: SparkSession, data: String, out: String,
    t: Tracer, res: Result) {

  private def cfg(dir: String) = PipelineConfig(
    usersPath = s"$data/users.csv", songsPath = s"$data/songs.csv",
    streamsGlob = s"$data/streams/*.csv",
    genreKpisOut = s"$dir/genre_kpis", hourlyKpisOut = s"$dir/hourly_kpis")

  /** Warm runs left out of `run_s`: a warm run falls from about 5.2 s to
    * 3.6 s over the first two (NOTES.md, Warm-up). */
  val Settle = 2

  def run(ops: Int): Unit = {
    val plain = cfg(if (t.enabled) s"$out/untraced" else out)
    val t0 = System.nanoTime()
    res.attempt("first run")(MusicPipeline.run(spark, plain))
    res.put("first_s", Main.secondsSince(t0))
    for (i <- 0 until Settle + ops) {
      val traced = Main.tracedTurn(t, i)
      t.run = i
      val s = System.nanoTime()
      res.attempt(s"run $i") {
        if (traced) tracedRun(cfg(s"$out/traced")) else MusicPipeline.run(spark, plain)
      }.foreach { _ =>
        if (!t.enabled) res.add(if (i < Settle) "settle_s" else "run_s", Main.secondsSince(s))
        else if (i > 0) res.add(if (traced) "traced_s" else "untraced_s", Main.secondsSince(s))
      }
      if (traced) res.add("load_files", Seq("genre_kpis", "hourly_kpis")
        .map(d => Main.listFiles(s"$out/traced/$d").size).sum)
    }
  }

  /** The five stages of `MusicPipeline.run`, composed through the same
    * `Pipeline.run` with the same names, retries and load timeouts, with a
    * span around each layer call. Lazy layers are forced by a noop write
    * inside their span so their cost lands there: the three source scans
    * (`io.extract`), the cached enrichment (`etl.enrich`), both KPI plans
    * and the two `GroupTop` kernels on their own. */
  private def tracedRun(c: PipelineConfig): Unit = {
    val (users, songs, streams) = t.span("io.extract") {
      val u = Sources.users(spark, c.usersPath)
      val s = Sources.songs(spark, c.songsPath)
      val e = Sources.streams(spark, c.streamsGlob)
      Seq(u, s, e).foreach(Main.noop)
      (u, s, e)
    }
    val enriched = t.span("etl.enrich") {
      val e = MusicKpis.enrich(streams, songs, "track_id", users, "user_id", "listen_time").cache()
      Main.noop(e)
      e
    }
    var genre: DataFrame = null
    var hourly: DataFrame = null
    def stage(name: String, timeoutMs: Long = 0L)(body: => Unit) =
      Stage(name, () => t.span("pipeline.stage")(body), timeoutMs)
    val stages = Seq(
      stage("validate_data")(t.span("quality.validate_data") {
        Checks.run(users, Seq(NotEmpty, NoNulls(Seq("user_id")))).enforce()
        Checks.run(songs, Seq(NotEmpty, NoNulls(Seq("track_id")))).enforce()
        Checks.run(streams,
          Seq(NotEmpty, NoNulls(Seq("user_id", "track_id", "listen_time")))).enforce()
      }),
      stage("compute_kpis") {
        genre = t.span("etl.genre_kpis") {
          val g = MusicKpis.genreKpis(enriched, genreCol = "track_genre",
            countCol = "track_id", avgCol = "duration_ms", modeCol = "track_name",
            modeOut = "most_popular_track")
          Main.noop(g)
          g
        }
        hourly = t.span("etl.hourly_kpis") {
          val h = MusicKpis.hourlyKpis(enriched, userCol = "user_id",
            artistCol = "artists", trackCol = "track_id", k = c.topK)
          Main.noop(h)
          h
        }
        t.span("operators.mode")(Main.noop(GroupTop.mode(enriched,
          Seq("track_genre", "date"), "track_name", "most_popular_track")))
        t.span("operators.topk")(Main.noop(GroupTop.topK(enriched,
          Seq("hour"), "artists", c.topK, "top_artists")))
      },
      stage("validate_kpis")(t.span("quality.validate_kpis") {
        Checks.run(genre, Seq(NotEmpty, NoNulls(Seq("listen_count")))).enforce()
        Checks.run(hourly, Seq(
          NotEmpty, NoNulls(Seq("unique_listeners")), InRange("hour", 0, 23))).enforce()
      }),
      stage("load_genre_kpis", c.loadTimeoutMs)(t.span("io.load")(
        Sinks.csv(genre, c.genreKpisOut, c.singleFileOutput))),
      stage("load_hourly_kpis", c.loadTimeoutMs)(t.span("io.load")(
        Sinks.csv(Sinks.serializeArray(hourly, "top_artists"),
          c.hourlyKpisOut, c.singleFileOutput))))
    try t.span("pipeline.run")(Pipeline.run(stages, c.retries))
    finally enriched.unpersist()
  }
}

/** Incremental maintenance of a user-keyed `VersionedSnapshot` table.
  *
  * The initial load (`first_s`) and the replica bootstrap come first.
  * Each cycle then upserts one hourly batch (`mergeInto`, update matched
  * + insert), syncs the replica, reads the whole table into a noop sink
  * and looks up a fixed set of 199 keys; every 5th cycle (the fourth, the
  * ninth, ...) also compacts and syncs again. The first [[Settle]] cycles
  * are `settle_s` samples, the rest `cycle_s` samples; at the default
  * 20 s those are the 8th to the 12th, and they hold one compaction. The replica is synced after every
  * version-producing call: at `retain = 2` a compaction between two syncs
  * retires the version the replica still needs and the sync throws
  * `CdfHorizonLost`. A traced pass traces the cycles [[Main.tracedTurn]]
  * picks, and those include the first compacting one (the fourth). */
final class SnapshotLoop(spark: SparkSession, data: String, out: String,
    t: Tracer, res: Result) {
  private val VS = VersionedSnapshot
  private val table = s"$out/table"
  private val replica = s"$out/replica"
  private val keys = Seq("user_id")
  private val schema = StructType(Seq(
    StructField("user_id", IntegerType), StructField("track_id", StringType),
    StructField("listen_time", TimestampType), StructField("plays", IntegerType)))
  private val Retain = 2
  private val Buckets = 8
  private val LookupKeys = 199
  private val CompactEvery = 5
  /** Cycles left out of `cycle_s`: a cycle falls from about 9 s to a
    * plateau near 2.5 s over about eight (NOTES.md, Warm-up). */
  val Settle = 7

  /** Every file ever seen under the table dir, by identity, for the
    * exact count of bytes the cycles write (write amplification is those
    * bytes per byte of the batches they upsert). */
  private val seen = mutable.Set.empty[(String, AnyRef, Long, Long)]
  private var bytesWritten = 0L

  /** Record files new since the last call; returns how many. */
  private def ledger(): Int = {
    val fresh = Main.listFiles(table).map { case (p, a) =>
      (p.toString, a.fileKey(), a.size(), a.lastModifiedTime().toMillis)
    }.filterNot(seen.contains)
    seen ++= fresh
    bytesWritten += fresh.map(_._3).sum
    fresh.size
  }

  def run(ops: Int): Unit = {
    val lookupKeys = spark.range(LookupKeys)
      .select((col("id") * 251 + 1).cast("int").as("user_id"))
    var sourceBytes = 0L
    def source(path: String) = Sources.csv(spark, schema, path)
    def sync(ckpt: String) =
      VS.replicateTo(spark, table, replica, keys, ckpt, retain = Retain, numBuckets = Buckets)
    val ckpt = s"$out/replica_ckpt"

    val t0 = System.nanoTime()
    val ok = res.attempt("initial load")(VS.mergeInto(table, source(s"$data/initial.csv"),
      keys, VS.UpdateMatched, insertUnmatched = true, marker = "initial",
      retain = Retain, numBuckets = Buckets)).isDefined
    res.put("first_s", Main.secondsSince(t0))
    var alive = ok && res.attempt("replica bootstrap")(sync(ckpt)).isDefined
    ledger()
    bytesWritten = 0L
    val batches = Main.listFiles(s"$data/batches").map(_._1.toString).sorted
    var i = 0
    while (alive && i < (Settle + ops).min(batches.size)) {
      val traced = Main.tracedTurn(t, i)
      val compacting = i % CompactEvery == 3
      t.run = i
      var cycleMs = 0.0
      def step(what: String, key: String, span: String)(op: => Unit): Unit =
        if (alive) res.attempt(s"$what (cycle $i)") {
          val s = System.nanoTime()
          if (traced) t.span(span)(op) else op
          val ms = (System.nanoTime() - s) / 1e6
          res.add(key, ms)
          cycleMs += ms
        }.getOrElse { alive = false }
      step("merge", "commit_ms", "streaming.merge")(VS.mergeInto(table, source(batches(i)),
        keys, VS.UpdateMatched, insertUnmatched = true, marker = s"batch-$i",
        retain = Retain, numBuckets = Buckets))
      sourceBytes += Files.size(Paths.get(batches(i)))
      res.add("files_written", ledger())
      res.add("meta_files", VS.currentVersion(spark, table).map { v =>
        Main.listFiles(f"$table/v$v%05d").count(!_._1.toString.endsWith(".parquet"))
      }.getOrElse(0))
      step("replicate", "replicate_ms", "streaming.replicate")(sync(ckpt))
      val beforeCompaction = cycleMs
      if (compacting) {
        step("compact", "commit_ms", "streaming.compact")(VS.compact(spark, table, keys,
          marker = s"compact-$i", retain = Retain))
        ledger()
        step("replicate", "replicate_ms", "streaming.replicate")(sync(ckpt))
      }
      step("read", "read_ms", "streaming.read")(Main.noop(VS.read(spark, table).get))
      step("lookup", "lookup_ms", "streaming.lookup")(
        Main.noop(VS.readForKeys(spark, table, lookupKeys).get))
      val compactionMs = cycleMs - beforeCompaction
      if (alive && !t.enabled) res.add(if (i < Settle) "settle_s" else "cycle_s", cycleMs / 1e3)
      // the tracing overhead compares like with like: cycles less their compaction
      if (alive && t.enabled && i > 0)
        res.add(if (traced) "traced_s" else "untraced_s", (cycleMs - compactionMs) / 1e3)
      i += 1
    }
    res.put("batches_applied", i)
    res.put("lookup_keys", LookupKeys)
    res.put("source_bytes", sourceBytes)
    res.put("bytes_written", bytesWritten)
    // outputs for the checks, and the space baseline: the live rows
    // written once as one plain parquet file
    val fmt = "yyyy-MM-dd HH:mm:ss"
    for ((name, dir) <- Seq("table" -> table, "replica" -> replica))
      res.attempt(s"export $name")(VS.read(spark, dir).get.coalesce(1).write
        .option("header", "true").option("timestampFormat", fmt).csv(s"$out/export_$name"))
    res.attempt("plain copy")(VS.read(spark, table).get.coalesce(1).write.parquet(s"$out/plain"))
    res.put("table_bytes", Main.listFiles(table).map(_._2.size()).sum)
    res.put("plain_bytes", Main.listFiles(s"$out/plain").filter(_._1.toString.endsWith(".parquet"))
      .map(_._2.size()).sum)
  }
}
