package graft.etl

import graft.io.{Sinks, Sources}
import graft.pipeline.{Pipeline, Stage}
import graft.quality.{Checks, InRange, NoNulls, NotEmpty}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference DAG end-to-end (reference `dags/
  * music_streaming_etl_dags.py:430-440`), as one lazy Spark plan wrapped
  * in retryable stages:
  *
  * extract (declared-schema CSV reads) → validate_data (Check ADT) →
  * compute_kpis (two broadcast joins + two hash aggregates + ranking
  * windows) → validate_kpis → load (overwrite sinks). The reference's
  * inter-stage CSV relay disappears, and each stage evaluates its data
  * once: validate_data is one observed scan of all three inputs,
  * validate_kpis one observed collect per KPI table (its checks ride the
  * collect), and each load one write of those collected rows. The KPI
  * tables are group-bounded (genres × dates, 24 hours), the same
  * assumption as the single-file sink.
  */
final case class PipelineConfig(
    usersPath: String,
    songsPath: String,
    streamsGlob: String,
    genreKpisOut: String,
    hourlyKpisOut: String,
    topK: Int = 5,
    retries: Int = 3,
    singleFileOutput: Boolean = true,
    // reference gives each load task execution_timeout=30min
    // (`dags/music_streaming_etl_dags.py:394,:407-409`); a hung warehouse
    // write cancels its job group and re-enters the retry budget
    loadTimeoutMs: Long = 30L * 60L * 1000L)

object MusicPipeline {

  def run(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val users = Sources.users(spark, cfg.usersPath)
    val songs = Sources.songs(spark, cfg.songsPath)
    val streams = Sources.streams(spark, cfg.streamsGlob)

    // enriched feeds BOTH aggregations (reference reuses merged_df at
    // :185 and :200) — cache once, reuse twice.
    val enriched = MusicKpis.enrich(
      streams, songs, "track_id", users, "user_id", "listen_time").cache()

    // lazy KPI plans, and the rows validate_kpis collected from them: a
    // retried validate_kpis re-runs the plans rather than re-checking rows
    var genre: DataFrame = null
    var hourly: DataFrame = null
    var genreRows: DataFrame = null
    var hourlyRows: DataFrame = null

    val stages = Seq(
      // validate_data (`:124-169`): empty + null-key checks on all inputs,
      // one job for the three; enforced in input order.
      Stage("validate_data", () =>
        Checks.runAll(Seq(
          users -> Seq(NotEmpty, NoNulls(Seq("user_id"))),
          songs -> Seq(NotEmpty, NoNulls(Seq("track_id"))),
          streams -> Seq(NotEmpty, NoNulls(Seq("user_id", "track_id", "listen_time"))))
        ).foreach(_.enforce())),
      Stage("compute_kpis", () => {
        genre = MusicKpis.genreKpis(enriched,
          genreCol = "track_genre", countCol = "track_id",
          avgCol = "duration_ms", modeCol = "track_name",
          modeOut = "most_popular_track")
        hourly = MusicKpis.hourlyKpis(enriched,
          userCol = "user_id", artistCol = "artists", trackCol = "track_id",
          k = cfg.topK)
      }),
      // validate_kpis (`:214-242`): non-empty, null KPI columns, hour range,
      // checked while each KPI table is collected — its one evaluation.
      Stage("validate_kpis", () => {
        genreRows = Checks.collectEnforced(genre, Seq(NotEmpty, NoNulls(Seq("listen_count"))))
        hourlyRows = Checks.collectEnforced(hourly, Seq(
          NotEmpty, NoNulls(Seq("unique_listeners")), InRange("hour", 0, 23)))
      }),
      // load (`:245-335`): overwrite sinks with the collected rows; array
      // serialized at boundary. Timeout-bounded like the reference's load
      // tasks (30-min execution_timeout) — the one stage class that can
      // hang on an external system rather than fail fast.
      Stage("load_genre_kpis", () =>
        Sinks.csv(genreRows, cfg.genreKpisOut, cfg.singleFileOutput),
        timeoutMs = cfg.loadTimeoutMs),
      Stage("load_hourly_kpis", () =>
        Sinks.csv(Sinks.serializeArray(hourlyRows, "top_artists"),
          cfg.hourlyKpisOut, cfg.singleFileOutput),
        timeoutMs = cfg.loadTimeoutMs))

    try Pipeline.run(stages, cfg.retries)
    finally enriched.unpersist()
  }
}
