package graft.etl

import graft.{JobCounter, SparkSpec}
import graft.io.{Sinks, Sources}
import graft.pipeline.PipelineFailure
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** File-to-file e2e over CSV fixtures mirroring the reference's
  * users/songs/streams shapes. */
class MusicPipelineSpec extends SparkSpec {

  private def writeFixtures(dir: Path, badStreams: Boolean = false,
      badDanceability: Boolean = false): PipelineConfig = {
    Files.writeString(dir.resolve("users.csv"),
      """user_id,user_name,user_age,user_country,created_at
        |1,Alice,30,US,2024-01-01
        |2,Bob,25,FR,2024-01-02
        |3,Cara,41,DE,2024-01-03
        |""".stripMargin)
    val songCols = "id,track_id,artists,album_name,track_name,popularity,duration_ms,explicit," +
      "danceability,energy,song_key,loudness,mode,speechiness,acousticness,instrumentalness," +
      "liveness,valence,tempo,time_signature,track_genre"
    Files.writeString(dir.resolve("songs.csv"),
      s"""$songCols
         |1,t1,Artist 1,Alb,Song A,50,200000,false,0.5,0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,rock
         |2,t2,Artist 2,Alb,Song B,40,100000,false,${if (badDanceability) "lively" else "0.5"},0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,rock
         |3,t3,Artist 1,Alb,Song C,30,300000,true,0.5,0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,jazz
         |""".stripMargin)
    val streamRows =
      if (badStreams)
        """user_id,track_id,listen_time
          |1,t1,
          |""".stripMargin
      else
        """user_id,track_id,listen_time
          |1,t1,2024-06-25T10:00:00.000Z
          |1,t1,2024-06-25T10:30:00.000Z
          |2,t2,2024-06-25T10:45:00.000Z
          |2,t3,2024-06-25T11:05:00.000Z
          |""".stripMargin
    Files.writeString(dir.resolve("streams1.csv"), streamRows)
    PipelineConfig(
      usersPath = dir.resolve("users.csv").toString,
      songsPath = dir.resolve("songs.csv").toString,
      streamsGlob = dir.resolve("streams*.csv").toString,
      genreKpisOut = dir.resolve("genre_kpis").toString,
      hourlyKpisOut = dir.resolve("hourly_kpis").toString,
      topK = 2, retries = 0)
  }

  test("pipeline runs file-to-file and writes both KPI tables") {
    val dir = Files.createTempDirectory("graft-pipe")
    val cfg = writeFixtures(dir)
    MusicPipeline.run(spark, cfg)

    val genre = spark.read.option("header", "true").csv(cfg.genreKpisOut)
    val g = genre.collect().map(r =>
      r.getAs[String]("track_genre") -> (r.getAs[String]("listen_count"),
        r.getAs[String]("most_popular_track"))).toMap
    assert(g("rock") == (("3", "Song A")))
    assert(g("jazz") == (("1", "Song C")))

    val hourly = spark.read.option("header", "true").csv(cfg.hourlyKpisOut)
    val h = hourly.collect().map(r =>
      r.getAs[String]("hour") -> r.getAs[String]("top_artists")).toMap
    assert(h("10") == "Artist 1,Artist 2")
  }

  test("pipeline fails with named stage when validation trips") {
    val dir = Files.createTempDirectory("graft-pipe-bad")
    val cfg = writeFixtures(dir, badStreams = true)
    val e = intercept[PipelineFailure](MusicPipeline.run(spark, cfg))
    assert(e.stage == "validate_data")
    assert(e.getCause.getMessage.contains("no_nulls"))
  }

  test("a malformed field in a column no KPI reads fails validate_data, before any KPI work") {
    val dir = Files.createTempDirectory("graft-pipe-malformed")
    val cfg = writeFixtures(dir, badDanceability = true)
    val e = intercept[PipelineFailure](MusicPipeline.run(spark, cfg))
    assert(e.stage == "validate_data")
    val causes = Iterator.iterate(e.getCause: Throwable)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("lively")), e)
  }

  /** The contents of the part files under `dir`, in file-name order. */
  private def partFiles(dir: String): Seq[String] = {
    val files = Files.list(Path.of(dir))
    try files.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString).map(Files.readString)
    finally files.close()
  }

  test("loads write the same bytes as Sinks.csv over the lazy KPI plans") {
    val dir = Files.createTempDirectory("graft-pipe-bytes")
    val cfg = writeFixtures(dir)
    MusicPipeline.run(spark, cfg)

    // the pipeline's plans, written straight from the lazy frames (row
    // order there comes from the plan; in the pipeline from the collect)
    val enriched = MusicKpis.enrich(Sources.streams(spark, cfg.streamsGlob),
      Sources.songs(spark, cfg.songsPath), "track_id",
      Sources.users(spark, cfg.usersPath), "user_id", "listen_time")
    val lazyGenre = dir.resolve("lazy_genre").toString
    val lazyHourly = dir.resolve("lazy_hourly").toString
    Sinks.csv(MusicKpis.genreKpis(enriched, genreCol = "track_genre", countCol = "track_id",
      avgCol = "duration_ms", modeCol = "track_name", modeOut = "most_popular_track"),
      lazyGenre, singleFile = true)
    Sinks.csv(Sinks.serializeArray(MusicKpis.hourlyKpis(enriched, userCol = "user_id",
      artistCol = "artists", trackCol = "track_id", k = cfg.topK), "top_artists"),
      lazyHourly, singleFile = true)

    for ((written, expected) <- Seq(cfg.genreKpisOut -> lazyGenre, cfg.hourlyKpisOut -> lazyHourly)) {
      val got = partFiles(written)
      assert(got.size == 1 && got.head.nonEmpty)
      assert(got == partFiles(expected))
    }
  }

  test("each stage evaluates its data once: one job to check the inputs, one per load") {
    val dir = Files.createTempDirectory("graft-pipe-jobs")
    val cfg = writeFixtures(dir)
    val (_, jobs) = JobCounter(spark)(MusicPipeline.run(spark, cfg))
    assert(jobs.get("validate_data").contains(1), jobs)
    assert(jobs.get("load_genre_kpis").contains(1), jobs)
    assert(jobs.get("load_hourly_kpis").contains(1), jobs)
    assert(!jobs.contains(""), jobs)
    // measured on these fixtures, stage by stage: 1 + 0 + 11 + 1 + 1 = 14
    // jobs (validate_kpis runs each KPI plan once: the genre mode inside its
    // aggregate, the hourly top-k window included)
    assert(jobs.values.sum <= 14, jobs)
  }
}
