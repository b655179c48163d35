package graft.etl

import graft.GraftSession

/** Batch entry point — the reference DAG as a schedulable driver program
  * (run per hour by cron/Airflow/any scheduler for O3 parity; the
  * streaming variant is [[graft.streaming.StreamingKpis]]).
  *
  *   tools/run.sh graft.etl.Main <users.csv> <songs.csv> <streamsGlob> <outDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.etl.Main <users.csv> <songs.csv> <streamsGlob> <outDir>")
    val Array(users, songs, streams, outDir) = args
    val spark = GraftSession.builder("music-streaming-etl",
        shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try MusicPipeline.run(spark, PipelineConfig(
      usersPath = users, songsPath = songs, streamsGlob = streams,
      genreKpisOut = s"$outDir/genre_kpis",
      hourlyKpisOut = s"$outDir/hourly_kpis"))
    finally spark.stop()
  }
}
