package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Builds an SF-dilated corpus for scale-evidence runs: `factor` key-
  * shifted copies of a source SF's `documents` / `embeddings` / `events`
  * tables, written as the same filenames so every registered query runs
  * on the dilated dir unchanged (×10 over sf0.1 ≈ an sf1-equivalent).
  *
  * Copies are CONTENT-DECOUPLED so the workload's structural quantities
  * scale linearly with rows rather than quadratically with copy count:
  *
  *  - documents: every token gets a copy-specific suffix — cross-copy
  *    shingle/simhash/minhash similarity drops to ~zero, so each copy
  *    contributes its own duplicate structure (pairs scale ×factor, not
  *    ×factor²);
  *  - embeddings: a small deterministic per-copy, per-dimension offset —
  *    copies stop being exact ties in distance rankings;
  *  - events: ids shifted, timestamps kept — per-user series and
  *    time-window populations scale like real growth.
  *
  *   tools/run.sh graft.tools.Dilate [srcDir] [outDir] [factor]
  */
object Dilate {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1eq")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val stride = 100000000L // far above any source id
    val spark = GraftSession.builder("dilate", shufflePartitions = 32)
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(build: Int => org.apache.spark.sql.DataFrame) =
      (0 until factor).map(build).reduce(_ unionByName _)

    val docs = Tables.documents(spark, srcDir)
    copies { c =>
      val text =
        if (c == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_c$c"))), " ")
      docs.select(
        (col("doc_id") + lit(c * stride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, srcDir)
    copies { c =>
      emb.select(
        (col("vec_id") + lit(c * stride)).as("vec_id"),
        (if (c == 0) col("embedding")
         else transform(col("embedding"),
           (x, i) => (x + lit(c * 0.0011f) * ((i % 5) - lit(2)).cast("float"))
             .cast("float"))).as("embedding"),
        col("label"))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val ev = Tables.events(spark, srcDir)
    copies { c =>
      ev.select(
        (col("event_id") + lit(c * stride)).as("event_id"), col("ts"),
        (col("user_id") + lit(c * stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    Seq("documents", "embeddings", "events").foreach { t =>
      println(s"$t rows: " + spark.read.parquet(s"$outDir/$t.parquet").count())
    }
    spark.stop()
  }
}
