package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedSnapshot._
import org.apache.spark.sql.functions._

/** The one-row `DESCRIBE DETAIL` face ([[VersionedSnapshot.detail]]):
  * O(metadata), and it must surface the three health signals history()
  * cannot — clone borrows, pending (unreified) column drops/renames, and
  * the pointer store its filesystem selects — tracking each back to zero
  * as the table is localized/normalized. */
class SnapshotDetailSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  test("detail tracks layout, borrows and colmap health through the " +
      "table's life, back to a self-contained normalized state") {
    val src = tmp("graft-det1")
    assert(detail(spark, src).isEmpty, "no committed version: empty frame")
    mergeInto(src, (1L to 20L).map(k => (k, k, s"s$k")).toDF("k", "v", "s"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 10, numBuckets = 4)
    val d0 = detail(spark, src).head()
    assert(d0.getAs[String]("layout") == "bucketed" &&
      d0.getAs[Int]("num_buckets") == 4 &&
      d0.getAs[Long]("n_files") == 4 && d0.getAs[Long]("bytes") > 0 &&
      d0.getAs[Long]("n_external_refs") == 0 &&
      d0.getAs[scala.collection.Seq[String]]("renamed_columns").isEmpty &&
      d0.getAs[String]("pointer_store").nonEmpty, s"got $d0")

    // overlays show in the layout; renames/drops show until reified
    stageDelta(src, Seq((1L, 11L, "o")).toDF("k", "v", "s"), Seq("k"),
      UpdateMatched, marker = "ov", retain = 10)
    renameColumns(spark, src, Map("v" -> "value"))
    dropColumns(spark, src, Seq("s"))
    val d1 = detail(spark, src).head()
    assert(d1.getAs[String]("layout") == "bucketed+mor" &&
      d1.getAs[Int]("n_overlays") == 1 &&
      d1.getAs[scala.collection.Seq[String]]("renamed_columns").toSeq == Seq("v->value") &&
      d1.getAs[scala.collection.Seq[String]]("dropped_columns").toSeq == Seq("s"), s"got $d1")

    // a shallow clone reports its borrows; compact brings everything home
    val dst = tmp("graft-det1c")
    cloneTo(spark, src, dst)
    val dc = detail(spark, dst).head()
    assert(dc.getAs[Long]("n_external_refs") > 0 &&
      dc.getAs[scala.collection.Seq[String]]("renamed_columns").toSeq == Seq("v->value"), s"got $dc")
    compact(spark, dst, Seq("k"), marker = "localize", retain = 1)
    val dn = detail(spark, dst).head()
    assert(dn.getAs[Long]("n_external_refs") == 0 &&
      dn.getAs[scala.collection.Seq[String]]("renamed_columns").isEmpty &&
      dn.getAs[scala.collection.Seq[String]]("dropped_columns").isEmpty &&
      dn.getAs[String]("layout") == "bucketed",
      s"localized + normalized, got $dn")
  }
}
