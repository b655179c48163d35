package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group "most frequent value" operators.
  *
  * These re-express the reference's two pandas per-group lambdas
  * (mode: reference `dags/music_streaming_etl_dags.py:190-193`; top-5
  * value_counts: `dags/music_streaming_etl_dags.py:204`) as declarative
  * two-level aggregations + a ranking window, so Catalyst gets partial
  * (map-side) aggregation on the first level and the per-group state never
  * exceeds |distinct values in group| — both shuffle-safe at scale.
  *
  * Tie-breaking is pinned deterministic everywhere: (count DESC, value ASC).
  * The reference's pandas mode() observably resolves ties to the
  * lexicographically-smallest value (mode() sorts ascending), which this
  * matches; pandas value_counts ties are unspecified, which we *make*
  * deterministic (documented divergence, SURVEY.md §7.4).
  */
object GroupTop {

  /** Most frequent non-null `valueCol` per group; ties → smallest value
    * (UTF-8 byte order for strings). Groups whose `valueCol` is entirely
    * null are dropped; a caller that needs them with a NULL mode (pandas
    * `mode()[0] if not empty else None`) uses Spark's `mode(col, true)`
    * inside its own aggregate, which breaks ties the same way — see
    * [[graft.etl.MusicKpis.genreKpis]].
    *
    * Output: groupCols :+ out.
    */
  def mode(df: DataFrame, groupCols: Seq[String], valueCol: String, out: String): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol).asc)
    counts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(groupCols.map(col) :+ col(valueCol).as(out): _*)
  }

  /** Top-k most frequent non-null `valueCol` per group as a rank-ordered
    * array column `out` (count DESC, value ASC). */
  def topK(df: DataFrame, groupCols: Seq[String], valueCol: String, k: Int, out: String): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol).asc)
    counts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(groupCols.map(col): _*)
      // array_sort on (rank, value) structs preserves the ranking order
      // inside the collected list regardless of shuffle arrival order.
      .agg(
        expr(s"transform(array_sort(collect_list(struct(__rn, $valueCol))), s -> s.$valueCol)")
          .as(out))
  }

  /** Same as [[topK]] but serialized to a comma-joined string — the stable
    * cross-engine form used at oracle/sink boundaries (mirrors the
    * reference stringifying its top_artists list at the CSV boundary). */
  def topKConcat(df: DataFrame, groupCols: Seq[String], valueCol: String, k: Int, out: String): DataFrame =
    topK(df, groupCols, valueCol, k, out)
      // cast elements first: concat_ws on a non-string array (numeric
      // valueCol) raises an AnalysisException otherwise
      .withColumn(out, concat_ws(",", transform(col(out), v => v.cast("string"))))
}
