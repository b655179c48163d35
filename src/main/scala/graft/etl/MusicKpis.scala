package graft.etl

import graft.operators.GroupTop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's analytical core, re-expressed as one lazy Catalyst plan.
  *
  * Reference shape (`/root/reference/dags/music_streaming_etl_dags.py`):
  *  - enrich: two left equi-joins streams⋈songs⋈users (`:178-179`) plus
  *    `date`/`hour` derivations (`:182`, `:199`);
  *  - genre KPIs: groupby(genre, date) → count, mean, per-group mode
  *    (`:185-196`);
  *  - hourly KPIs: groupby(hour) → exact distinct count, top-5-per-group,
  *    distinct/total diversity ratio (`:199-208`).
  *
  * Scale notes: both dimension joins broadcast (songs ~114k rows, users 50k
  * — far under the broadcast threshold; at 100 TB the fact side streams
  * through map-side hash joins with zero shuffle). The aggregations are
  * hash aggregates with map-side partial combine. The genre mode is one more
  * aggregate function of the genre aggregate (its buffer is a value→count map
  * per group); the hourly top-k runs on the *pre-aggregated* counts relation
  * (|groups × distinct values|, not |rows| — see
  * [[graft.operators.GroupTop]]).
  */
object MusicKpis {

  /** J1 + J2 + P3 + P4: enrich a fact table with two broadcast dimensions
    * and derive `date` / `hour` from the event timestamp.
    *
    * `dim1Key`/`dim2Key` are the equi-join key column names (must exist on
    * both sides, reference merges on `track_id` then `user_id`).
    */
  def enrich(
      facts: DataFrame,
      dim1: DataFrame, dim1Key: String,
      dim2: DataFrame, dim2Key: String,
      tsCol: String): DataFrame =
    facts
      .join(broadcast(dim1), Seq(dim1Key), "left")
      .join(broadcast(dim2), Seq(dim2Key), "left")
      .withColumn("date", to_date(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))

  /** A1: per-(genre, date) KPIs — listen count, average duration, and the
    * deterministic per-group mode of `modeCol` (reference `:185-196`).
    *
    * Output columns: genreCol, date, listen_count, avg_duration, top_<mode>
    * (caller names the mode output via `modeOut`).
    *
    * `dropNullGroups = true` reproduces the reference's pandas
    * `groupby(dropna=True)` semantics (rows with a null genre — left-join
    * misses — silently vanish); default keeps the null group, which is the
    * honest Spark-native behavior (SURVEY.md §2.4).
    */
  def genreKpis(
      enriched: DataFrame,
      genreCol: String, countCol: String, avgCol: String, modeCol: String,
      modeOut: String = "most_popular",
      dropNullGroups: Boolean = false): DataFrame = {
    val base0 = if (dropNullGroups) enriched.filter(col(genreCol).isNotNull) else enriched
    // deterministic `mode` ignores nulls and breaks count ties by the lowest
    // value (UTF-8 byte order for strings), like GroupTop.mode; an all-null
    // group yields NULL (pandas `mode()[0] if not empty else None`,
    // reference `:190-193`).
    base0
      .groupBy(col(genreCol), col("date"))
      .agg(
        count(col(countCol)).as("listen_count"),
        avg(col(avgCol)).as("avg_duration"),
        mode(col(modeCol), deterministic = true).as(modeOut))
  }

  /** A2: per-hour KPIs — exact distinct listeners, rank-ordered top-k values
    * as an array, and the diversity ratio distinct(trackCol)/count(*)
    * (reference `:199-208`).
    *
    * The diversity denominator is `count(lit(1))` — ALL rows, including
    * null tracks — mirroring pandas `len(x)` exactly (SURVEY.md §7.4.6).
    */
  def hourlyKpis(
      enriched: DataFrame,
      userCol: String, artistCol: String, trackCol: String,
      k: Int = 5,
      approxDistinct: Boolean = false): DataFrame = {
    // Exact distinct by default (reference parity, SURVEY §2.4 A2a);
    // approxDistinct=true opts into HLL sketches — at 100 TB the exact
    // form shuffles every distinct (hour, user) pair, the sketch form
    // shuffles one fixed-size buffer per group per partition.
    def distinctOf(c: String) =
      if (approxDistinct) approx_count_distinct(col(c)) else countDistinct(col(c))
    val base = enriched
      .groupBy(col("hour"))
      .agg(
        distinctOf(userCol).as("unique_listeners"),
        (distinctOf(trackCol).cast("double") / count(lit(1))).as("track_diversity_index"))
    // the window form, not a one-pass `Aggregates.topk_agg`: the typed
    // hash-map buffer rides the Expand of the two distinct counts and
    // measured slower (see [[graft.operators.Aggregates]])
    val top = GroupTop.topK(enriched, Seq("hour"), artistCol, k, "top_artists")
    base.join(top, Seq("hour"), "left")
      .select(col("hour"), col("unique_listeners"), col("top_artists"), col("track_diversity_index"))
  }
}
