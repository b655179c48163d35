package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Typed one-pass `Aggregator` forms of the mode / top-k kernels
  * (SURVEY.md §2.12) — the reference's two pandas per-group lambdas
  * (`/root/reference/dags/music_streaming_etl_dags.py:190-193`, `:204`)
  * as combiner-friendly JVM aggregates.
  *
  * The window formulation in [[GroupTop]] is the default (fully
  * Catalyst-optimized); these exist for (a) Structured Streaming, where a
  * ranking window over a running aggregate isn't expressible, and (b)
  * single-pass pipelines where the extra shuffle of the two-level form
  * matters. Buffer size is bounded by |distinct values in group|, and
  * `merge` is associative+commutative, so partial aggregation (map-side
  * combine) applies — at 100 TB the shuffle carries per-group value→count
  * maps, never raw rows.
  *
  * Buffers are MUTABLE hash maps updated in place: within a partition Spark
  * feeds every row through `reduce` on the same JVM buffer object, so an
  * immutable `Map.updated` would allocate a persistent-map path per row.
  * The buffer encoder is an `ExpressionEncoder` (Catalyst MapType), not
  * Kryo — partial buffers shuffle as unsafe map data, no Java
  * serialization round-trip at exchange boundaries.
  *
  * Tie-break pinned everywhere: (count DESC, value ASC), values compared as
  * UTF-8 bytes — identical to [[GroupTop]], Spark's `mode(col, true)` and
  * DuckDB (`String.compareTo`'s UTF-16 order differs above U+FFFF, e.g.
  * "Ａ" U+FF21 sorts before "😀" U+1F600 in bytes but after it in UTF-16),
  * and to pandas `mode()[0]`.
  *
  * Measured: `MusicKpis.hourlyKpis` keeps the window form. Its one-pass
  * `topk_agg` form (one `groupBy(hour)` with the two distinct counts) gave
  * the same rows but was slower on the paper's hourly workload: collecting
  * the hourly KPIs from the cached enrichment (etlbench `pipeline_hourly`
  * data, seed 7, 4 cores, 10 interleaved rounds) took 0.67 s median
  * against 0.46 s, slower in 10 of 10 rounds. The typed hash-map buffer
  * rides the `Expand` that the two distinct counts plan.
  */
object Aggregates {

  private type Buf = mutable.HashMap[String, Long]

  private def bufEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()

  private def add(b: Buf, a: String): Buf = {
    if (a != null) b.update(a, b.getOrElse(a, 0L) + 1L)
    b
  }

  /** Fold the smaller map into the larger — merge cost tracks the smaller
    * side. MUTATES (and returns) the larger input: Spark's
    * TypedImperativeAggregate owns both partial buffers at merge time and
    * never reuses the consumed one, so in-place merge is legal and saves
    * rebuilding the map per merge. Callers outside an aggregation must not
    * reuse arguments after calling merge. */
  private def mergeInto(b1: Buf, b2: Buf): Buf = {
    val (small, large) = if (b1.size < b2.size) (b1, b2) else (b2, b1)
    small.foreach { case (v, c) => large.update(v, large.getOrElse(v, 0L) + c) }
    large
  }

  /** (count DESC, value ASC in UTF-8 byte order) */
  private val rank: Ordering[(String, Long)] =
    Ordering.by[(String, Long), (Long, UTF8String)] { case (v, c) => (-c, UTF8String.fromString(v)) }

  private def best(buf: collection.Map[String, Long]): Option[String] =
    if (buf.isEmpty) None
    else Some(buf.min(rank)._1)

  /** Most frequent non-null value; all-null/empty group → null. */
  class ModeAgg extends Aggregator[String, Buf, String] {
    def zero: Buf = mutable.HashMap.empty
    def reduce(b: Buf, a: String): Buf = add(b, a)
    def merge(b1: Buf, b2: Buf): Buf = mergeInto(b1, b2)
    def finish(r: Buf): String = best(r).orNull
    def bufferEncoder: Encoder[Buf] = bufEncoder
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Top-k most frequent non-null values, rank-ordered (count DESC, value
    * ASC). Buffer is the full value→count map; the k-cut happens at
    * finish so merge stays exact. */
  class TopKAgg(k: Int) extends Aggregator[String, Buf, Seq[String]] {
    def zero: Buf = mutable.HashMap.empty
    def reduce(b: Buf, a: String): Buf = add(b, a)
    def merge(b1: Buf, b2: Buf): Buf = mergeInto(b1, b2)
    def finish(r: Buf): Seq[String] =
      r.toSeq.sorted(rank).take(k).map(_._1)
    def bufferEncoder: Encoder[Buf] = bufEncoder
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  }

  /** Column-API forms, usable in `df.agg(...)`. */
  import org.apache.spark.sql.functions.udaf
  def mode_agg: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(new ModeAgg, Encoders.STRING)
  def topk_agg(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TopKAgg(k), Encoders.STRING)
}
