package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality operator family.
  *
  * The reference runs validation as two imperative pipeline stages
  * (`validate_data`, reference `dags/music_streaming_etl_dags.py:124-169`;
  * `validate_kpis`, `:214-242`): empty-table checks, null-count audits and a
  * range assertion, each failing the task on violation. Here the same checks
  * are a declarative ADT evaluated in a SINGLE aggregation pass per table
  * (one job, map-side combinable — at 100 TB this is one scan, not one scan
  * per check), plus join-based referential-integrity/uniqueness checks the
  * reference's README claims but never implemented (README.md:33).
  */
sealed trait Check { def name: String }
/** Table must contain at least one row. */
case object NotEmpty extends Check { val name = "not_empty" }
/** No nulls in any of `cols`. */
final case class NoNulls(cols: Seq[String]) extends Check { val name = s"no_nulls(${cols.mkString(",")})" }
/** All non-null values of `col` within [lo, hi]. */
final case class InRange(col: String, lo: Double, hi: Double) extends Check { val name = s"in_range($col,$lo,$hi)" }
/** `cols` form a unique key. */
final case class Unique(cols: Seq[String]) extends Check { val name = s"unique(${cols.mkString(",")})" }

final case class CheckResult(check: String, violations: Long, passed: Boolean)

final case class QualityReport(results: Seq[CheckResult]) {
  def passed: Boolean = results.forall(_.passed)
  /** Pipeline mode: throw on any violation (reference raises → Airflow
    * retries; our engine surfaces one exception with every failure). */
  def enforce(): Unit =
    if (!passed) throw new IllegalStateException(
      "data-quality violations: " +
        results.filterNot(_.passed).map(r => s"${r.check}=${r.violations}").mkString("; "))
}

object Checks {

  private[graft] def scalarAggs(checks: Seq[Check]): Seq[(String, Column)] =
    checks.collect {
      case NotEmpty         => NotEmpty.name -> count(lit(1))
      case c @ NoNulls(cols) =>
        c.name -> cols.map(n => count(when(col(n).isNull, 1))).reduce(_ + _)
      case c @ InRange(name, lo, hi) =>
        c.name -> count(when(col(name).isNotNull && !col(name).between(lo, hi), 1))
    }

  private[graft] def toResult(name: String, v: Long): CheckResult =
    if (name == NotEmpty.name) CheckResult(name, if (v == 0) 1 else 0, v > 0)
    else CheckResult(name, v, v == 0)

  /** Evaluate all scalar checks in ONE aggregation pass; Unique checks each
    * add one extra aggregation (they need a group-by). */
  def run(df: DataFrame, checks: Seq[Check]): QualityReport = {
    val scalar = scalarAggs(checks)
    val scalarResults: Seq[CheckResult] =
      if (scalar.isEmpty) Nil
      else {
        val row = df.agg(scalar.head._2.as("c0"), scalar.tail.zipWithIndex.map {
          case ((_, c), i) => c.as(s"c${i + 1}")
        }: _*).head()
        scalar.zipWithIndex.map { case ((name, _), i) => toResult(name, row.getLong(i)) }
      }
    val uniqueResults = checks.collect { case c @ Unique(cols) =>
      val dups = df.groupBy(cols.map(col): _*).count().filter(col("count") > 1).count()
      CheckResult(c.name, dups, dups == 0)
    }
    QualityReport(scalarResults ++ uniqueResults)
  }

  /** Piggyback the scalar checks on an EXISTING action via `df.observe` —
    * ZERO extra scans. [[run]] costs one aggregation job per table; at
    * 100 TB even that doubles the read when the pipeline already scans the
    * data to write it. This form attaches the same counters to the
    * pipeline's own write/count: Spark accumulates them during that
    * action, and [[reportFrom]] decodes the metrics afterward. `Unique`
    * checks need a group-by and cannot ride an observe — evaluate those
    * via [[run]].
    *
    * Usage: `val (instrumented, obs) = Checks.observed(df, checks)`,
    * run your action on `instrumented`, then
    * `Checks.reportFrom(obs, checks).enforce()`. */
  def observed(df: DataFrame, checks: Seq[Check], name: String = "graft_quality")
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val scalar = scalarAggs(checks)
    require(scalar.nonEmpty, "observed() needs at least one scalar check")
    require(!checks.exists(_.isInstanceOf[Unique]),
      "Unique checks need a group-by — use Checks.run for those")
    val obs = org.apache.spark.sql.Observation(name)
    val named = scalar.zipWithIndex.map { case ((_, c), i) => c.as(s"c$i") }
    (df.observe(obs, named.head, named.tail: _*), obs)
  }

  /** Decode [[observed]]'s metrics into a report. Blocks until the action
    * on the instrumented DataFrame has completed. */
  def reportFrom(obs: org.apache.spark.sql.Observation, checks: Seq[Check])
      : QualityReport = {
    val metrics = obs.get
    QualityReport(scalarAggs(checks).zipWithIndex.map { case ((name, _), i) =>
      toResult(name, metrics(s"c$i").asInstanceOf[Long])
    })
  }

  /** [[run]] for many tables in ONE job: each table's scalar checks (no
    * `Unique`, as in [[observed]]) ride an [[observed]] scan of it, and the union of those scans (projected
    * to no columns) is written to the `noop` sink. Reports come back in
    * input order; enforcing them in that order throws the same message as
    * one [[run]] per table. Every call builds fresh `Observation`s (Spark
    * allows one action per `Observation`), so the same frames can be
    * checked again, e.g. by a retried stage. */
  def runAll(tables: Seq[(DataFrame, Seq[Check])]): Seq[QualityReport] = {
    require(tables.nonEmpty, "runAll() needs at least one table")
    val observedScans = tables.zipWithIndex.map { case ((df, checks), i) =>
      observed(df, checks, s"graft_quality_$i")
    }
    observedScans.map(_._1.select()).reduce(_ union _)
      .write.format("noop").mode("overwrite").save()
    observedScans.zip(tables).map { case ((_, obs), (_, checks)) => reportFrom(obs, checks) }
  }

  /** Materialize `df` with its checks riding the same action: collect the
    * [[observed]] plan, enforce the report, and only then hand the rows
    * back as a local DataFrame of `df`'s schema. For group-bounded outputs
    * (KPI tables) that are checked and then written: the write reads the
    * collected rows instead of running the plan a second time. `df`
    * itself stays lazy, so calling this again re-runs the plan. */
  def collectEnforced(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val (instrumented, obs) = observed(df, checks)
    val rows = instrumented.collect()
    reportFrom(obs, checks).enforce()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** STREAMING form of [[observed]]: `Observation` objects reject
    * streaming Datasets, so attach the counters under a string metric
    * name — Spark surfaces them PER MICRO-BATCH in
    * `StreamingQueryProgress.observedMetrics`, the hook a production
    * stream's monitoring alerts on (per-batch null spikes, range drift)
    * at zero extra cost to the batch itself. Decode each progress with
    * [[reportFromProgress]]. */
  def observedStream(df: DataFrame, checks: Seq[Check],
      name: String = "graft_quality"): DataFrame = {
    val scalar = scalarAggs(checks)
    require(scalar.nonEmpty, "observedStream() needs at least one scalar check")
    require(!checks.exists(_.isInstanceOf[Unique]),
      "Unique checks need a group-by — use Checks.run for those")
    val named = scalar.zipWithIndex.map { case ((_, c), i) => c.as(s"c$i") }
    df.observe(name, named.head, named.tail: _*)
  }

  /** Read one micro-batch's quality report off a streaming progress
    * event; None when this progress carries no metrics under `name`
    * (e.g. an empty no-data trigger). */
  def reportFromProgress(
      progress: org.apache.spark.sql.streaming.StreamingQueryProgress,
      checks: Seq[Check], name: String = "graft_quality"): Option[QualityReport] =
    Option(progress.observedMetrics.get(name)).map { row =>
      QualityReport(scalarAggs(checks).zipWithIndex.map { case ((n, _), i) =>
        toResult(n, row.getLong(row.fieldIndex(s"c$i")))
      })
    }

  /** Referential integrity: count of `fk` values in `fact` with no match in
    * `dim.pk` — expressed as a left anti-join (nulls in fk are not
    * violations, matching SQL FK semantics). */
  def referentialIntegrity(fact: DataFrame, fk: String, dim: DataFrame, pk: String): CheckResult = {
    val orphans = fact
      .filter(col(fk).isNotNull)
      .join(dim.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
      .count()
    CheckResult(s"ref_integrity($fk->$pk)", orphans, orphans == 0)
  }

  /** The reference's null-audit as a reusable *query* (returns the audit row
    * rather than throwing) — one conditional-aggregation scan, the Spark
    * equivalent of its SQL `COUNT(CASE WHEN col IS NULL THEN 1 END)`
    * pushdown (reference `dags/music_streaming_etl_dags.py:65-80`). */
  def nullAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      cols.map(n => count(when(col(n).isNull, 1)).as(s"null_$n"))
    df.agg(aggs.head, aggs.tail: _*)
  }
}
