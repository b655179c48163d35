package graft.quality

import graft.{JobCounter, SparkSpec}
import graft.io.Sources
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  /** users/songs/streams-like inputs with the pipeline's checks; users
    * pass, songs and streams carry violations */
  private def triple: Seq[(DataFrame, Seq[Check])] = Seq(
    Seq((1, "Alice"), (2, "Bob")).toDF("user_id", "user_name") ->
      Seq(NotEmpty, NoNulls(Seq("user_id"))),
    Seq((1, Some("t1")), (2, None)).toDF("id", "track_id") ->
      Seq(NotEmpty, NoNulls(Seq("track_id"))),
    Seq((Some(1), "t1", Some(10)), (Some(2), "t2", None), (None, "t1", Some(11)))
      .toDF("user_id", "track_id", "listen_time") ->
      Seq(NotEmpty, NoNulls(Seq("user_id", "track_id", "listen_time")), InRange("listen_time", 0, 10)))

  /** fails rather than hangs if an observation never fills */
  private def bounded[T](body: => T): T = Await.result(Future(body), 60.seconds)

  private def df = Seq(
    (1, Some("a"), 5),
    (2, None, 30),
    (3, Some("c"), 10)
  ).toDF("id", "name", "hour")

  test("NotEmpty passes on non-empty, fails on empty") {
    assert(Checks.run(df, Seq(NotEmpty)).passed)
    assert(!Checks.run(df.filter($"id" > 99), Seq(NotEmpty)).passed)
  }

  test("NoNulls counts violations per column set") {
    val r = Checks.run(df, Seq(NoNulls(Seq("id", "name"))))
    assert(!r.passed)
    assert(r.results.head.violations == 1)
    assert(Checks.run(df, Seq(NoNulls(Seq("id", "hour")))).passed)
  }

  test("InRange flags out-of-range non-null values only") {
    val r = Checks.run(df, Seq(InRange("hour", 0, 23)))
    assert(r.results.head.violations == 1)
    assert(Checks.run(df, Seq(InRange("hour", 0, 30))).passed)
  }

  test("Unique detects duplicate keys") {
    val dup = df.union(df.filter($"id" === 1))
    assert(!Checks.run(dup, Seq(Unique(Seq("id")))).passed)
    assert(Checks.run(df, Seq(Unique(Seq("id")))).passed)
  }

  test("observed() rides the pipeline's own action — same report, zero extra scans") {
    val checks = Seq(NotEmpty, NoNulls(Seq("name")), InRange("hour", 0, 23))
    val (instrumented, obs) = Checks.observed(df, checks)
    // the pipeline's OWN action (here a write) drives the counters
    instrumented.write.format("noop").mode("overwrite").save()
    val viaObserve = Checks.reportFrom(obs, checks)
    val viaRun = Checks.run(df, checks)
    assert(viaObserve.results == viaRun.results)
    assert(!viaObserve.passed) // the null name + hour 30 violations
    // Unique is rejected (needs a group-by, can't ride an observe)
    intercept[IllegalArgumentException] {
      Checks.observed(df, Seq(Unique(Seq("id"))) ++ checks)
    }
  }

  test("observedStream surfaces per-micro-batch quality metrics in streaming progress") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Int, Option[String], Int)]
    val checks = Seq(NotEmpty, NoNulls(Seq("name")), InRange("hour", 0, 23))
    val stream = Checks.observedStream(input.toDF.toDF("id", "name", "hour"), checks)
    val q = stream.writeStream.format("noop").start()
    try {
      input.addData((1, Some("a"), 5), (2, None, 30))
      q.processAllAvailable()
      val report = q.recentProgress.toSeq
        .flatMap(p => Checks.reportFromProgress(p, checks)).lastOption
      assert(report.isDefined, "no observed metrics in any progress event")
      // one null name + one out-of-range hour in the batch
      assert(report.get.results.map(_.violations) == Seq(0L, 1L, 1L))
      assert(!report.get.passed)
    } finally q.stop()
  }

  test("all scalar checks evaluate in one pass and report together") {
    val r = Checks.run(df, Seq(NotEmpty, NoNulls(Seq("name")), InRange("hour", 0, 23)))
    assert(r.results.size == 3)
    assert(r.results.count(!_.passed) == 2)
  }

  test("enforce throws with every failing check named") {
    val r = Checks.run(df, Seq(NoNulls(Seq("name")), InRange("hour", 0, 23)))
    val e = intercept[IllegalStateException](r.enforce())
    assert(e.getMessage.contains("no_nulls"))
    assert(e.getMessage.contains("in_range"))
  }

  test("referentialIntegrity counts orphans, ignores null FKs") {
    val fact = Seq(Some(1), Some(2), Some(9), None).toDF("fk")
    val dim = Seq(1, 2, 3).toDF("pk")
    val r = Checks.referentialIntegrity(fact, "fk", dim, "pk")
    assert(r.violations == 1 && !r.passed)
  }

  test("nullAudit returns one row of per-column null counts") {
    val row = Checks.nullAudit(df, Seq("id", "name")).collect().head
    assert(row.getLong(0) == 3)      // n_rows
    assert(row.getLong(1) == 0)      // null_id
    assert(row.getLong(2) == 1)      // null_name
  }

  test("runAll reports what run reports on each table, in input order, in one job") {
    val tables = triple
    val (reports, jobs) = JobCounter(spark)(Checks.runAll(tables))
    assert(reports.map(_.results) == tables.map { case (df, checks) => Checks.run(df, checks).results })
    assert(reports.map(_.passed) == Seq(true, false, false))
    assert(jobs.values.sum == 1, jobs)
  }

  test("runAll runs again on the same frames: each call observes afresh") {
    val tables = triple
    val first = Checks.runAll(tables)
    assert(bounded(Checks.runAll(tables)) == first)
  }

  test("collectEnforced returns df.collect()'s rows in order, and throws before returning on a failed check") {
    val kpis = Seq((3, 7L), (1, 2L), (2, 5L)).toDF("hour", "listeners").orderBy($"listeners".desc)
    val rows = Checks.collectEnforced(kpis, Seq(NotEmpty, InRange("hour", 0, 23)))
    assert(rows.schema == kpis.schema)
    assert(rows.collect().toSeq == kpis.collect().toSeq)
    val e = intercept[IllegalStateException](
      Checks.collectEnforced(kpis, Seq(NotEmpty, InRange("hour", 0, 2))))
    assert(e.getMessage.contains("in_range(hour,0.0,2.0)=1"))
  }

  test("an empty input fails NotEmpty through runAll and collectEnforced without hanging") {
    val dir = Files.createTempDirectory("graft-checks-empty")
    Files.writeString(dir.resolve("streams1.csv"), "user_id,track_id,listen_time\n")
    val headerOnly = Sources.streams(spark, dir.resolve("streams*.csv").toString)
    val filtered = df.filter($"id" > 99)
    val reports = bounded(Checks.runAll(Seq(
      headerOnly -> Seq(NotEmpty, NoNulls(Seq("user_id"))), filtered -> Seq(NotEmpty))))
    assert(reports.map(_.results.head) ==
      Seq(CheckResult(NotEmpty.name, 1, passed = false), CheckResult(NotEmpty.name, 1, passed = false)))
    for (empty <- Seq(headerOnly, filtered)) {
      val e = intercept[IllegalStateException](bounded(Checks.collectEnforced(empty, Seq(NotEmpty))))
      assert(e.getMessage.contains("not_empty=1"))
    }
  }
}
