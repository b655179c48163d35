package graft.pipeline


import scala.util.control.NonFatal

/** Driver-side stage sequencing with retries and a per-stage execution
  * timeout — the engine-level analog of the reference's Airflow DAG
  * (`/root/reference/dags/music_streaming_etl_dags.py:339-343` retries=3,
  * `:394,:407-409` execution_timeout=30min on the load tasks, `:430-440`
  * chain).
  *
  * Spark already retries tasks/stages internally; this wrapper covers the
  * reference's *pipeline-stage* retry semantics (a validation raise → rerun
  * the stage). Stages are named thunks so failures report which stage died
  * and after how many attempts.
  *
  * `timeoutMs > 0` bounds one attempt's wall-clock: the stage body runs on
  * a worker thread tagged with a per-attempt Spark job group
  * (`interruptOnCancel = true`), and on expiry the group's jobs are
  * cancelled surgically (`SparkContext.cancelJobGroup` — concurrent
  * pipelines on the same session are untouched) before the attempt is
  * failed with [[StageTimeout]], which is retryable like any other stage
  * failure. Without the job-group cancel a hung JDBC write or skew-stalled
  * job would retry never — it would just hang, which is the operational
  * gap this closes.
  */
final case class Stage(name: String, run: () => Unit, timeoutMs: Long = 0L)

final class PipelineFailure(val stage: String, val attempts: Int, cause: Throwable)
  extends RuntimeException(s"stage '$stage' failed after $attempts attempts", cause)

/** One attempt exceeded the stage's `timeoutMs`. Retryable (Airflow
  * semantics: a timed-out task re-enters the retry budget). Carries the
  * abandoned worker so the retry loop can refuse to start a second
  * attempt while the first is still running (see [[Pipeline.runStage]]). */
final class StageTimeout(val stage: String, val timeoutMs: Long,
    private[pipeline] val zombie: Thread = null)
  extends RuntimeException(s"stage '$stage' exceeded ${timeoutMs}ms execution timeout")

object Pipeline {

  /** Run stages in order; each stage gets `retries` extra attempts with
    * `backoffMs` sleep between them (Airflow: retries=3,
    * retry_delay=1min — we default the same count, short backoff). */
  def run(stages: Seq[Stage], retries: Int = 3, backoffMs: Long = 1000): Unit =
    stages.foreach(s => runStage(s, retries, backoffMs))

  private def runStage(stage: Stage, retries: Int, backoffMs: Long): Unit = {
    var attempt = 1
    var done = false
    while (!done) {
      try { withStageKey(stage.name)(runAttempt(stage, attempt)); done = true }
      catch {
        case NonFatal(e) if attempt < retries + 1 =>
          System.err.println(s"[pipeline] stage '${stage.name}' attempt $attempt failed: ${e.getMessage}; retrying")
          // a timed-out attempt's worker may still be running (a body that
          // ignores both the job-group cancel and the interrupt, e.g. a
          // blocking JDBC socket write). NEVER start the retry beside it —
          // two attempts writing the same sink concurrently is worse than
          // failing. Wait out the backoff against the zombie and escalate
          // if it refuses to die.
          e match {
            case st: StageTimeout if st.zombie != null =>
              st.zombie.join(math.max(backoffMs, ZombieGraceMs))
              if (st.zombie.isAlive)
                throw new PipelineFailure(stage.name, attempt,
                  new IllegalStateException(
                    s"stage '${stage.name}' attempt $attempt is still running " +
                      s"${math.max(backoffMs, ZombieGraceMs)}ms after its timeout " +
                      "cancel — refusing to retry concurrently"))
            case _ => Thread.sleep(backoffMs)
          }
          attempt += 1
        case NonFatal(e) => throw new PipelineFailure(stage.name, attempt, e)
      }
    }
  }

  /** One attempt. With no timeout the thunk runs inline (zero overhead);
    * with one it runs on a daemon worker thread so an attempt that ignores
    * both the job-group cancel and the interrupt cannot wedge the pipeline
    * — the worker is abandoned and the attempt fails with [[StageTimeout]].
    * Job groups are thread-local on SparkContext, so the worker tags
    * ITSELF before running the body; the monitor side only cancels. */
  private def runAttempt(stage: Stage, attempt: Int): Unit = {
    if (stage.timeoutMs <= 0L) { stage.run(); return }
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val groupId = s"graft-pipeline-${stage.name}-attempt$attempt-${System.nanoTime()}"
    @volatile var failure: Throwable = null
    val worker = new Thread(() => {
      try {
        session.foreach(_.sparkContext.setJobGroup(groupId,
          s"pipeline stage '${stage.name}' attempt $attempt", interruptOnCancel = true))
        try stage.run()
        finally session.foreach(_.sparkContext.clearJobGroup())
      } catch { case t: Throwable => failure = t }
    }, s"graft-pipeline-${stage.name}")
    worker.setDaemon(true)
    worker.start()
    worker.join(stage.timeoutMs)
    if (worker.isAlive) {
      session.foreach(_.sparkContext.cancelJobGroup(groupId))
      worker.interrupt()
      // grace for the cancel to unwind task threads; the timeout is thrown
      // regardless — the attempt already blew its budget. The worker rides
      // in the exception so the retry loop can refuse to run beside it.
      worker.join(5000L)
      throw new StageTimeout(stage.name, stage.timeoutMs, worker)
    }
    if (failure != null) throw failure
  }

  /** SparkContext local property naming the pipeline stage that submitted
    * a job, so a `SparkListener` can charge each job to its stage through
    * `SparkListenerJobStart.properties`. */
  val StageKey = "graft.pipeline.stage"

  /** Run `body` with [[StageKey]] set to `stage` on this thread; a timed
    * attempt's worker thread inherits it (Spark copies local properties
    * into the threads a thread starts). */
  private def withStageKey(stage: String)(body: => Unit): Unit = {
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
    val prev = sc.map(_.getLocalProperty(StageKey)).orNull
    sc.foreach(_.setLocalProperty(StageKey, stage))
    try body
    finally sc.foreach(_.setLocalProperty(StageKey, prev))
  }

  /** Minimum wait for a timed-out attempt's worker to exit before the
    * retry is allowed to start (the backoff extends it when longer). */
  private val ZombieGraceMs = 10000L
}
