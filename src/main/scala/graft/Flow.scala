package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal task orchestration — the role Prefect plays for the
  * reference (`orchestration/flow.py:13-35`: `@task`-wrapped steps get
  * retries and observability for free). A [[Flow]] runs NAMED tasks in
  * order with:
  *
  *   - per-task RETRY with exponential backoff (a transient failure —
  *     an executor OOM, a flaky filesystem — re-runs the task, not the
  *     flow; pair with idempotent task bodies: the snapshot layer's
  *     CAS commits and txn watermarks make replays safe by design). A
  *     DETERMINISTIC failure — a broken contract ([[Flow.deterministic]])
  *     — fails on its first attempt: a retry would fail the same way;
  *   - per-task timing + attempt accounting ([[Flow.report]] — the
  *     observability a scheduler UI would render);
  *   - optional CHECKPOINTED RESUME: with a `stateDir`, each completed
  *     task drops a marker file, and a re-run of the same flow SKIPS
  *     tasks already marked done — a crashed pipeline resumes at the
  *     failed step instead of redoing the expensive early stages.
  *     Markers are per-flow-name; [[Flow.clearState]] resets.
  *
  * Deliberately driver-side and tiny: orchestration sequences Spark
  * JOBS, it is not itself distributed — the heavy lifting stays in the
  * tasks' Spark plans (the reference's split: Prefect orchestrates,
  * DuckDB/dbt compute).
  */
final class Flow(val name: String,
                 stateDir: Option[String] = None,
                 maxRetries: Int = 2,
                 backoffMs: Long = 200L) {

  require(maxRetries >= 0, s"maxRetries must be >= 0: $maxRetries")

  final case class TaskRun(task: String, status: String, attempts: Int,
                           millis: Long)

  private val runs = scala.collection.mutable.ArrayBuffer.empty[TaskRun]
  private val log = org.slf4j.LoggerFactory.getLogger(s"graft.Flow($name)")

  private def markerPath(task: String) =
    stateDir.map(d => Paths.get(d, s".flow-$name", s"$task.done"))

  private def isDone(task: String): Boolean =
    markerPath(task).exists(Files.exists(_))

  private def markDone(task: String): Unit =
    markerPath(task).foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, java.time.Instant.now().toString
        .getBytes(StandardCharsets.UTF_8))
    }

  /** Run `body` as the named task: retried up to `maxRetries` times on
    * failure (exponential backoff), skipped entirely — returning None,
    * the body not re-run — when a resume marker says a previous run
    * completed it (stateDir flows only). Throws the LAST failure when
    * retries are exhausted, and a deterministic failure
    * ([[Flow.deterministic]]) on its first attempt; the flow stops at
    * the failed task and a stateful re-run resumes there.
    */
  def task[T](taskName: String)(body: => T): Option[T] = {
    if (isDone(taskName)) {
      log.info(s"task $taskName: resume marker present, skipping")
      runs += TaskRun(taskName, "skipped", 0, 0L)
      return None
    }
    val t0 = System.nanoTime()
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val out = body
        runs += TaskRun(taskName, "ok", attempt,
          (System.nanoTime() - t0) / 1000000L)
        markDone(taskName)
        return Some(out)
      } catch {
        case scala.util.control.NonFatal(e)
            if attempt <= maxRetries && !Flow.deterministic(e) =>
          val wait = backoffMs * (1L << (attempt - 1))
          log.warn(s"task $taskName attempt $attempt failed " +
            s"(${e.getMessage}); retrying in ${wait}ms")
          Thread.sleep(wait)
        case scala.util.control.NonFatal(e) =>
          runs += TaskRun(taskName, "failed", attempt,
            (System.nanoTime() - t0) / 1000000L)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** What ran, in order: status ∈ ok | failed | skipped, with attempt
    * counts and wall millis — the flow's observability record.
    */
  def report: Seq[TaskRun] = runs.toSeq

  /** Drop all resume markers of this flow (a fresh end-to-end run). */
  def clearState(): Unit =
    stateDir.foreach { d =>
      val root = Paths.get(d, s".flow-$name")
      if (Files.exists(root)) {
        // Files.list holds an open DirectoryStream — close it, or every
        // fresh run leaks one fd for the driver's lifetime
        val listing = Files.list(root)
        try listing.forEach(p => Files.deleteIfExists(p))
        finally listing.close()
        Files.deleteIfExists(root)
      }
    }
}

object Flow {

  /** A failure that re-running cannot fix: somewhere in its cause
    * chain a broken `require` (IllegalArgumentException) or a Spark
    * error raised by the data itself (`raise_error`, condition
    * USER_RAISED_EXCEPTION — e.g. an ingest contract enforced inside
    * the write).
    */
  def deterministic(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).exists {
      case _: IllegalArgumentException => true
      case st: org.apache.spark.SparkThrowable =>
        st.getCondition == "USER_RAISED_EXCEPTION"
      case _ => false
    }
}
