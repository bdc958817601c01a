package graft

import org.scalatest.funsuite.AnyFunSuite

/** The orchestration layer ([[Flow]], the reference's Prefect role):
  * retry-with-backoff on transient failure, fail-after-exhaustion,
  * checkpointed resume skipping completed tasks, and the task report.
  */
class FlowSpec extends AnyFunSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-flow").toString

  test("a transient failure retries and succeeds; attempts recorded") {
    val flow = new Flow("t1", maxRetries = 3, backoffMs = 1L)
    var calls = 0
    val out = flow.task("flaky") {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"transient $calls")
      42
    }
    assert(out === Some(42) && calls === 3)
    val r = flow.report.head
    assert(r.task === "flaky" && r.status === "ok" && r.attempts === 3)
  }

  test("retries exhausted: the last failure propagates, status = failed") {
    val flow = new Flow("t2", maxRetries = 1, backoffMs = 1L)
    var calls = 0
    val e = intercept[RuntimeException] {
      flow.task("doomed") { calls += 1; throw new RuntimeException(s"boom $calls") }
    }
    assert(e.getMessage === "boom 2" && calls === 2) // 1 try + 1 retry
    assert(flow.report.head.status === "failed")
  }

  test("a deterministic failure fails on its first attempt") {
    val userRaised = new RuntimeException("status out of range")
      with org.apache.spark.SparkThrowable {
      override def getCondition: String = "USER_RAISED_EXCEPTION"
    }
    Seq[Throwable](
      new IllegalArgumentException("requirement failed: no rows"),
      new RuntimeException("job aborted", new IllegalStateException("task",
        new IllegalArgumentException("requirement failed"))),
      new RuntimeException("write failed", userRaised)).foreach { failure =>
      val flow = new Flow("t3", maxRetries = 2, backoffMs = 1L)
      var calls = 0
      val e = intercept[Throwable](flow.task("contract") { calls += 1; throw failure })
      assert((e eq failure) && calls === 1, s"retried $failure")
      assert(flow.report.head.status === "failed" && flow.report.head.attempts === 1)
    }
    // any other Spark error condition stays transient
    val other = new RuntimeException("lost executor") with org.apache.spark.SparkThrowable {
      override def getCondition: String = "INTERNAL_ERROR"
    }
    assert(!Flow.deterministic(other) && !Flow.deterministic(new RuntimeException("x")))
  }

  test("checkpointed resume: completed tasks skip, the failed one re-runs") {
    val dir = tmpDir()
    var aRuns, bRuns = 0
    def attempt(bFails: Boolean): Either[Throwable, Unit] = {
      val flow = new Flow("pipe", stateDir = Some(dir), maxRetries = 0)
      try {
        flow.task("a") { aRuns += 1 }
        flow.task("b") { bRuns += 1; if (bFails) throw new RuntimeException("b down") }
        Right(())
      } catch { case scala.util.control.NonFatal(e) => Left(e) }
    }
    assert(attempt(bFails = true).isLeft)
    assert(aRuns === 1 && bRuns === 1)
    // the re-run resumes AT b: a's marker skips it, b runs again
    assert(attempt(bFails = false).isRight)
    assert(aRuns === 1 && bRuns === 2)
    // a third run skips everything (both markers present)
    assert(attempt(bFails = false).isRight)
    assert(aRuns === 1 && bRuns === 2)
    // clearState forces a fresh end-to-end run
    val fresh = new Flow("pipe", stateDir = Some(dir))
    fresh.clearState()
    assert(attempt(bFails = false).isRight)
    assert(aRuns === 2 && bRuns === 3)
  }

  test("flows are namespaced: one flow's markers never skip another's") {
    val dir = tmpDir()
    val f1 = new Flow("alpha", stateDir = Some(dir))
    var ran = 0
    f1.task("step") { ran += 1 }
    val f2 = new Flow("beta", stateDir = Some(dir))
    f2.task("step") { ran += 1 }
    assert(ran === 2)
    assert(f2.report.head.status === "ok")
  }
}
