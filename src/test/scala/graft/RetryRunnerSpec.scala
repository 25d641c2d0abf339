package graft

import graft.streaming.RetryRunner

/** G3 app-level scheduling semantics: retries=2 with a fixed delay,
  * around a whole micro-batch unit (reference `Final_app.py:18-19`).
  * `DailyAppSpec` injects the fault into a real tick.
  */
class RetryRunnerSpec extends SparkTestBase {

  test("a transient failure is retried on the reference schedule (2 retries, fixed delay)") {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val attempts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = RetryRunner.withRetries(retries = 2, delayMs = 300000L,
      sleep = slept += _) { attempt =>
      attempts += attempt
      if (attempt < 2) throw new RuntimeException(s"transient #$attempt")
      "ok"
    }
    assert(out === "ok")
    assert(attempts.toSeq === Seq(0, 1, 2)) // initial + 2 retries
    assert(slept.toSeq === Seq(300000L, 300000L)) // 5-minute delay between
  }

  test("exhausted retries rethrow the last failure") {
    val e = intercept[RuntimeException] {
      RetryRunner.withRetries(retries = 2, delayMs = 1L, sleep = _ => ()) {
        attempt => throw new RuntimeException(s"permanent #$attempt")
      }
    }
    assert(e.getMessage === "permanent #2")
  }

  test("fatal errors propagate on the first attempt without a retry") {
    for (fatal <- Seq(new InterruptedException("stop"), new OutOfMemoryError("heap"))) {
      val attempts = scala.collection.mutable.ArrayBuffer.empty[Int]
      var slept = 0
      val e = intercept[Throwable] {
        RetryRunner.withRetries(retries = 2, delayMs = 1L, sleep = _ => slept += 1) {
          attempt => attempts += attempt; throw fatal
        }
      }
      assert(e eq fatal)
      assert(attempts.toSeq === Seq(0), fatal.toString)
      assert(slept === 0, fatal.toString)
    }
  }
}
