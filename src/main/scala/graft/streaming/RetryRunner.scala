package graft.streaming

import scala.util.control.NonFatal

/** App-level retry-with-backoff — the scheduler semantics the reference
  * declares on its DAG (`Final_app.py:18-19`: `retries: 2`,
  * `retry_delay: timedelta(minutes=5)`). Spark's `spark.task.maxFailures`
  * covers TASK retries inside a job; this wraps a whole application unit
  * (a micro-batch run, a backfill) the way the scheduler re-runs a failed
  * task instance: up to `retries` re-attempts, a fixed delay apart.
  *
  * The sleeper is injected so specs assert the backoff schedule without
  * wall-clock waits; production uses the default `Thread.sleep`.
  */
object RetryRunner {

  /** Run `body` (given the 0-based attempt number), re-attempting up to
    * `retries` times with `delayMs` between attempts. The terminal
    * failure rethrows the last error. Only non-fatal errors are retried:
    * an interrupt, a VM error or a control throwable propagates at once.
    */
  def withRetries[A](retries: Int = 2, delayMs: Long = 5 * 60 * 1000L,
      sleep: Long => Unit = Thread.sleep)(body: Int => A): A = {
    var attempt = 0
    while (true) {
      try return body(attempt)
      catch {
        case NonFatal(e) =>
          if (attempt >= retries) throw e
          attempt += 1
          sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
