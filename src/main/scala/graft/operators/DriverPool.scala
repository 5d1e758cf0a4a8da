package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Run INDEPENDENT driver-side Spark actions concurrently (guide §2.6:
  * actions are only sequential because the driver calls them
  * sequentially — a small pool lets the next job's tasks back-fill
  * executors freed by the current job's tail). Used for independent
  * artifact writes/reads inside one operator call; results are
  * identical to the sequential form by construction (the jobs share no
  * data dependency).
  *
  * Failure contract (round 20): EVERY job is awaited to completion — success or
  * failure — BEFORE the first failure (in submission order) is
  * rethrown, so a caller that catches and retries can never race a
  * still-running sibling writer over the same directories. `Inf` waits
  * are deliberate: these are bounded Spark actions whose failure mode
  * is an exception, not a hang; a finite timeout would turn slow-disk
  * stalls into spurious corruption-shaped failures. The same holds
  * when the CALLER is interrupted: the pool is drained before the
  * interrupt propagates (see [[drain]]).
  */
private[graft] object DriverPool {

  def all[A](jobs: Seq[() => A], maxThreads: Int = 4): Seq[A] = {
    if (jobs.isEmpty) return Seq.empty
    if (jobs.lengthCompare(1) == 0) return Seq(jobs.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(jobs.size, maxThreads))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = jobs.map(j => Future(j()))
      // drain the pool FIRST (Await.ready never throws the job's
      // exception), then rethrow the first in-order failure
      fs.foreach(f => Await.ready(f, Duration.Inf))
      fs.map(_.value.get.get)
    } finally drain(pool)
  }

  /** Shut `pool` down and wait, uninterruptibly, until every task it
    * accepted has finished — so no writer outlives the call that
    * started it, even when that call is unwinding from an exception or
    * an interrupt. An interrupt that arrives during the wait is
    * re-asserted on the thread afterwards. */
  def drain(pool: java.util.concurrent.ExecutorService): Unit = {
    pool.shutdown()
    var interrupted = false
    var done = false
    while (!done)
      try done = pool.awaitTermination(Long.MaxValue,
        java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Two-job convenience for the common "overlap these two writes"
    * call sites. */
  def both(a: => Unit, b: => Unit): Unit = {
    all[Unit](Seq(() => a, () => b))
    ()
  }
}
