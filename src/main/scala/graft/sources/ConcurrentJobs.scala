package graft.sources

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Run independent Spark actions concurrently from a bounded driver pool
  * (guide §2.6 — actions are only sequential because the driver calls them
  * sequentially; concurrent jobs back-fill each other's task tails, and at
  * gate/build batch sizes the wall is driver-gap-dominated, so overlapping
  * the jobs collapses those gaps). Returns each task's result in task
  * order. Every task is awaited before return; the first failure IN TASK
  * ORDER rethrows after all complete, so no write is ever abandoned
  * mid-flight and a caller that puts its precondition check first gets
  * that check's error, whatever finished first.
  *
  * The pool is created per call, so its threads start from the caller's
  * thread and inherit its Spark local properties (job group, scheduler
  * pool, any tracing property) — the jobs a task starts are attributed
  * like the caller's own. Callers own the ordering contracts: anything
  * crash-ordered (gate-authority-first rules) must stay OUTSIDE a single
  * concurrent group.
  */
object ConcurrentJobs {
  def run[T](tasks: Seq[() => T], parallelism: Int = 3): Seq[T] = {
    if (tasks.size <= 1) return tasks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, tasks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val done = tasks.map(t => Future(t())).map(f => Try(Await.result(f, Duration.Inf)))
      done.map(_.get)
    } finally { pool.shutdown(); () }
  }
}
