package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

/** Run independent driver-side tasks from a small pool so their
  * blocking collect/localCheckpoint/fit jobs overlap instead of
  * serializing (guide §2.6: "2-3 jobs in flight is plenty" — enough to
  * fill each job's scheduling tail, not enough to fight for cores).
  * Deterministic: tasks must be pure functions of their inputs; the
  * returned Seq preserves task order. Every task runs to completion
  * before the call returns, so no task is still launching jobs after a
  * sibling fails; the first failure in task order is then rethrown.
  * Used by the IVF dial sweep / recall-per-candidate audit
  * (SimilarityOps) and the recall/rank model fits (Pipeline).
  */
private[graft] object Concurrent {
  def run[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(3)
    try {
      // invokeAll returns only once every task has completed
      val done = pool.invokeAll(tasks.map(t => (() => t()): Callable[A]).asJava)
      done.asScala.toSeq.map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }
}
