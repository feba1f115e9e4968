package graft.operators

import org.apache.spark.sql.DataFrame

/** Construct independent sub-plan families from a small driver pool so
  * their blocking collect/localCheckpoint jobs overlap instead of
  * serializing (guide §2.6: "2-3 jobs in flight is plenty" — enough to
  * fill each job's scheduling tail, not enough to fight for cores).
  * Deterministic: tasks must be pure functions of their inputs; the
  * returned Seq preserves task order, and a task failure rethrows at
  * the await. Used by the IVF dial sweep / recall-per-candidate audit
  * (SimilarityOps).
  */
private[operators] object Concurrent {
  def construct(tasks: Seq[() => DataFrame]): Seq[DataFrame] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      tasks.map(t => scala.concurrent.Future(t()))
        .map(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }
}
