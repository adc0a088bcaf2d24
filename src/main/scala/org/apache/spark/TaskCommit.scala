package org.apache.spark

import org.apache.spark.executor.CommitDeniedException

/** The output commit coordinator and the setters of a task's output
  * metrics are `private[spark]`; this one-method bridge lets
  * [[graft.pipeline.TableIO]]'s write task commit its file the way
  * Spark's own writers do.
  */
object TaskCommit {
  /** Asks the driver whether the running task attempt may commit its
    * partition's output. If so, runs `commit` and records `bytes` and
    * `rows` as the task's output metrics; otherwise throws the
    * [[CommitDeniedException]] the scheduler expects from an attempt
    * that lost the commit (another attempt of the partition won it).
    */
  def apply(bytes: Long, rows: Long)(commit: => Unit): Unit = {
    val ctx = TaskContext.get()
    val (stage, part, attempt) = (ctx.stageId(), ctx.partitionId(), ctx.attemptNumber())
    if (!SparkEnv.get.outputCommitCoordinator.canCommit(stage, ctx.stageAttemptNumber(), part, attempt))
      throw new CommitDeniedException(
        s"partition $part attempt $attempt of stage $stage: the driver did not authorize its commit",
        stage, part, attempt)
    commit
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(rows)
  }
}
