package graft.obs

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What one body of Spark work ran: its jobs, its submitted stages (a
  * skipped stage never submits) and every task of those stages, with
  * its run time, GC time, shuffle-write and spill bytes. Built by
  * [[JobLog.record]]; [[json]] sums it up under perfbench's per-layer
  * metric names.
  */
final case class JobLog(label: String, wallS: Double, jobs: Seq[JobLog.Job],
                        stages: Seq[Int], tasks: Seq[JobLog.Task]) {
  /** Task run seconds, ascending. */
  def runS: Seq[Double] = tasks.map(_.runMs / 1e3).sorted

  def json: String = {
    val run = runS
    f"""{"label":"$label","jobs":${jobs.size},"stages":${stages.size},"tasks":${tasks.size},""" +
      f""""task_s_sum":${run.sum}%.3f,"task_s_max":${run.lastOption.getOrElse(0.0)}%.3f,""" +
      f""""task_s_median":${JobLog.median(run)}%.3f,"gc_s":${tasks.map(_.gcMs).sum / 1e3}%.3f,""" +
      s""""shuffle_write_bytes":${tasks.map(_.shuffleWriteBytes).sum},""" +
      s""""spill_bytes":${tasks.map(_.spillBytes).sum}}"""
  }
}

object JobLog {
  final case class Job(id: Int, description: Option[String], startMs: Long, endMs: Long)
  final case class Task(stageId: Int, runMs: Long, gcMs: Long, shuffleWriteBytes: Long,
                        spillBytes: Long)

  /** Runs `body` under a fresh job tag and logs the jobs that carry it.
    * The caller's job group and description are left alone. The
    * listener bus is drained after `body` returns and before anything
    * is read, so no task-end event still in flight is missed.
    * `wallS` times `body` alone.
    */
  def record[T](spark: SparkSession, label: String)(body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    val tag = s"graft-joblog-${java.util.UUID.randomUUID()}"
    val listener = new Listener(tag)
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val out = try body finally sc.removeJobTag(tag)
      val wallS = (System.nanoTime() - t0) / 1e9
      org.apache.spark.ListenerDrain(sc)
      (out, listener.log(label, wallS))
    } finally sc.removeSparkListener(listener)
  }

  def median(sorted: Seq[Double]): Double = {
    val n = sorted.size
    if (n == 0) 0.0
    else if (n % 2 == 1) sorted(n / 2)
    else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }

  private final class Listener(tag: String) extends SparkListener {
    private val jobs = ArrayBuffer.empty[Job]
    private val stages = ArrayBuffer.empty[Int]
    private val tasks = ArrayBuffer.empty[Task]

    // job tags ride the job's local properties, comma-separated
    private def tagged(p: java.util.Properties): Boolean =
      p != null && Option(p.getProperty("spark.job.tags")).exists(_.split(",").contains(tag))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (tagged(e.properties))
        jobs += Job(e.jobId, Option(e.properties.getProperty("spark.job.description")), e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = jobs.indexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (tagged(e.properties)) stages += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stages.contains(e.stageId))
        tasks += Task(e.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }

    def log(label: String, wallS: Double): JobLog = synchronized {
      JobLog(label, wallS, jobs.toSeq, stages.toSeq, tasks.toSeq)
    }
  }
}
