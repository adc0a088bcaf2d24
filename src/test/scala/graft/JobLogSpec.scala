package graft

import graft.obs.JobLog
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** [[JobLog]] reads only after the listener bus drains, logs submitted
  * stages only, and leaves the caller's job group and description alone.
  */
class JobLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the first read after the body returns sees every task, behind a slow listener") {
    val sc = spark.sparkContext
    // ~5 ms per task end keeps the shared bus queue busy well after
    // the job itself has returned
    val slow = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit =
        if (e.isInstanceOf[SparkListenerTaskEnd]) Thread.sleep(5)
    }
    def callerState = (sc.getLocalProperty("spark.jobGroup.id"),
      sc.getLocalProperty("spark.job.description"), sc.getJobTags())
    sc.addSparkListener(slow)
    sc.setJobGroup("caller-group", "caller group")
    sc.setJobDescription("caller description")
    val before = callerState
    try {
      val log = JobLog.record(spark, "64 tasks")(sc.parallelize(1 to 64, 64).count())._2
      assert(log.jobs.size == 1 && log.tasks.size == 64,
        s"read before the bus drained: ${log.jobs.size} jobs, ${log.tasks.size} tasks")
      assert(log.jobs.head.description.contains("caller description"))
      assert(callerState == before)
    } finally { sc.removeSparkListener(slow); sc.clearJobGroup() }
  }

  test("a skipped stage is not logged") {
    val counts = spark.sparkContext.parallelize(1 to 100, 4).map(i => (i % 7, 1)).reduceByKey(_ + _)
    assert(JobLog.record(spark, "first")(counts.count())._2.stages.size == 2)
    // the map output is still registered, so the second job skips that stage
    assert(JobLog.record(spark, "again")(counts.count())._2.stages.size == 1)
  }
}
