package graft
import graft.obs.JobLog
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query benchmark for optimization work (guide §1.4): the
  * SAME session shape and timing methodology as the frozen
  * [[graft.Bench]] (master/shuffle partitions from `SPARK_GRAFT_CPUS`,
  * data dir from `SPARK_GRAFT_SF_DIR`, `df.count()` as the action) but
  * over a caller-chosen query subset with a caller-chosen rep count,
  * printing every rep so floors and steal spikes are visible. Every
  * rep runs under [[graft.obs.JobLog]]; the best rep's jobs, stages
  * and task times follow as one JSON line per query.
  * Usage: `runMain graft.BenchExtra <query>[,<query>...] [reps]`.
  * This main is measurement-only tooling; the driver's numbers come
  * from the untouched [[graft.Bench]].
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val logs = (1 to reps).map { i =>
        val (rows, log) = JobLog.record(spark, name)(fn(spark, sfDir).count())
        println(f"XBENCH $name rep$i ${log.wallS}%.3f s rows=$rows")
        log
      }
      val best = logs.minBy(_.wallS)
      println(f"XBENCH $name min ${best.wallS}%.3f s")
      println(best.json)
    }
    spark.stop()
  }
}
