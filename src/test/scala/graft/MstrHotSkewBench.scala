package graft

import graft.obs.JobLog
import org.apache.spark.sql.SparkSession

/** Hot-basename skew probe for the join-based MSTR plan
  * (Test/runMain graft.MstrHotSkewBench): generates a corpus whose
  * EVERY cube section lives in one content file (`MstrGen.pages(n,
  * hotCubes = true)`), so the whole dataset-stage request list keys to
  * a single basename. Under the pinned by-file partitioner that file's
  * requests all land in one partition — the suspected straggler.
  *
  * Reports wall seconds plus max/median TASK seconds over the run (a
  * straggler shows as max ≈ wall while the median stays tiny).
  *
  * Env knobs: MSTR_GEN_N (reports, default 20000), MSTR_CORES (default
  * 8), MSTR_REPS (default 2), MSTR_SHAPE (hot | even | fanin, default
  * hot — `hot` packs all cube SECTIONS in one file so the skew is
  * index-visible; `fanin` points every report at ONE shared cube
  * section so the skew is request-traffic-only and invisible to
  * planning-time link counts; `even` is the control), MSTR_ROUTING
  * (adaptive | off, default adaptive) picks the join plan's hot-file
  * routing: `off` drops all salted request routing (the before/after
  * comparison lever).
  */
object MstrHotSkewBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("MSTR_GEN_N", "20000").toInt
    val cores = sys.env.getOrElse("MSTR_CORES", "8").toInt
    val reps = sys.env.getOrElse("MSTR_REPS", "2").toInt
    val shape = sys.env.getOrElse("MSTR_SHAPE", "hot")
    // a typo'd shape must fail, not silently benchmark the even layout
    // under the requested label
    require(Set("hot", "even", "fanin").contains(shape),
      s"MSTR_SHAPE must be hot|even|fanin, got '$shape'")
    import graft.mstr.MstrJoinPipeline.Routing
    val routingName = sys.env.getOrElse("MSTR_ROUTING", "adaptive")
    val routing = routingName match {
      case "adaptive" => Routing.Adaptive
      case "off"      => Routing.Off
      case other =>
        throw new IllegalArgumentException(s"MSTR_ROUTING must be adaptive|off, got '$other'")
    }
    val hot = shape == "hot"
    val fanIn = shape == "fanin"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pages = graft.fixtures.MstrGen.pages(n, hotCubes = hot, fanInCube = fanIn)
    val maxFile = pages.maxBy(_.html.length)
    println(s"PROF corpus: n=$n reports, ${pages.size} pages, " +
      s"${pages.map(_.html.length.toLong).sum / 1024} KiB total, " +
      s"largest file ${maxFile.url} = ${maxFile.html.length / 1024} KiB, " +
      s"cores=$cores shape=$shape routing=$routingName")

    val (rows, log) = (1 to reps).map { _ =>
      val ((res, c), log) = JobLog.record(spark, "mstr_hot_skew") {
        val res = graft.mstr.MstrJoinPipeline.run(spark,
          spark.createDataset(pages).repartition(cores), "pt-BR",
          internalShufflePartitions = cores, routing = routing)
        (res, res.count())
      }
      res.unpersist(blocking = false)
      (c, log)
    }.minBy(_._2.wallS)
    val secs = log.runS
    val mx = secs.lastOption.getOrElse(0.0)
    val md = JobLog.median(secs)
    println(f"""{"metric":"mstr_hot_skew","shape":"$shape","routing":"$routingName","rows":$rows,"wall_sec":${log.wallS}%.2f,"tasks":${secs.length},"task_sec_max":$mx%.2f,"task_sec_median":$md%.3f,"straggler_ratio":${if (md > 0) mx / md else 0.0}%.1f,"cores":$cores,"n":$n}""")
    spark.stop()
  }
}
