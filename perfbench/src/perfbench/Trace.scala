package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are opened by the
  * benchmark's own code around each call into a layer of the program
  * (name, start, end, parent, run id); Spark jobs started inside a span
  * are tied to it through the `perfbench.span` local property and a job
  * description. Everything stays in memory and is written out as JSON
  * lines when the run ends.
  */
final class Tracer(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int,
                        startNs: Long, startMs: Long,
                        var endNs: Long = -1L, var endMs: Long = -1L) {
    def durNs: Long = endNs - startNs
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val s = Span(spans.size + 1, name, open.headOption.map(_.id).getOrElse(0),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    val prevSpan = sc.getLocalProperty("perfbench.span")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("perfbench.span", s.id.toString)
    sc.setJobDescription(s"perfbench $runId span ${s.id} $name")
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty("perfbench.span", prevSpan)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Ids of `id` and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = children(id).map(_.id)
    kids.flatMap(subtree).toSet ++ kids + id
  }

  /** Duration minus the part of the interval its children cover. */
  def selfNs(s: Span): Long =
    s.durNs - Intervals.union(children(s.id).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
}

object Intervals {
  /** Length of the union of `xs`, clipped to [lo, hi]. */
  def union(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Collects job, stage and task facts from the listener bus, and
  * Catalyst phase times from each finished query's planning tracker.
  * Every buffer is written and read under this object's lock, and
  * readers drain the bus first ([[SparkCollector.detach]]).
  */
final class SparkCollector {
  final case class Job(id: Int, span: Int, startMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, span: Int, var submitMs: Long = -1L, var endMs: Long = -1L,
                         var shuffleWrite: Long = 0L)
  final case class Task(span: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
                        spill: Long, output: Long)
  final case class Query(startMs: Long, catalystMs: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.Map.empty[Int, Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val queries = ArrayBuffer.empty[Query]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkCollector.this.synchronized {
      val span = spanOf(e.properties)
      jobs += Job(e.jobId, span, e.time, e.stageIds)
      e.stageIds.foreach(id => stages.getOrElseUpdate(id, Stage(id, span)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = SparkCollector.this.synchronized {
      val st = stages.getOrElseUpdate(e.stageInfo.stageId, Stage(e.stageInfo.stageId, spanOf(e.properties)))
      st.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkCollector.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach { st =>
        if (st.submitMs < 0) st.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
        st.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkCollector.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val st = stages.get(e.stageId)
        st.foreach(_.shuffleWrite += m.shuffleWriteMetrics.bytesWritten)
        tasks += Task(st.map(_.span).getOrElse(0), m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty) SparkCollector.this.synchronized {
        queries += Query(parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Drain the bus so every event of the traced work has been
    * delivered, then stop listening.
    */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** The twelve Spark metrics of one phase: its jobs, stages and tasks
    * are those tied to any span in `spanIds`; Catalyst time is taken
    * from queries whose planning started inside the phase window.
    */
  def phaseMetrics(spanIds: Set[Int], startMs: Long, endMs: Long, wallS: Double,
                   cores: Int): Seq[(String, Double)] = synchronized {
    val js = jobs.filter(j => spanIds(j.span))
    val ts = tasks.filter(t => spanIds(t.span))
    val run = ts.map(_.runMs / 1e3).sorted.toSeq
    val busy = run.sum
    val st = stages.values.filter(s => spanIds(s.span) && s.submitMs > 0 && s.endMs > 0)
      .map(s => (s.submitMs, s.endMs)).toSeq
    val covered = Intervals.union(st, startMs, endMs) / 1e3
    val catalyst = queries.filter(q => q.startMs >= startMs && q.startMs <= endMs)
      .map(_.catalystMs).sum / 1e3
    Seq(
      "jobs" -> js.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_s_sum" -> busy,
      "task_s_max" -> run.lastOption.getOrElse(0.0),
      "task_s_median" -> Stats.median(run),
      "core_packing" -> (if (wallS > 0) busy / (wallS * cores) else 0.0),
      "driver_gap_s" -> math.max(0.0, (endMs - startMs) / 1e3 - covered),
      "catalyst_s" -> catalyst,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "output_bytes" -> ts.map(_.output).sum.toDouble)
  }

  def jobLines(runId: String): Seq[String] = synchronized {
    jobs.map(j => s"""{"run_id":"$runId","kind":"job","job_id":${j.id},"span":${j.span},""" +
      s""""start_ms":${j.startMs},"stages":${j.stages.mkString("[", ",", "]")}}""").toSeq ++
      stages.values.toSeq.sortBy(_.id).map(s =>
        s"""{"run_id":"$runId","kind":"stage","stage_id":${s.id},"span":${s.span},"submit_ms":${s.submitMs},"end_ms":${s.endMs},"shuffle_write_bytes":${s.shuffleWrite}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
