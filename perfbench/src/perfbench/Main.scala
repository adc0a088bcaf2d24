package perfbench

import java.nio.file.{Files, Paths}

/** What a workload hands back: its end-to-end metrics (the slots every
  * workload fills), the workload's own names for them, and the
  * per-layer numbers it measured in a traced run.
  */
final case class Result(endToEnd: Seq[(String, Double)], named: Seq[(String, Double)],
                        layer: Seq[(String, Double)])

object Result {
  /** What an inputs-only run hands back. */
  val InputsOnly: Result = Result(Nil, Nil, Nil)
}

/** Runs one workload and prints, on stdout, a `PERFBENCH-INFO` line of
  * named numbers and box state, then a `PERFBENCH-RESULT` line holding
  * the result object (`correct`, `attempted`, `failed`, `metrics`).
  * With `--inputs-only 1` it only makes and caches the seed's inputs
  * (web_extract), so that the measured JVM finds them ready.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--inputs <dir>] [--scale toy]
  *                  [--corrupt-expected 1] [--inputs-only 1]
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "leg1_per_s" -> "items/s", "leg2_per_s" -> "items/s",
    "leg_ratio" -> "ratio", "leg3_s" -> "s")

  val Phases = Seq("extract", "extract_1core", "resume", "mstr_join", "mstr_broadcast",
    "span_dedup", "para_dedup")
  private val phaseMetrics = Seq(
    "jobs" -> "count", "tasks" -> "count", "task_s_sum" -> "s", "task_s_max" -> "s",
    "task_s_median" -> "s", "core_packing" -> "ratio", "driver_gap_s" -> "s",
    "catalyst_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "output_bytes" -> "bytes", "uncovered_s" -> "s")
  val PerLayer: Seq[(String, String)] =
    Phases.flatMap(p => phaseMetrics.map { case (m, u) => s"$p.$m" -> u }) ++ Seq(
      "text.decode_ns_per_kb" -> "ns/KB", "html.tokenize_ns_per_kb" -> "ns/KB",
      "html.tagtree_self_ns_per_kb" -> "ns/KB", "extract.segment_ns_per_kb" -> "ns/KB",
      "extract.classify_ns_per_kb" -> "ns/KB", "pdf.extract_ns_per_kb" -> "ns/KB",
      "mstr.soup_parse_ns_per_kb" -> "ns/KB", "mstr.engine_ms_per_report" -> "ms/report",
      "mstr.json_us_per_report" -> "us/report",
      "pipeline.docs" -> "count", "pipeline.parse_failures" -> "count",
      "extract.keep_ratio" -> "ratio", "tableio.pending_ratio" -> "ratio",
      "mstr.json_bytes" -> "bytes", "dedup.span_removed_ratio" -> "ratio",
      "dedup.para_removed_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio",
      "error_rate" -> "share")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(spec: Seq[(String, String)], values: Map[String, Double]): String =
    spec.map { case (n, u) => s""""$n":{"value":${num(values.getOrElse(n, 0.0))},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  private def runWorkload(ctx: Ctx): Result = ctx.args.workload match {
    case "web_extract" => WebExtract.run(ctx)
    case "mstr_graph" => MstrGraph.run(ctx)
    case "corpus_dedup" => CorpusDedup.run(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val ctx = new Ctx(a)
    val r = runWorkload(ctx)
    ctx.stop()
    if (a.inputsOnly) sys.exit(0)
    val errorRate = ctx.failed.toDouble / math.max(1, ctx.attempted)
    val named = (r.named ++ Seq("error_rate" -> errorRate, "setup_s" -> ctx.setupS))
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    println(s"""PERFBENCH-INFO {"workload":"${a.workload}","seed":${a.seed},"named":$named,""" +
      s""""box":${ctx.boxLine()}}""")
    ctx.failures.foreach(f => println(s"PERFBENCH-FAILURE $f"))

    val metrics =
      if (!a.trace) metricsJson(EndToEnd, (r.endToEnd :+ ("setup_s" -> ctx.setupS)).toMap)
      else {
        val phase = ctx.phaseLayer.flatMap { case (p, ms) => ms.map { case (m, v) => s"$p.$m" -> v } }
        val overhead = if (ctx.overhead.isEmpty) 0.0 else ctx.overhead.max
        writeTrace(ctx)
        metricsJson(PerLayer, (phase ++ r.layer ++ Seq("trace.overhead_ratio" -> overhead,
          "error_rate" -> errorRate)).toMap)
      }
    val correct = ctx.failed == 0
    println(s"""PERFBENCH-RESULT {"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$metrics}""")
    sys.exit(0)
  }

  /** Spans (with self time), jobs and stages as JSON lines. */
  private def writeTrace(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val lines = t.all.map(s =>
      s"""{"run_id":"${t.runId}","kind":"span","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${t.selfNs(s)}}""") ++
      ctx.collector.jobLines(t.runId)
    val dir = Paths.get(ctx.args.work, "trace")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${t.runId}.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
