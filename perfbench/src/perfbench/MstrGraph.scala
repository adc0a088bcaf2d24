package perfbench

import graft.mstr.{MstrJoinPipeline, MstrPipeline, ReportJsonRow}
import graft.pipeline.PageRow
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** mstr_graph: both physical plans over one `MstrGen` corpus whose
  * cube sections all sit in one content file (`hotCubes`), and the
  * validation stage over it. The join plan's JSON must equal the
  * broadcast plan's per report_id, one row per report.
  */
object MstrGraph {
  final val Lang = "pt-BR"

  def run(ctx: Ctx): Result = {
    val a = ctx.args
    val reports = if (a.toy) 40 else 400
    // made in memory each run: nothing to make ahead of the JVM
    val pages = ctx.inputs(Inputs.mstr(a.seed, reports))
    val conf = Map("spark.sql.shuffle.partitions" -> ctx.nproc.toString)

    def digest(out: Dataset[ReportJsonRow]): (Digest, Seq[Double]) = ctx.span("spark.digest") {
      Digest.of(out.toDF(), "report_id", Seq("report_id", "json"), Seq(sum(octet_length(col("json")))))
    }
    def pagesDs(): Dataset[PageRow] = ctx.span("spark.createDataset") {
      ctx.spark.createDataset(pages)(org.apache.spark.sql.Encoders.product).repartition(ctx.nproc)
    }
    def joinOp(): (Digest, Seq[Double]) = {
      val ds = pagesDs()
      val out = ctx.span("graft.mstr.MstrJoinPipeline.run") {
        MstrJoinPipeline.run(ctx.spark, ds, Lang, internalShufflePartitions = ctx.nproc)
      }
      val d = digest(out)
      out.unpersist(blocking = false)
      d
    }
    def broadcastOp(): (Digest, Seq[Double]) = {
      val (out, _, _) = ctx.span("graft.mstr.MstrPipeline.run") {
        MstrPipeline.run(ctx.spark, pages, Lang, numPartitions = ctx.nproc)
      }
      val d = digest(out)
      ctx.spark.catalog.clearCache()
      d
    }

    var expected: Digest = null
    def validateOp(): (Digest, Seq[Double]) = {
      val v = ctx.span("graft.mstr.MstrPipeline.validation") {
        MstrPipeline.validation(ctx.spark, pages, Lang, numPartitions = ctx.nproc)
      }
      ctx.span("spark.digest") {
        Digest.of(v.toDF(), "", Seq("report_id", "entity", "entity_id", "severity", "rule", "detail"),
          Seq(sum(when(col("severity") === "error" && col("rule") =!= "tipo_enum", 1).otherwise(0))))
      }
    }
    var violations: Digest = null
    /** The same violation rows in every rep, and no errors but the
      * `tipo_enum` ones of the metrics `MstrGen` embeds on purpose.
      */
    def validateCheck(r: (Digest, Seq[Double])): Option[String] =
      if (r._2.head != 0) Some(s"${r._2.head.toLong} unexpected schema errors")
      else if (r._1 != violations) Some(s"violations digest ${r._1} != ${violations}")
      else None
    def against(want: => Digest)(r: (Digest, Seq[Double])): Option[String] =
      if (r._1 != want) Some(s"digest ${r._1} != ${want}") else None
    ctx.setup(ctx.session(ctx.nproc, conf)) {
      val one: ((Digest, Seq[Double])) => Option[String] = r =>
        if (r._1.rows != reports || r._1.keys != reports) Some(s"${r._1.rows} rows / ${r._1.keys} ids, want $reports")
        else None
      var ref: Digest = null
      ctx.checked("warm-up broadcast plan")(broadcastOp()) { r => ref = r._1; one(r) }
      if (expected == null) expected = if (a.corrupt && ref != null) ref.flipped else ref
      // byte-identity across plans: the join plan must match the broadcast plan
      ctx.checked("warm-up join plan")(joinOp())(against(expected))
      ctx.checked("warm-up validation")(validateOp()) { r =>
        if (violations == null) violations = if (a.corrupt) r._1.flipped else r._1
        validateCheck(r)
      }
    }
    // the validation leg is not traced: its plan is the broadcast
    // plan's, which the mstr_broadcast phase traces
    val Seq(legJ, legB, legV) = ctx.legs(a.seconds, ctx.minRounds(4), ctx.warmRounds(1))(
      ctx.spec("mstr_join")(())(joinOp())(against(expected)),
      ctx.spec("mstr_broadcast")(())(broadcastOp())(against(expected)),
      ctx.spec("mstr_validate", traced = false)(())(validateOp())(validateCheck))

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      layer("mstr.json_bytes") = broadcastOp()._2.head
      layer ++= Cores.mstr(pages, Lang)
    }
    ctx.stop()
    val j = reports / legJ.median
    val b = reports / legB.median
    Result(
      Seq("leg1_per_s" -> j, "leg2_per_s" -> b, "leg_ratio" -> j / b, "leg3_s" -> legV.median),
      Seq("mstr_join_reports_per_s" -> j, "mstr_broadcast_reports_per_s" -> b,
        "mstr_validate_s" -> legV.median,
        "mstr_pages" -> pages.size.toDouble),
      layer.toSeq)
  }
}
