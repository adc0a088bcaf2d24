package perfbench

import graft.pipeline.{ExtractPipeline, PageRow, PartitionLineage, TableIO}
import org.apache.spark.sql.functions._

/** web_extract: cold `resumeExtract` into an empty table at
  * local[nproc] (phase a) and at local[1] with the same split layout
  * (phase b), then a warm resume over the base plus a 5% delta after
  * `rollbackTo` the base snapshot (phase c).
  */
object WebExtract {
  /** Fixed split count for both core counts: Spark otherwise sizes
    * file splits from defaultParallelism, and the two legs would get
    * different task counts.
    */
  final val Splits = 16

  def run(ctx: Ctx): Result = {
    val a = ctx.args
    val n = if (a.toy) 400 else 3200
    var in: Inputs.Web = null
    def conf = Map("spark.sql.shuffle.partitions" -> ctx.nproc.toString,
      "spark.sql.files.minPartitionNum" -> Splits.toString)
    def start(): Unit = {
      ctx.session(ctx.nproc, conf)
      in = ctx.inputs(Inputs.web(a.work, a.seed, n))
    }
    if (a.inputsOnly) { Inputs.web(a.work, a.seed, n); return Result.InputsOnly }
    // --corrupt-expected (self-test): a wrong golden must fail the check
    def gold = if (a.corrupt) in.base.flipped else in.base
    val tables = s"${a.work}/tables/${ctx.runId}"

    def pages(paths: String*) = ctx.span("spark.read.parquet") {
      ctx.spark.read.parquet(paths: _*).as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    }
    def extract(io: TableIO, paths: String*): Long = {
      val ds = pages(paths: _*)
      ctx.span("graft.pipeline.TableIO.resumeExtract") { TableIO.resumeExtract(io, ds) }
    }
    /** Committed table matches the goldens: the same (url, text)
      * digest and row count as the goldens' distinct urls (so each url
      * once), and no parse failures.
      */
    def tableCheck(io: TableIO, want: Digest): Option[String] = {
      val t = io.readTable(ctx.spark).get
      val (d, ex) = Digest.of(t, "", Seq("url", "text"), Seq(sum(when(col("parse_ok"), 0).otherwise(1))))
      if (d.rows != want.rows || d.sum != want.sum) Some(s"table digest $d != golden $want")
      else if (ex.head != 0) Some(s"${ex.head.toLong} parse failures")
      else None
    }
    val coldRoot = s"$tables/cold"
    def coldOp(): (TableIO, Long) = { val io = new TableIO(coldRoot); (io, extract(io, in.pagesDir)) }
    def coldCheck(r: (TableIO, Long)): Option[String] =
      if (r._2 != in.nBase) Some(s"committed ${r._2} rows, want ${in.nBase}") else tableCheck(r._1, gold)

    // phase (c)'s table: the base committed once in the set-up, and
    // rolled back to before each resume
    val resumeRoot = s"$tables/resume"
    val io = new TableIO(resumeRoot)
    var baseId = 0L
    def both = Digest(gold.rows + in.delta.rows, gold.keys + in.delta.keys, gold.sum + in.delta.sum)
    def resumeOp(): Long = extract(io, in.pagesDir, in.deltaDir)
    def resumeCheck(r: Long): Option[String] =
      if (r != in.nDelta) Some(s"resume committed $r rows, want ${in.nDelta}") else tableCheck(io, both)

    ctx.setup(start()) {
      Inputs.deleteTree(coldRoot)
      ctx.checked("warm-up extract")(coldOp())(coldCheck).foreach(w => ctx.log(s"warm-up extract $w"))
      Inputs.deleteTree(resumeRoot)
      ctx.checked("resume base")(extract(io, in.pagesDir))(r => if (r == in.nBase) None else Some(s"base $r rows"))
      baseId = io.snapshots().last.id
      ctx.checked("warm-up resume")(resumeOp())(resumeCheck)
      ctx.spark.read.parquet(in.pagesDir, in.deltaDir).selectExpr("sum(length(html))").collect()
    }
    val budget = a.seconds

    // phase (a), cold extract at local[nproc], takes turns with phase
    // (c), the warm resume over base + delta from the base snapshot
    val Seq(legA, legC) = ctx.legs(budget * 0.55, ctx.minRounds(4), ctx.warmRounds(2))(
      ctx.spec("extract")(Inputs.deleteTree(coldRoot))(coldOp())(coldCheck),
      ctx.spec("resume")(io.rollbackTo(baseId))(resumeOp())(resumeCheck))

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      io.rollbackTo(baseId)
      val input = ctx.spark.read.parquet(in.pagesDir, in.deltaDir)
      layer("tableio.pending_ratio") = io.pending(input, "url").count().toDouble / input.count()
      val acc = ctx.spark.sparkContext.collectionAccumulator[PartitionLineage]("lineage")
      ExtractPipeline.run(pages(in.pagesDir), "utf-8", 0, Some(acc)).count()
      import scala.jdk.CollectionConverters._
      val parts = acc.value.asScala.toSeq
      layer("pipeline.docs") = parts.map(_.docs).sum.toDouble
      layer("pipeline.parse_failures") = parts.map(_.parse_failures).sum.toDouble
      layer("extract.keep_ratio") = parts.map(_.text_chars).sum.toDouble / parts.map(_.html_bytes).sum
      layer ++= Cores.web((0 until 400).map(i => Inputs.webRow(a.seed, i)._1))
    }

    // phase (b): the same cold job at local[1], same split layout
    ctx.session(1, conf)
    val Seq(legB) = ctx.legs(budget * 0.45, ctx.minRounds(3), ctx.warmRounds(0))(
      ctx.spec("extract_1core")(Inputs.deleteTree(coldRoot))(coldOp())(coldCheck))
    ctx.stop()

    val docsA = in.nBase / legA.median
    val docsB = in.nBase / legB.median
    Result(
      Seq("leg1_per_s" -> docsA, "leg2_per_s" -> docsB,
        "leg_ratio" -> docsA / docsB / ctx.nproc, "leg3_s" -> legC.median),
      Seq("extract_docs_per_s" -> docsA, "extract_1core_docs_per_s" -> docsB,
        "scaling_eff" -> docsA / docsB / ctx.nproc, "resume_s" -> legC.median,
        "input_html_mb" -> in.htmlBytes / 1e6),
      layer.toSeq)
  }
}
