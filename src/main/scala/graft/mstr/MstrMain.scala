package graft.mstr

import graft.pipeline.PageRow
import graft.text.TextOps
import org.apache.spark.sql.SparkSession

/** Runnable entry point for the MSTR extraction job — the CLI analog of
  * the reference's driver (mstr-extractor.py:37-197):
  *
  *  - `--filter <s>`   case-insensitive substring over report names
  *                     (mstr-extractor.py:131-135, 162-176)
  *  - `--report <name>` staged name match: exact → case-insensitive →
  *                     accent-normalized → fuzzy best-match
  *                     (report_parser.py:72-128)
  *  - `--report-id <id>` exact id match, case-insensitive
  *                     (report_parser.py:51-69)
  *  - `--dry-run`      count the (filtered) work list, extract nothing
  *                     (mstr-extractor.py:126-136)
  *  - `--locale <code>` pt-BR (default) / en-US
  *  - `--pages <parquet>` read the corpus from a pages-table parquet
  *                     (url, warc_ts, html, text, lang); defaults to the
  *                     deterministic fixture corpus
  *  - `--output-json <dir>` write per-report JSON (the export_to_json
  *                     analog) as a parquet of (report_id, json)
  *  - `--output-table <dir>` RESUMABLE report-JSON sink for --pages
  *                     corpora: a TableIO snapshot table keyed by
  *                     (report id, index-link ordinal). An interrupted
  *                     extraction re-run with the same flags commits
  *                     only the missing reports; always the join plan
  *                     (the unbounded-corpus path — resumability is
  *                     what the fixed orchestration cost buys)
  *  - `--broadcast-max-bytes <n>` plan-dispatch threshold for --pages
  *                     corpora (default 64 MB): at most n on-disk bytes
  *                     → collect + broadcast plan; larger → distributed
  *                     join plan. Same bytes either way.
  *  - `--master <url>`  Spark master (default local[4])
  *
  * Selection precedence mirrors the reference exactly: report-id, then
  * report name, then filter, else all.
  */
object MstrMain {

  final case class Config(filter: Option[String] = None,
                          report: Option[String] = None,
                          reportId: Option[String] = None,
                          dryRun: Boolean = false,
                          lang: String = "pt-BR",
                          pagesPath: Option[String] = None,
                          outputJson: Option[String] = None,
                          outputTable: Option[String] = None,
                          broadcastMaxBytes: Long = DefaultBroadcastMaxBytes,
                          master: String = "local[4]")

  /** Dispatch threshold (on-disk corpus bytes): a corpus this small is
    * cheaper to collect + broadcast (the MstrPipeline plan, ~0 fixed
    * cost) than to run through the staged join plan (~1 s of driver
    * orchestration); larger corpora must stay distributed. 64 MB
    * compressed keeps the broadcast comfortably under typical
    * driver/executor memory even at ~4x decompression.
    */
  val DefaultBroadcastMaxBytes: Long = 64L << 20

  def parseArgs(args: Array[String]): Config = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--filter" :: v :: t => loop(t, c.copy(filter = Some(v)))
      case "--report" :: v :: t => loop(t, c.copy(report = Some(v)))
      case "--report-id" :: v :: t => loop(t, c.copy(reportId = Some(v)))
      case "--dry-run" :: t => loop(t, c.copy(dryRun = true))
      case "--locale" :: v :: t => loop(t, c.copy(lang = v))
      case "--pages" :: v :: t => loop(t, c.copy(pagesPath = Some(v)))
      case "--output-json" :: v :: t => loop(t, c.copy(outputJson = Some(v)))
      case "--output-table" :: v :: t => loop(t, c.copy(outputTable = Some(v)))
      case "--broadcast-max-bytes" :: v :: t =>
        loop(t, c.copy(broadcastMaxBytes = v.toLong))
      case "--master" :: v :: t => loop(t, c.copy(master = v))
      case Nil => c
      case bad :: _ => throw new IllegalArgumentException(s"unknown arg: $bad")
    }
    loop(args.toList, Config())
  }

  /** Narrow the report work list per the reference's precedence.
    * Name selection keeps ALL hits of the first non-empty stage (the
    * reference's extract_report returns every same-named report); the
    * fuzzy stage delegates to the J2 cascade's best-match.
    */
  def selectReports(index: LinkIndex, cfg: Config): Seq[LinkResult] = {
    val links = index.links
    cfg.reportId match {
      case Some(id) =>
        links.filter(_.anchor.equalsIgnoreCase(id))
      case None => cfg.report match {
        case Some(name) =>
          val exact = links.filter(_.name == name)
          if (exact.nonEmpty) exact
          else {
            val ci = links.filter(_.name.equalsIgnoreCase(name))
            if (ci.nonEmpty) ci
            else {
              val norm = TextOps.normalizeForMatching(name)
              val normed = links.filter(l => TextOps.normalizeForMatching(l.name) == norm)
              if (normed.nonEmpty) normed
              else index.findByName(name).toSeq // fuzzy best-match stage
            }
          }
        case None => cfg.filter match {
          case Some(f) =>
            val fl = f.toLowerCase(java.util.Locale.ROOT)
            links.filter(_.name.toLowerCase(java.util.Locale.ROOT).contains(fl))
          case None => links
        }
      }
    }
  }

  /** Dry-run count or full extraction over the selected work list.
    * Returns (selected count, extracted reports) — empty on dry-run.
    */
  def execute(spark: SparkSession, pages: Seq[PageRow],
              cfg: Config): (Long, Seq[ReportJsonRow]) = {
    val loc = MstrLocale.forLang(cfg.lang)
    val indexes = MstrPipeline.buildIndexes(MstrPipeline.corpusFromPages(pages), loc)
    val selected = selectReports(indexes.documento, cfg)
    if (cfg.dryRun) (selected.size.toLong, Nil)
    else {
      val (reports, _, _) =
        MstrPipeline.run(spark, pages, cfg.lang, selection = Some(selected))
      (selected.size.toLong, reports.collect().toSeq)
    }
  }

  /** On-disk corpus size from file status only — no Spark job, no scan.
    * Compressed parquet bytes are a conservative proxy for broadcast
    * cost (decompression expands, which the threshold's margin covers).
    */
  def corpusBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Size-based physical-plan dispatch for an external pages corpus
    * (BASELINE.md rule: broadcast below the threshold, join above it).
    * Below `broadcastMaxBytes` the corpus is collected and run through
    * the broadcast plan — a 30-page export finishes in milliseconds
    * instead of paying the join plan's fixed orchestration; at or above
    * it the pages stay distributed. Both plans are byte-identical
    * (MstrJoinSpec), so the choice is purely physical. Returns the plan
    * name alongside the reports.
    */
  def extractFromParquet(spark: SparkSession, path: String,
                         cfg: Config): (String, org.apache.spark.sql.Dataset[ReportJsonRow]) = {
    import spark.implicits._
    val pagesDs = spark.read.parquet(path).as[PageRow]
    if (corpusBytes(spark, path) <= cfg.broadcastMaxBytes) {
      // same selection-then-extract path the fixture CLI uses — one
      // code path for the broadcast plan regardless of corpus source
      val (_, reports) = execute(spark, pagesDs.collect().toSeq, cfg)
      ("broadcast", spark.createDataset(reports))
    } else {
      ("join", MstrJoinPipeline.run(spark, pagesDs, cfg.lang,
        select = Some(idx => selectReports(idx, cfg))))
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = SparkSession.builder()
      .master(cfg.master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("mstr-extract")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      cfg.pagesPath match {
        case Some(p) =>
          // external pages table: size-dispatched between the broadcast
          // plan (small corpora — no fixed orchestration cost) and the
          // join plan (arbitrarily large corpora — distributed pages,
          // only the index files collected). The selection flags narrow
          // the work list identically in both plans — selection is
          // index-driven, never a corpus scan.
          if (cfg.dryRun) {
            val pagesDs = spark.read.parquet(p).as[PageRow]
            val loc = MstrLocale.forLang(cfg.lang)
            val idxPages = pagesDs.filter((r: PageRow) =>
              r.url.endsWith("/" + loc.documento) || r.url == loc.documento).collect()
            val index = MstrPipeline.buildIndexes(
              MstrPipeline.corpusFromPages(idxPages.toSeq), loc).documento
            val n = selectReports(index, cfg).size
            println(s"Found $n reports" +
              cfg.filter.map(f => s" (filtered by '$f')").getOrElse(""))
          } else cfg.outputTable match {
            case Some(tableDir) =>
              // resumable terminal: only reports not yet committed to
              // the snapshot table are extracted; --output-json may
              // additionally export the full committed view
              val io = new graft.pipeline.TableIO(tableDir)
              val pagesDs = spark.read.parquet(p).as[PageRow]
              val n = MstrJoinPipeline.resumeExtract(spark, pagesDs, io, cfg.lang,
                select = Some(idx => selectReports(idx, cfg)))
              println(s"Committed $n new report(s) [join plan, resumable]: $tableDir")
              cfg.outputJson.foreach { out =>
                io.readTable(spark) match {
                  case Some(t) =>
                    t.drop("resume_key").write.mode("overwrite").parquet(out)
                    println(s"JSON export completed: $out")
                  case None =>
                    // nothing ever committed: claiming success would point
                    // consumers at a nonexistent (or stale) export path
                    println(s"JSON export skipped (no committed reports): $out")
                }
              }
            case None =>
              val (plan, reports) = extractFromParquet(spark, p, cfg)
              println(s"Extracted ${reports.count()} report(s) [$plan plan]")
              cfg.outputJson.foreach { out =>
                reports.toDF().write.mode("overwrite").parquet(out)
                println(s"JSON export completed: $out")
              }
          }
        case None =>
          val pages = graft.fixtures.MstrCorpus.pages
          val (n, reports) = execute(spark, pages, cfg)
          if (cfg.dryRun) println(s"Found $n reports" +
            cfg.filter.map(f => s" (filtered by '$f')").getOrElse(""))
          else {
            println(s"Extracted ${reports.size} report(s) of $n selected")
            cfg.outputJson.foreach { out =>
              spark.createDataset(reports).toDF().write.mode("overwrite").parquet(out)
              println(s"JSON export completed: $out")
            }
          }
      }
    } finally spark.stop()
  }
}
