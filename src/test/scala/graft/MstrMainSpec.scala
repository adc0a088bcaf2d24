package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.MstrCorpus
import graft.mstr.{MstrMain, MstrLocale, MstrPipeline}

/** Driver CLI semantics (mstr-extractor.py:37-197): selection
  * precedence, staged name matching, ci filter, dry-run.
  */
class MstrMainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val RID = MstrCorpus.RID
  private val RID2 = MstrCorpus.RID2
  private def index = MstrPipeline
    .buildIndexes(MstrPipeline.corpusFromPages(MstrCorpus.pages), MstrLocale.ptBR)
    .documento
  import MstrMain.Config

  test("arg parsing covers every reference flag") {
    val c = MstrMain.parseArgs(Array("--filter", "vendas", "--report-id", RID,
      "--dry-run", "--locale", "pt-BR", "--output-json", "/tmp/x"))
    assert(c == Config(filter = Some("vendas"), reportId = Some(RID), dryRun = true,
      lang = "pt-BR", outputJson = Some("/tmp/x")))
    assert(MstrMain.parseArgs(Array("--master", "local[2]")).master == "local[2]")
    assert(MstrMain.parseArgs(Array.empty).master == "local[4]")
    intercept[IllegalArgumentException](MstrMain.parseArgs(Array("--nope")))
  }

  test("--report-id: exact id, case-insensitive; unknown id selects nothing") {
    assert(MstrMain.selectReports(index, Config(reportId = Some(RID)))
      .map(_.name) == Seq("Relatório de Vendas"))
    assert(MstrMain.selectReports(index, Config(reportId = Some(RID.toLowerCase)))
      .map(_.name) == Seq("Relatório de Vendas"))
    assert(MstrMain.selectReports(index, Config(reportId = Some("F" * 32))).isEmpty)
  }

  test("--report: staged match exact -> ci -> normalized -> fuzzy") {
    def sel(n: String) = MstrMain.selectReports(index, Config(report = Some(n))).map(_.name)
    assert(sel("Relatório de Vendas") == Seq("Relatório de Vendas")) // exact
    assert(sel("relatório VAZIO") == Seq("Relatório Vazio"))         // ci
    assert(sel("relatorio de vendas") == Seq("Relatório de Vendas")) // accent-normalized
    assert(sel("Relatório de Vend") == Seq("Relatório de Vendas"))   // fuzzy best-match
    assert(sel("zzz nothing") == Nil)
  }

  test("--filter: ci substring over names; no flags selects all") {
    assert(MstrMain.selectReports(index, Config(filter = Some("VAZIO")))
      .map(_.name) == Seq("Relatório Vazio"))
    assert(MstrMain.selectReports(index, Config()).size == 2)
  }

  test("--report-id takes precedence over --report and --filter") {
    val c = Config(reportId = Some(RID2), report = Some("Relatório de Vendas"),
      filter = Some("vendas"))
    assert(MstrMain.selectReports(index, c).map(_.name) == Seq("Relatório Vazio"))
  }

  test("selection narrows the join-based plan identically (--pages path)") {
    import spark.implicits._
    val pagesDs = spark.createDataset(MstrCorpus.pages).repartition(3)
    val cfg = Config(reportId = Some(RID))
    val joined = graft.mstr.MstrJoinPipeline.run(spark, pagesDs, "pt-BR",
      select = Some(idx => MstrMain.selectReports(idx, cfg)))
      .collect()
    assert(joined.map(_.report_id).toSeq == Seq(RID))
    // same single report as the broadcast plan produces for that id
    val viaBroadcast = MstrPipeline.run(spark, MstrCorpus.pages, "pt-BR")._1
      .collect().filter(_.report_id == RID)
    assert(joined.head.json == viaBroadcast.head.json)
  }

  test("size dispatch: small --pages corpus takes the broadcast plan, large the join plan, same bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mstr-dispatch").toString
    spark.createDataset(MstrCorpus.pages).write.mode("overwrite").parquet(dir)
    // fixture parquet is a few hundred KB — under the default threshold
    assert(MstrMain.corpusBytes(spark, dir) > 0)
    val (planSmall, small) = MstrMain.extractFromParquet(spark, dir, Config())
    assert(planSmall == "broadcast", "small corpus must take the broadcast plan")
    // force the corpus to count as large: threshold 0 routes to the join plan
    val (planLarge, large) =
      MstrMain.extractFromParquet(spark, dir, Config(broadcastMaxBytes = 0L))
    assert(planLarge == "join", "over-threshold corpus must take the join plan")
    val a = small.collect().map(r => r.report_id -> r.json).toMap
    val b = large.collect().map(r => r.report_id -> r.json).toMap
    assert(a == b, "both plans must produce identical bytes")
    assert(a.nonEmpty)
  }

  test("--dry-run counts without extracting; selection drives extraction") {
    val (nDry, none) = MstrMain.execute(spark, MstrCorpus.pages,
      Config(dryRun = true, filter = Some("relatório")))
    assert(nDry == 2 && none.isEmpty)
    val (n1, reports) = MstrMain.execute(spark, MstrCorpus.pages,
      Config(reportId = Some(RID)))
    assert(n1 == 1)
    assert(reports.map(_.report_id) == Seq(RID))
    // the single-report extraction equals the full run's row for RID
    val full = MstrPipeline.run(spark, MstrCorpus.pages, "pt-BR")._1
      .collect().filter(_.report_id == RID)
    assert(reports.head.json == full.head.json)
  }
}
