package perfbench

import graft.extract.MainContent
import graft.html.{HtmlTokenizer, TagTree}
import graft.mstr.{JsonExport, MstrEngine, MstrLocale, MstrPipeline, Relatorio, Soup}
import graft.pdf.PdfTextExtractor
import graft.pipeline.PageRow
import graft.text.TextOps

/** Per-document cores timed single-threaded on the driver, after
  * warm-up, over a fixed sample of the workload's own inputs. Each
  * number is the median over passes of one pass's cost.
  */
object Cores {
  private object NullSink extends HtmlTokenizer.Sink {
    def startTag(name: String, attrNames: Array[String], attrValues: Array[String], selfClosing: Boolean): Unit = ()
    def endTag(name: String): Unit = ()
    def text(t: String): Unit = ()
    def comment(t: String): Unit = ()
  }

  /** Median ns of one pass of each body. Passes of the bodies are
    * interleaved, so JIT state and machine noise are shared between
    * bodies that are compared, and run for about `budgetS` after five
    * warm-up rounds.
    */
  private def passNs(budgetS: Double, bodies: (() => Unit)*): Seq[Double] = {
    (1 to 5).foreach(_ => bodies.foreach(_()))
    val xs = bodies.map(_ => scala.collection.mutable.ArrayBuffer.empty[Double])
    val end = System.nanoTime() + (budgetS * 1e9).toLong
    while (xs.head.size < 9 || (System.nanoTime() < end && xs.head.size < 400)) {
      bodies.zip(xs).foreach { case (b, x) =>
        val t0 = System.nanoTime(); b(); x += (System.nanoTime() - t0).toDouble
      }
    }
    xs.map(x => Stats.median(x.toSeq))
  }

  private var sink = 0L // keeps results observable so passes are not elided

  /** Decode, tokenize and tag-tree cost per KB of html, for any pages. */
  private def html(pages: Seq[PageRow], decode: Array[Byte] => String): Seq[(String, Double)] = {
    val kb = pages.map(_.html.length.toLong).sum / 1024.0
    val strs = pages.map(p => decode(p.html))
    val Seq(dec, tok, tree) = passNs(1.0,
      () => pages.foreach(p => sink += decode(p.html).length),
      () => strs.foreach(h => HtmlTokenizer.tokenize(h, NullSink)),
      () => strs.foreach(h => sink += TagTree.parse(h).size))
    Seq("text.decode_ns_per_kb" -> dec / kb, "html.tokenize_ns_per_kb" -> tok / kb,
      "html.tagtree_self_ns_per_kb" -> (tree - tok) / kb)
  }

  def web(sample: Seq[PageRow]): Seq[(String, Double)] = {
    val (pdfs, pages) = sample.partition(p => PdfTextExtractor.isPdf(p.html))
    val kb = pages.map(_.html.length.toLong).sum / 1024.0
    val trees = pages.map(p => TagTree.parse(TextOps.decodeUtf8Replace(p.html)))
    val blocks = trees.map(MainContent.segment)
    val pdfKb = pdfs.map(_.html.length.toLong).sum / 1024.0
    val Seq(seg, cls, pdf) = passNs(0.6,
      () => trees.foreach(t => sink += MainContent.segment(t).size),
      () => blocks.foreach(b => sink += MainContent.classify(b).length),
      () => pdfs.foreach(p => sink += PdfTextExtractor.extractText(p.html).length))
    html(pages, TextOps.decodeUtf8Replace) ++ Seq(
      "extract.segment_ns_per_kb" -> seg / kb, "extract.classify_ns_per_kb" -> cls / kb,
      "pdf.extract_ns_per_kb" -> pdf / pdfKb)
  }

  /** MSTR cores over the whole corpus in url order (independent of the
    * seeded page order): Soup parse per KB, then report assembly and
    * JSON export per report against pre-parsed soups, with a fresh
    * engine (empty entity caches) per pass.
    */
  def mstr(pages: Seq[PageRow], lang: String): Seq[(String, Double)] = {
    val sorted = pages.sortBy(_.url)
    val kb = sorted.map(_.html.length.toLong).sum / 1024.0
    val corpus = MstrPipeline.corpusFromPages(sorted)
    val Seq(soupNs) = passNs(0.4, () => corpus.values.foreach(h => sink += Soup.parse(h).t.size))
    val loc = MstrLocale.forLang(lang)
    val indexes = MstrPipeline.buildIndexes(corpus, loc)
    val soups = corpus.map { case (k, v) => k -> Soup.parse(v) }
    val work = indexes.documento.links.take(100)
    var reports: Seq[Relatorio] = Nil
    val Seq(engineNs) = passNs(0.5, () => {
      val engine = new MstrEngine(indexes, soups.get, loc)
      reports = work.flatMap(engine.extractReport)
    })
    val Seq(jsonNs) = passNs(0.3, () => reports.foreach(r => sink += JsonExport.exportOne(r).length))
    html(sorted, TextOps.decodeLatin1) ++ Seq(
      "mstr.soup_parse_ns_per_kb" -> soupNs / kb,
      "mstr.engine_ms_per_report" -> engineNs / 1e6 / work.size,
      "mstr.json_us_per_report" -> jsonNs / 1e3 / reports.size)
  }
}
