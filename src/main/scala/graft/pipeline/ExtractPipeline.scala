package graft.pipeline

import graft.extract.MainContent
import graft.text.TextOps
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** The core extraction job: `Dataset[PageRow] → Dataset[ExtractedDoc]`.
  *
  * One narrow `mapPartitions` pass — no shuffle in the hot path. Skew
  * (heavy-tailed page sizes, north rule) is handled explicitly and
  * BEFORE the map: a salted repartition on `hash(url)` spreads rows
  * uniformly, and giant pages (html length above `giantThreshold`) are
  * routed to their own partitions so one 100 MB page doesn't straggle
  * a partition of small ones. AQE only fixes join/shuffle skew, not
  * map-side compute skew, hence the explicit routing (SURVEY.md §4).
  */
object ExtractPipeline {

  /** Decode rule per corpus (SURVEY.md §1.2: the reference's ladder is
    * Latin-1 in practice; generic web corpora are UTF-8).
    */
  def decode(bytes: Array[Byte], charset: String): String = charset match {
    case "latin-1" => TextOps.decodeLatin1(bytes)
    case _         => TextOps.decodeUtf8Replace(bytes)
  }

  /** One page's main text with its (blocks, content blocks) counts —
    * the one per-document text function behind both [[extractOne]] and
    * the `extract_main_text` expression. PDFs (north rule "PDF/layout
    * parse") are sniffed on their magic bytes and read by the
    * layout-aware text ops interpreter, one block per line; everything
    * else is decoded by `charset` and segmented as HTML.
    */
  def textOf(bytes: Array[Byte], charset: String): (String, Int, Int) =
    if (graft.pdf.PdfTextExtractor.isPdf(bytes)) {
      val text = graft.pdf.PdfTextExtractor.extractText(bytes)
      val nLines = if (text.isEmpty) 0 else text.count(_ == '\n') + 1
      (text, nLines, nLines)
    } else {
      val (text, st) = MainContent.extractWithStats(decode(bytes, charset))
      (text, st.blocks, st.contentBlocks)
    }

  def extractOne(p: PageRow, charset: String): ExtractedDoc = {
    try {
      val (text, blocks, contentBlocks) = textOf(p.html, charset)
      ExtractedDoc(p.url, p.warc_ts, text, p.lang, blocks, contentBlocks,
        p.html.length.toLong, text.length.toLong, parse_ok = true)
    } catch {
      case _: Exception =>
        ExtractedDoc(p.url, p.warc_ts, "", p.lang, 0, 0,
          if (p.html == null) 0L else p.html.length.toLong, 0L, parse_ok = false)
    }
  }

  /** Salted, size-aware routing in ONE shuffle (none if
    * `numPartitions <= 0`).
    *
    * Normal pages are salted over `numPartitions * SaltFactor` keys —
    * fine-grained so the second hash (repartition's) cannot introduce
    * collision skew, and each partition averages ~SaltFactor salt
    * groups (law-of-large-numbers smoothing of per-page cost variance,
    * including the ordinary giant-page tail).
    *
    * Pathologically giant pages (>= giantThreshold bytes — the 100 MB
    * outliers a web crawl contains) are additionally segregated onto
    * their own salt range so a single such row never queues behind a
    * partition of small ones. AQE cannot do this — it rebalances
    * shuffle sizes, not map-side compute — hence explicit (SURVEY.md §4).
    */
  final val SaltFactor = 16

  def routeForSkew(pages: Dataset[PageRow], numPartitions: Int,
                   giantThreshold: Int = 4 << 20): Dataset[PageRow] = {
    if (numPartitions <= 0) pages
    else if (numPartitions == 1) pages.repartition(1)
    else {
      import pages.sparkSession.implicits._
      val smallKeys = numPartitions * SaltFactor
      val routed = pages
        .withColumn("__route",
          when(length(col("html")) >= giantThreshold,
            lit(smallKeys) + pmod(hash(col("url")), lit(numPartitions)))
            .otherwise(pmod(hash(col("url")), lit(smallKeys))))
        .repartition(numPartitions, col("__route"))
        .drop("__route")
      routed.as[PageRow]
    }
  }

  /** Full pass with per-partition lineage metrics pushed to an
    * accumulator (visible on the driver after the action completes).
    */
  def run(pages: Dataset[PageRow], charset: String = "utf-8",
          numPartitions: Int = 0,
          lineageAcc: Option[CollectionAccumulator[PartitionLineage]] = None)
      : Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val routed = routeForSkew(pages, numPartitions)
    routed.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var docs = 0L; var fails = 0L; var inBytes = 0L; var outChars = 0L
      val out = it.map { p =>
        val d = extractOne(p, charset)
        docs += 1
        if (!d.parse_ok) fails += 1
        inBytes += d.html_bytes
        outChars += d.text_chars
        d
      }
      new Iterator[ExtractedDoc] {
        private var reported = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !reported) {
            reported = true
            lineageAcc.foreach(_.add(PartitionLineage(pid, docs, fails,
              inBytes, outChars, inBytes - outChars, System.nanoTime() - t0)))
          }
          h
        }
        def next(): ExtractedDoc = out.next()
      }
    }
  }
}
