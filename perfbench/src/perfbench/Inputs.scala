package perfbench

import graft.fixtures.{MstrGen, WebCorpus}
import graft.pdf.PdfGen
import graft.pipeline.PageRow
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Seeded workload inputs, generated once per (seed, size) under the
  * run's work directory and reused by later runs with the same seed.
  * A `_DONE` file marks a complete generation.
  */
object Inputs {
  private def done(dir: Path): Boolean = Files.exists(dir.resolve("_DONE"))
  private def markDone(dir: Path, props: Map[String, String]): Unit = {
    val p = new java.util.Properties
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val out = Files.newOutputStream(dir.resolve("meta.properties"))
    try p.store(out, null) finally out.close()
    Files.write(dir.resolve("_DONE"), Array.emptyByteArray)
  }
  def meta(dir: Path): Map[String, String] = {
    val p = new java.util.Properties
    val in = Files.newInputStream(dir.resolve("meta.properties"))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
  private def clean(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  def deleteTree(dir: String): Unit = clean(Paths.get(dir))

  // ---------------- web_extract ----------------

  /** Rows at `i % 100 == 50` (1%) are single-page PDFs, every other
    * one FlateDecode; the rest are `WebCorpus` pages with the default
    * heavy tail (every 97th page about 800 paragraphs).
    */
  final val PdfEvery = 100
  private val pdfWords =
    ("report quarterly figures revenue table section (draft) annex ação " +
      "página summary data layout column page index total").split(' ')

  def webRow(seed: Long, i: Int): (PageRow, String) =
    if (i % PdfEvery == PdfEvery / 2) {
      val rnd = new scala.util.Random(seed * 7919L + i)
      val lines = (0 until 3 + rnd.nextInt(10)).map(_ =>
        (0 until 3 + rnd.nextInt(12)).map(_ => pdfWords(rnd.nextInt(pdfWords.length))).mkString(" "))
      val bytes = PdfGen.pdf(lines, flate = (i / PdfEvery) % 2 == 1)
      (PageRow(f"https://fixture.test/web/doc$i%06d.pdf",
        new Timestamp(1577836800000L + i * 1000L), bytes, "", "en-US"), lines.mkString("\n"))
    } else {
      val f = WebCorpus.generateOne(i, seed)
      (f.page, f.expectedText)
    }

  final case class Web(pagesDir: String, deltaDir: String, nBase: Long, nDelta: Long,
                       base: Digest, delta: Digest, htmlBytes: Long)

  /** The schema Spark gives a `PageRow` table. */
  private val pageSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary url (STRING);
      |  optional int64 warc_ts (TIMESTAMP(MICROS,true));
      |  optional binary html;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |}""".stripMargin)

  /** Rows [lo, hi) as `files` parquet files of equal row ranges under
    * `dir`, written in parallel without a Spark session (so the JVM
    * that makes the inputs stays short); returns the golden digest of
    * (url, expected text) and the html bytes.
    */
  private def writePages(seed: Long, lo: Int, hi: Int, files: Int, dir: Path): (Digest, Long) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Files.createDirectories(dir)
    val parts = (0 until files).map { k =>
      Future {
        val rows = (lo + (hi - lo) * k / files until lo + (hi - lo) * (k + 1) / files).map(webRow(seed, _))
        val w = ExampleParquetWriter.builder(new HPath(dir.resolve(f"part-$k%05d.parquet").toString))
          .withType(pageSchema).withConf(new Configuration())
          .withCompressionCodec(CompressionCodecName.SNAPPY).build()
        val g = new SimpleGroupFactory(pageSchema)
        try rows.foreach { case (p, _) =>
          w.write(g.newGroup().append("url", p.url).append("warc_ts", p.warc_ts.getTime * 1000L)
            .append("html", Binary.fromConstantByteArray(p.html)).append("text", p.text)
            .append("lang", p.lang))
        } finally w.close()
        (rows.map(_._1.url), rows.map { case (p, e) => Digest.rowHashOf(Seq(p.url, e)) }.sum,
          rows.map(_._1.html.length.toLong).sum)
      }
    }
    val done = parts.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    val urls = done.flatMap(_._1)
    (Digest(urls.size, urls.distinct.size, done.map(_._2).sum), done.map(_._3).sum)
  }

  /** `n` base pages as 16 parquet files of equal row ranges, and a
    * delta of n/20 new urls; goldens are digests of (url, expected text).
    */
  def web(work: String, seed: Long, n: Int): Web = {
    val dir = Paths.get(work, "inputs", s"web-s$seed-n$n")
    val nDelta = n / 20
    if (!done(dir)) {
      clean(dir)
      val (base, bytes) = writePages(seed, 0, n, 16, dir.resolve("pages"))
      val (delta, _) = writePages(seed, n, n + nDelta, 4, dir.resolve("delta"))
      markDone(dir, Map("base" -> base.toString, "delta" -> delta.toString, "html_bytes" -> bytes.toString))
    }
    val m = meta(dir)
    Web(dir.resolve("pages").toString, dir.resolve("delta").toString, n, nDelta,
      Digest.parse(m("base")), Digest.parse(m("delta")), m("html_bytes").toLong)
  }

  // ---------------- mstr_graph ----------------

  /** `MstrGen` takes no seed: the seed permutes the page order the
    * program receives (its output must not depend on it).
    */
  def mstr(seed: Long, reports: Int): Seq[PageRow] =
    new scala.util.Random(seed).shuffle(MstrGen.pages(reports, hotCubes = true))

  // ---------------- corpus_dedup ----------------

  final case class Dedup(dir: String, docs: Long, span: Digest, para: Digest, exact: Digest)

  /** `documents.parquet` and the DuckDB oracle's digests of
    * `q_span_dedup`, `q_para_dedup` and `q_dedup_exact`, made once per
    * seed by perfbench/dedup_inputs.py before the JVM starts.
    */
  def dedup(dir: String): Dedup = {
    require(done(Paths.get(dir)), s"corpus_dedup inputs missing in $dir")
    val m = meta(Paths.get(dir))
    Dedup(dir, m("docs").toLong, Digest.parse(m("span")), Digest.parse(m("para")), Digest.parse(m("exact")))
  }
}

/** Writes the repo's DuckDB oracle SQL (`SparkEntry.oracleSql`) of each
  * named query to `<dir>/<query>.sql`, for perfbench/dedup_inputs.py.
  *
  *   perfbench.OracleSql <dir> <query>...
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.head)
    Files.createDirectories(dir)
    args.tail.foreach(q => Files.write(dir.resolve(s"$q.sql"), graft.SparkEntry.oracleSql(q).getBytes("UTF-8")))
  }
}
