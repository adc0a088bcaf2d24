package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.WebCorpus
import graft.streaming.StreamingExtract

class StreamingAndOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming AvailableNow: incremental extraction with exactly-once resume") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    val fixtures = WebCorpus.generate(40)

    // batch 1: first 20 pages
    spark.createDataset(fixtures.take(20).map(_.page))
      .write.mode("append").parquet(src)
    StreamingExtract.runAvailableNow(spark, src, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 20)

    // batch 2: 20 more files arrive; only they are processed
    spark.createDataset(fixtures.drop(20).map(_.page))
      .write.mode("append").parquet(src)
    StreamingExtract.runAvailableNow(spark, src, sink, ckpt)
    val out = spark.read.parquet(sink)
    assert(out.count() == 40) // no reprocessing of batch 1

    // byte-identical to goldens
    val got = out.select("url", "text").as[(String, String)].collect().toMap
    fixtures.foreach(f => assert(got(f.page.url) == f.expectedText, f.page.url))
  }

  test("flatMapGroupsWithState dedup: repeated urls suppressed across micro-batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    val fixtures = WebCorpus.generate(12)

    // batch 1: 8 pages, two of them written twice (in-batch dups)
    spark.createDataset((fixtures.take(8) ++ fixtures.slice(0, 2)).map(_.page))
      .write.mode("append").parquet(src)
    StreamingExtract.runDedupAvailableNow(spark, src, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 8) // in-batch dups suppressed

    // batch 2: 4 new pages + 3 re-crawls of batch-1 urls
    spark.createDataset((fixtures.drop(8) ++ fixtures.slice(2, 5)).map(_.page))
      .write.mode("append").parquet(src)
    StreamingExtract.runDedupAvailableNow(spark, src, sink, ckpt)
    val out = spark.read.parquet(sink)
    assert(out.count() == 12) // cross-batch recrawls suppressed via state
    assert(out.select("url").distinct().count() == 12)
  }

  test("streaming content dedup: same-text recrawls under new urls suppressed across batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-cdedup-stream").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    val fixtures = WebCorpus.generate(6)
    def mirrored(i: Int) = // same html (same extracted text), different url
      fixtures(i).page.copy(url = s"https://mirror.example/copy-$i")
    def run(): Unit = {
      val pages = spark.readStream.schema(StreamingExtract.pageSchema)
        .parquet(src).as[graft.pipeline.PageRow]
      val q = StreamingExtract.contentDedupStream(pages).writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: 4 pages, one of them also under a mirror url (in-batch
    // content dup — smallest url must win deterministically)
    spark.createDataset(fixtures.take(4).map(_.page) :+ mirrored(0))
      .write.mode("append").parquet(src)
    run()
    val out1 = spark.read.parquet(sink)
    assert(out1.count() == 4)
    // "https://mirror..." sorts below the fixture urls? assert the
    // winner is the MIN url among the two carriers of that content
    val fp0 = StreamingExtract.contentFingerprint(fixtures(0).expectedText)
    val carriers = Seq(fixtures(0).page.url, mirrored(0).url)
    val kept = out1.as[graft.pipeline.ExtractedDoc].collect()
      .filter(d => StreamingExtract.contentFingerprint(d.text) == fp0).map(_.url)
    assert(kept.toSeq == Seq(carriers.min))
    // batch 2: 2 new pages + mirrors of two batch-1 contents
    spark.createDataset(
      fixtures.drop(4).map(_.page) ++ Seq(mirrored(1), mirrored(2)))
      .write.mode("append").parquet(src)
    run()
    val out2 = spark.read.parquet(sink)
    assert(out2.count() == 6, "cross-batch content recrawls must be suppressed")
    assert(out2.select("url").distinct().count() == 6)
  }

  test("streaming near-dup dedup: MinHash-band recrawls suppressed across batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-neardup-stream").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    def pageAt(url: String, text: String, ts: Long) = graft.pipeline.PageRow(url,
      new java.sql.Timestamp(ts),
      s"<html><body><main><p>$text</p></main></body></html>"
        .getBytes("UTF-8"), "", "en")
    def page(url: String, text: String) = pageAt(url, text, 1577836800000L)
    val words = (1 to 60).map(i => s"word$i")
    val baseText = words.mkString(" ")
    val nearA = words.updated(59, "changedA").mkString(" ") // in-batch near-dup
    val nearB = words.updated(0, "changedB").mkString(" ")  // cross-batch recrawl
    val other = (1 to 60).map(i => s"unrelated$i").mkString(" ")
    val otherRecrawl = ((1 to 59).map(i => s"unrelated$i") :+ "editedtail").mkString(" ")
    val fresh = (1 to 60).map(i => s"fresh$i").mkString(" ")

    // precondition: on the EXTRACTED texts, the crafted near-dups are
    // true LSH candidates (≥1 shared band) that verify above 0.8 —
    // otherwise the e2e assertions would test nothing
    def extracted(t: String) = graft.pipeline.ExtractPipeline
      .extractOne(page("u", t), "utf-8").text
    val (eBase, eA, eB) = (extracted(baseText), extracted(nearA), extracted(nearB))
    val (eOther, eOtherRe) = (extracted(other), extracted(otherRecrawl))
    import graft.functions.MinHashCore.shingleJaccard
    assert(shingleJaccard(eBase, eA) >= 0.8 && shingleJaccard(eBase, eB) >= 0.8)
    assert(shingleJaccard(eOther, eOtherRe) >= 0.8)
    assert(StreamingExtract.minhashBandKeys(eBase)
      .intersect(StreamingExtract.minhashBandKeys(eA)).nonEmpty, "A must collide")
    assert(StreamingExtract.minhashBandKeys(eBase)
      .intersect(StreamingExtract.minhashBandKeys(eB)).nonEmpty, "B must collide")
    assert(StreamingExtract.minhashBandKeys(eOther)
      .intersect(StreamingExtract.minhashBandKeys(eOtherRe)).nonEmpty, "recrawl must collide")

    // batch 1: base + its in-batch near-dup + an unrelated doc, the
    // latter delivered THREE times — twice byte-identical (must collapse
    // to ONE emitted row, never zero) and once re-stamped with a
    // different warc_ts (a distinct vote key downstream: every band
    // must pick the same winner, one emission total for the url)
    spark.createDataset(Seq(
      page("https://a.example/1", baseText),
      page("https://a.example/2", nearA),
      page("https://a.example/3", other),
      page("https://a.example/3", other),
      pageAt("https://a.example/3", other, 1577836800999L)))
      .write.mode("append").parquet(src)
    StreamingExtract.runNearDupDedupAvailableNow(spark, src, sink, ckpt)
    val out1 = spark.read.parquet(sink)
    assert(out1.count() == 2, "in-batch near-dup must be suppressed")
    assert(out1.select("url").as[String].collect().toSet ==
      Set("https://a.example/1", "https://a.example/3"),
      "doubled identical and re-stamped copies must still emit the url exactly once")

    // batch 2: a near-dup RECRAWL of batch-1 content under a new url AND
    // a near-dup recrawl of batch-1 content under the SAME url are both
    // suppressed via the checkpointed band state; a fresh doc is emitted
    spark.createDataset(Seq(
      page("https://b.example/9", nearB),
      page("https://a.example/3", otherRecrawl), // same url, edited tail
      page("https://b.example/8", fresh)))
      .write.mode("append").parquet(src)
    StreamingExtract.runNearDupDedupAvailableNow(spark, src, sink, ckpt)
    val out2 = spark.read.parquet(sink)
    assert(out2.count() == 3, "cross-batch near-dup recrawls must be suppressed")
    assert(out2.filter(col("url") === "https://b.example/9").isEmpty)
    assert(out2.filter(col("url") === "https://a.example/3").count() == 1,
      "a same-url near-identical recrawl must not append a second row")

    // hydration-pruning layout (r6): the staging table is partitioned by
    // ingest window — each staging micro-batch lands its own partition,
    // and a window-pruned read touches only that partition's files, so
    // the per-batch hydration scan is bounded by the batch, not by the
    // staging history
    val stagedDir = sink.stripSuffix("/") + "-staged"
    val windowDirs = new java.io.File(stagedDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_window="))
    assert(windowDirs.length >= 2,
      s"two staging batches must land two ingest_window partitions, got: " +
        windowDirs.map(_.getName).mkString(", "))
    // inputFiles ignores filters — count files the SCAN actually
    // selects after partition pruning
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.totalNumberOfFiles
      }.sum
    val allFiles = scannedFiles(spark.read.parquet(stagedDir))
    val oneWindow = windowDirs.map(_.getName.stripPrefix("ingest_window=")).min
    val prunedFiles = scannedFiles(spark.read.parquet(stagedDir)
      .filter(col("ingest_window") === oneWindow))
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"window-pruned staging read must touch a strict subset of files " +
        s"($prunedFiles of $allFiles)")

    // the verify mode is pinned per checkpoint: the band state above
    // stores SIGNATURE payloads, so a later run requesting exact-text
    // verification against the same checkpoint must refuse loudly
    // (silently shingling signatures as if they were text would
    // mis-judge every candidate)
    val ex = intercept[IllegalArgumentException] {
      StreamingExtract.runNearDupDedupAvailableNow(spark, src, sink, ckpt,
        exactVerify = true)
    }
    assert(ex.getMessage.contains("verify mode"))
  }

  test("near-dup state holds signatures only — no document text in the checkpoint") {
    import spark.implicits._
    def fixtureRun(base: String, exact: Boolean): (Set[String], Seq[String]) = {
      val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      def page(url: String, text: String) = graft.pipeline.PageRow(url,
        new java.sql.Timestamp(1577836800000L),
        s"<html><body><main><p>$text</p></main></body></html>".getBytes("UTF-8"),
        "", "en")
      val words = (1 to 60).map(i => s"word$i")
      spark.createDataset(Seq(
        page("https://a.example/1", words.mkString(" ")),
        page("https://a.example/2", words.updated(59, "changedA").mkString(" ")),
        page("https://a.example/3", (1 to 60).map(i => s"unrelated$i").mkString(" "))))
        .write.mode("append").parquet(src)
      StreamingExtract.runNearDupDedupAvailableNow(spark, src, sink, ckpt,
        exactVerify = exact)
      val urls = spark.read.parquet(sink).select("url").as[String].collect().toSet
      // the vote operator's checkpointed state, via the state-store
      // reader: render rows to JSON so the assertion sees EVERY string
      // the state carries regardless of the encoder's struct layout
      val stateJson = spark.read.format("statestore").load(s"$ckpt/votes")
        .toJSON.collect().toSeq
      (urls, stateJson)
    }

    // default (signature) mode: decisions match the exact family, and
    // no fragment of any document text is anywhere in the state — the
    // payloads are '|'-joined 16-hex minhash values
    val sigBase = java.nio.file.Files.createTempDirectory("graft-sigstate").toString
    val (sigUrls, sigState) = fixtureRun(sigBase, exact = false)
    assert(sigUrls == Set("https://a.example/1", "https://a.example/3"))
    assert(sigState.nonEmpty)
    val textTokens = Seq("word1", "changedA", "unrelated1")
    sigState.foreach { js =>
      textTokens.foreach(t => assert(!js.contains(t), s"text token '$t' in state: $js"))
    }
    assert(sigState.exists(_.matches(""".*[0-9a-f]{16}(\|[0-9a-f]{16}){7}.*""")),
      s"expected signature payloads in state, got: ${sigState.take(2)}")

    // opt-in exact mode: same decisions on the same fixture, and the
    // state DOES carry the text (positive control — proves the
    // signature-mode assertion above is not vacuous)
    val exBase = java.nio.file.Files.createTempDirectory("graft-exstate").toString
    val (exUrls, exState) = fixtureRun(exBase, exact = true)
    assert(exUrls == sigUrls)
    assert(exState.exists(_.contains("word1")),
      "exact mode stores verification text in state")
  }

  test("streaming band keys equal the batch LSH banding per document") {
    // the stream suppresses what the batch family would pair — that
    // only holds if both derive IDENTICAL band keys from a text; pin it
    // against the real documents table, not just by shared-code
    // construction
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.ops.DedupOps.minhashBands(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> s"${r.getInt(1)}:${r.getString(2)}")
      .groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).toSet }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(docs.length == 500 && batch.size == 500)
    docs.foreach { case (id, text) =>
      assert(StreamingExtract.minhashBandKeys(text).toSet == batch(id), s"doc $id")
    }
  }

  test("content fingerprint: non-ASCII text falls back to exact identity, never collapses") {
    import graft.streaming.StreamingExtract.contentFingerprint
    // two DIFFERENT CJK texts must get different keys (the ASCII
    // normalizer degenerates both to "") — raw-content fallback
    val a = contentFingerprint("你好世界")
    val b = contentFingerprint("こんにちは")
    assert(a != b && a.startsWith("raw:") && b.startsWith("raw:"))
    // identical CJK text still dedups
    assert(contentFingerprint("你好世界") == a)
    // Latin text normalizes: case/punct-insensitive
    assert(contentFingerprint("Hello,  World!") == contentFingerprint("hello world"))
    assert(contentFingerprint("Hello").startsWith("fp:"))
  }

  test("extract_main_text expression: Column and SQL surfaces agree with pipeline") {
    import spark.implicits._
    val fixtures = WebCorpus.generate(10)
    val df = spark.createDataset(fixtures.map(_.page)).toDF()
    // Column surface
    val viaCol = df.select(col("url"),
      graft.functions.GraftFunctions.extract_main_text(col("html"), lit("utf-8")).as("text"))
      .as[(String, String)].collect().toMap
    fixtures.foreach(f => assert(viaCol(f.page.url) == f.expectedText))
    // SQL surface
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("pages_v")
    val viaSql = spark.sql(
      "SELECT url, extract_main_text(html, 'utf-8') AS text FROM pages_v")
      .as[(String, String)].collect().toMap
    fixtures.foreach(f => assert(viaSql(f.page.url) == f.expectedText))
    // normalizer expression parity
    val n = spark.sql("SELECT normalize_for_comparison('EXPRESSÃO') AS x")
      .as[String].collect().head
    assert(n == "EXPRESSAO")
  }

  test("extract_main_text: a PDF page reads the same through Column, SQL and the pipeline") {
    import spark.implicits._
    val page = graft.pipeline.PageRow("pdf://1", new java.sql.Timestamp(0L),
      graft.pdf.PdfGen.pdf(Seq("first pdf line", "second pdf line"), flate = true), "", "en")
    val ds = spark.createDataset(Seq(page))
    val viaPipeline = graft.pipeline.ExtractPipeline.run(ds).collect().head.text
    assert(viaPipeline == "first pdf line\nsecond pdf line")
    val viaCol = ds.select(
      graft.functions.GraftFunctions.extract_main_text(col("html"), lit("utf-8")))
      .as[String].collect().head
    graft.functions.GraftFunctions.register(spark)
    ds.toDF().createOrReplaceTempView("pdf_pages_v")
    val viaSql = spark.sql("SELECT extract_main_text(html, 'utf-8') FROM pdf_pages_v")
      .as[String].collect().head
    assert(viaCol == viaPipeline && viaSql == viaPipeline)
  }

  test("multimodal: REAL AVI/DIB decode inverts the hand-rolled container write") {
    import graft.ops.MultimodalOps
    // direct roundtrip: the generated bytes are a chunk-walkable AVI
    // whose decoded frames reproduce the generation formula exactly
    val id = 42L
    val (w, h, frames) = MultimodalOps.parseAvi(MultimodalOps.genAvi(id)).get
    assert(w == 8 + (id % 8).toInt && h == 8 + ((id * 5) % 8).toInt)
    assert(frames.size == 2 + (id % 4).toInt)
    frames.zipWithIndex.foreach { case (sum, f) =>
      val expected = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + f * 17 + x * 7 + y * 13) % 256).sum
      assert(sum == expected, s"frame $f")
    }
    // corrupt payloads drop, never throw: junk magic, truncated mid-movi,
    // and a frame chunk whose size overruns the buffer
    assert(MultimodalOps.parseAvi(Array[Byte](1, 2, 3)).isEmpty)
    val good = MultimodalOps.genAvi(7L)
    assert(MultimodalOps.parseAvi(good.take(good.length - 5)).isEmpty)
    val overrun = good.clone
    overrun(4) = -1; overrun(5) = -1 // riffSize huge; later chunks overrun
    assert(MultimodalOps.parseAvi(overrun.take(64)).isEmpty)
    // adversarial nesting: ~100k recursive LIST/hdrl headers must hit
    // the depth bound (row drops), not a StackOverflowError (fatal,
    // escapes the NonFatal catch, would kill the executor task)
    val deep = java.nio.ByteBuffer.allocate(12 + 100000 * 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    deep.put("RIFF".getBytes("US-ASCII")); deep.putInt(4 + 100000 * 12)
    deep.put("AVI ".getBytes("US-ASCII"))
    (0 until 100000).foreach { i =>
      deep.put("LIST".getBytes("US-ASCII"))
      deep.putInt(4 + (100000 - 1 - i) * 12)
      deep.put("hdrl".getBytes("US-ASCII"))
    }
    assert(MultimodalOps.parseAvi(deep.array()).isEmpty)
    // fuzz: random truncations and byte flips of valid containers must
    // return Some or None, never throw (deterministic seed)
    val rnd = new scala.util.Random(123)
    (1 to 300).foreach { _ =>
      val src = MultimodalOps.genAvi(rnd.nextInt(64).toLong)
      val mutated = src.clone
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      val cut =
        if (rnd.nextBoolean()) mutated.take(rnd.nextInt(mutated.length + 1))
        else mutated
      MultimodalOps.parseAvi(cut) // must not throw
    }
  }

  test("multimodal: unified decode dispatches all three REAL codecs by kind") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val feats = MultimodalOps.decodeQuery(spark, "/root/testdata/sf0.001")
      .as[MultimodalOps.MediaFeatures].collect()
    assert(feats.length == 500)
    assert(feats.map(_.kind).toSet == Set("image", "audio", "video"))
    feats.filter(_.doc_id < 60).foreach { ft =>
      val d = ft.doc_id
      ft.kind match {
        case "image" =>
          val (w, h) = (16 + (d % 16).toInt, 16 + ((d * 3) % 16).toInt)
          val s = (for (y <- 0 until h; x <- 0 until w)
            yield (d * 31 + x * 7 + y * 13) % 256).sum
          assert((ft.width, ft.height, ft.n_units, ft.sum_stat) == (w, h, 1L, s))
        case "audio" =>
          val n = 256 + (d % 256).toInt
          val s = (0 until n).map(i => math.abs((d * 37 + i * 101) % 65536 - 32768)).sum
          assert((ft.width, ft.height, ft.n_units, ft.sum_stat) == (0, 0, n.toLong, s))
        case "video" =>
          val (w, h, nf) = (8 + (d % 8).toInt, 8 + ((d * 5) % 8).toInt, 2 + (d % 4).toInt)
          val s = (for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
            yield (d * 31 + f * 17 + x * 7 + y * 13) % 256).sum
          assert((ft.width, ft.height, ft.n_units, ft.sum_stat) == (w, h, nf.toLong, s))
      }
    }
    // frame sampling: only video rows explode, one row per REAL frame
    val frames = MultimodalOps.framesQuery(spark, "/root/testdata/sf0.001")
      .as[MultimodalOps.FrameRow].collect()
    assert(frames.map(_.doc_id).distinct.forall(_ % 3 == 2))
    val byDoc = frames.groupBy(_.doc_id)
    byDoc.foreach { case (d, fr) =>
      assert(fr.length == 2 + (d % 4).toInt, s"doc $d frame count")
    }
    assert(frames.nonEmpty)
  }

  test("multimodal: REAL PNG decode inverts the deterministic encode") {
    import graft.ops.MultimodalOps
    // direct codec roundtrip: generated bytes are a valid PNG whose
    // decoded pixels reproduce the generation formula exactly
    val id = 42L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MultimodalOps.genPng(id)))
    assert(img.getWidth == 16 + (id % 16).toInt)
    assert(img.getHeight == 16 + ((id * 3) % 16).toInt)
    assert((img.getRGB(3, 5) & 0xFF) == ((id * 31 + 3 * 7 + 5 * 13) % 256).toInt)
    // distributed decode: stats over actual pixels, deterministic
    val feats = MultimodalOps.imageDecodeQuery(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(feats.length == 500)
    feats.take(20).foreach { case (d, w, h, sum) =>
      val expected = (for (y <- 0 until h; x <- 0 until w)
        yield (d * 31 + x * 7 + y * 13) % 256).sum
      assert(sum == expected, s"doc $d")
    }
    // resize digest stable across runs
    val r1 = MultimodalOps.imageResizeQuery(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    val r2 = MultimodalOps.imageResizeQuery(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted
    assert(r1.sameElements(r2) && r1.length == 500)
  }

  test("multimodal: REAL WAV decode (JDK parser) inverts the deterministic encode") {
    import graft.ops.MultimodalOps
    // direct codec roundtrip: generated bytes are a valid RIFF/WAV the
    // JDK parses, and decoded samples reproduce the generation formula
    val id = 42L
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(MultimodalOps.genWav(id)))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate.toInt == 8000 && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
    val data = ais.readAllBytes()
    assert(data.length / 2 == 256 + (id % 256).toInt)
    val s3 = ((data(6) & 0xFF) | (data(7) << 8)).toShort.toInt
    assert(s3 == ((id * 37 + 3 * 101) % 65536 - 32768).toInt)
    // distributed decode: stats over actual samples match pure arithmetic
    val feats = MultimodalOps.audioDecodeQuery(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(feats.length == 500)
    feats.take(20).foreach { case (d, sr, n, sumAbs, peak) =>
      assert(sr == 8000)
      assert(n == 256 + (d % 256))
      val expected = (0L until n).map(i => math.abs((d * 37 + i * 101) % 65536 - 32768))
      assert(sumAbs == expected.sum, s"doc $d sum_abs")
      assert(peak == expected.max, s"doc $d peak_abs")
    }
    // corrupt payloads drop the row, never throw (engine drop semantics)
    import spark.implicits._
    val junk = spark.createDataset(Seq(
      MultimodalOps.MediaRow(1L, "audio", Array[Byte](1, 2, 3, 4)),
      MultimodalOps.MediaRow(2L, "audio", MultimodalOps.genWav(2L))))
    assert(MultimodalOps.decodeAudio(junk).collect().map(_.doc_id).toSeq == Seq(2L))
  }

  test("streaming windowed metrics query runs on the pages stream") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    spark.createDataset(WebCorpus.generate(30).map(_.page))
      .write.mode("overwrite").parquet(s"$base/src")
    val pages = spark.readStream.schema(StreamingExtract.pageSchema)
      .parquet(s"$base/src").as[graft.pipeline.PageRow]
    val q = StreamingExtract.metricsQuery(pages)
      .writeStream.format("memory").queryName("page_metrics")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val res = spark.sql("SELECT sum(docs) FROM page_metrics").as[Long].collect().head
    assert(res == 30)
  }

  test("paraDedup matches a brute-force first-wins reference; no text crosses a shuffle") {
    import graft.ops.DedupOps
    val dir = "/root/testdata/sf0.001"
    val q = DedupOps.paraDedup(spark, dir)

    // brute-force reference over the collected corpus: chunk, inject,
    // first-wins by (doc_id, idx), reassemble
    val src = loadDocs(dir)
    val parasOf = src.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val chunks = toks.grouped(DedupOps.ParaTokens).map(_.mkString(" ")).toVector
      val withHdr = if (id % 7 == 0)
        "cookie policy applies to this site" +: chunks else chunks
      id -> (withHdr :+ "subscribe to the newsletter for updates")
    }
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = parasOf.map { case (id, paras) =>
      val kept = paras.filter(p => seen.add(p)) // in-order first-wins
      id -> (paras.size.toLong, kept.size.toLong, md5hex(kept.mkString("\n")))
    }.toMap

    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
    // the fixture actually bites: every non-first doc loses the footer
    expected.foreach { case (id, (nParas, nKept, _)) =>
      if (id == 0L) assert(nKept == nParas)
      else assert(nKept < nParas, s"doc $id must lose shared boilerplate")
    }

    // scale guard: paragraph/text columns never cross an exchange —
    // occurrences shuffle as (md5, ord), the kept set as int arrays
    assertNoTextShuffle(DedupOps.paraDedup(spark, dir))
  }

  private def md5hex(str: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def loadDocs(dir: String): Array[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

  /** Plans `op` afresh with AQE off: exchanges are inserted after
    * `sparkPlan`, and the AQE wrapper of `executedPlan` is childless
    * until run.
    */
  private def assertNoTextShuffle(op: => org.apache.spark.sql.DataFrame): Unit = {
    val forbidden = Set("text", "toks", "para", "paras", "kept")
    val shuffles = graft.obs.Scoped(spark, None, "spark.sql.adaptive.enabled" -> "false")(
      op.queryExecution.executedPlan).collect {
      case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => ex
    }
    assert(shuffles.nonEmpty, "expected the first-wins shuffle")
    shuffles.foreach { ex =>
      val bad = ex.child.output.map(_.name).filter(forbidden)
      assert(bad.isEmpty, s"text-bearing columns cross a shuffle: $bad")
    }
  }

  test("spanDedup matches a brute-force first-wins gram reference; no text crosses a shuffle") {
    import graft.ops.DedupOps
    val dir = "/root/testdata/sf0.001"
    val k = DedupOps.SpanK
    val q = DedupOps.spanDedup(spark, dir)

    val src = loadDocs(dir)
    // in corpus order: first occurrence of each k-gram survives, every
    // later occurrence marks its k token positions
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = src.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val marked = scala.collection.mutable.Set.empty[Int] // 1-based
      for (pos <- 1 to toks.length - k + 1) {
        val gram = toks.slice(pos - 1, pos - 1 + k).mkString(" ")
        if (!seen.add(gram)) (pos until pos + k).foreach(marked += _)
      }
      val kept = toks.zipWithIndex.collect {
        case (w, i) if !marked(i + 1) => w
      }
      id -> (toks.length.toLong, (toks.length - kept.length).toLong,
        md5hex(kept.mkString(" ")))
    }.toMap

    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
    // the corpus genuinely contains repeated 8-grams — the op must bite
    assert(expected.values.map(_._2).sum > 0, "fixture has no repeated spans")
    // and most docs are untouched (removal is surgical, not wholesale)
    assert(expected.values.count(_._2 == 0) > expected.size / 2)

    assertNoTextShuffle(DedupOps.spanDedup(spark, dir))
  }

  test("unigramXent matches a decimal-exact reference; order-independent by construction") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.ops.TextAnalysisOps.unigramXent(spark, dir)
    val src = loadDocs(dir)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    src.foreach(_._2.split(" ", -1).foreach(w =>
      counts(w) = counts.getOrElse(w, 0L) + 1))
    val tt = counts.values.sum.toDouble
    val expected = src.map { case (id, text) =>
      val toks = text.split(" ", -1)
      // per-term 9-dp round, exact decimal sum — the op's determinism
      // contract, reproduced independently
      val s = toks.groupBy(identity).map { case (w, ws) =>
        BigDecimal(ws.length) *
          BigDecimal(math.log(counts(w) / tt)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val xent = BigDecimal((-s).toDouble / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> (toks.length.toLong, xent)
    }.toMap
    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
    // scores sit in a sane entropy band for a ~40-word vocabulary
    assert(got.values.forall { case (_, x) => x > 1.0 && x < 8.0 })
  }

  test("urlNormalize: every rule pinned on representative ids; map-only plan") {
    val q = graft.ops.CorpusOps.urlNormalize(spark, "/root/testdata/sf0.001")
    val got = q.collect().map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    // id 0: case-fold, :80 strip, tracking-param drop, param byte-sort, co.uk suffix
    assert(got(0L) == ("http://www.example.co.uk/Articles/item0?a=1&ref=Home",
      "example.co.uk"))
    // id 1: :443 strip, trailing-slash trim, fragment drop, 'A' sorts before 'b'
    assert(got(1L) == ("https://cdn.site1.com/Articles/item1?A=2&b=1", "site1.com"))
    // id 3: non-default port KEPT (3 % 7 == 3); host is the %3==0 variant
    assert(got(3L) == ("https://www.example.com:8080/Articles/item3?A=2&b=3",
      "example.com"))
    // id 4: three-label registered domain under a public-suffix prefix
    assert(got(4L) == ("http://cdn.site4.co.uk/Articles/item4?a=1&ref=Home",
      "site4.co.uk"))
    // canonicalization is a pure projection: zero exchanges
    assert(!q.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "urlNormalize must stay map-only")
  }

  test("blocklistFilter: whole-word hits, both verdicts, map-only plan") {
    val q = graft.ops.CorpusOps.blocklistFilter(spark, "/root/testdata/sf0.001")
    val rows = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
    val docs = loadDocs("/root/testdata/sf0.001").toMap
    rows.foreach { case (id, hits, nTok, c4, ratio) =>
      val toks = docs(id).toLowerCase.split(" ", -1)
      // TRUE whole-token count — the doubled-space padding makes the
      // length-difference trick exact even for adjacent hits
      val expected = toks.count(graft.ops.CorpusOps.Blocklist.contains(_)).toLong
      assert(hits == expected, s"doc $id")
      assert(nTok == toks.length)
      assert(c4 == (hits > 0))
      assert(ratio == (hits.toDouble / nTok > 0.05))
    }
    assert(rows.exists(_._4) && rows.exists(!_._4), "fixture must split verdicts")
    assert(!q.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "blocklistFilter must stay map-only")
  }

  test("bm25TopK matches a brute-force reference; query filter broadcasts, top-k is a group limit") {
    import graft.ops.TextAnalysisOps
    val dir = "/root/testdata/sf0.001"
    val q = TextAnalysisOps.bm25TopK(spark, dir)

    val src = loadDocs(dir)
      .map { case (id, text) => (id, text.split(" ", -1).toSeq) }
    val nDocs = src.length.toLong
    val avgdl = src.map(_._2.length.toLong).sum.toDouble / nDocs
    val terms = TextAnalysisOps.Bm25Queries.map(_._2).toSet
    val tf = src.flatMap { case (id, toks) =>
      toks.filter(terms).groupBy(identity).map { case (w, ws) => ((id, w), ws.length.toLong) }
    }.toMap
    val dfc = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val expected = TextAnalysisOps.Bm25Queries.groupBy(_._1).toSeq.flatMap { case (qid, qts) =>
      val scores = src.flatMap { case (id, toks) =>
        val ts = qts.map(_._2).flatMap { w =>
          tf.get((id, w)).map { f =>
            val idf = math.log((nDocs - dfc(w) + 0.5) / (dfc(w) + 0.5) + 1.0)
            val sat = (f * (1.2 + 1)) / (f + 1.2 * (1 - 0.75 + 0.75 * toks.length / avgdl))
            BigDecimal(idf * sat).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          }
        }
        if (ts.isEmpty) None
        else Some((id, BigDecimal(ts.sum.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      scores.sortBy { case (id, s) => (-s, id) }.take(10).zipWithIndex.map {
        case ((id, s), i) => (qid, id) -> (i + 1, s)
      }
    }.toMap
    val got = q.collect().map(r =>
      (r.getInt(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, e) => assert(got(k) == e, s"$k") }
    assert(got.size == 50)

    // scale guards: the token array is filtered to query terms BEFORE
    // the explode (Generate emits only matching postings, never the
    // corpus token stream), dimension tables broadcast, and the
    // per-query top-k pushes the limit below the sort
    val p = q.queryExecution.sparkPlan
    assert(p.toString.contains("explode(filter("),
      "query-term filter must run inside the array, before the explode")
    assert(p.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "query-term equi-join must broadcast")
    assert(p.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "scalar stats cross-join must broadcast (BNLJ), not shuffle")
    assert(p.toString.contains("WindowGroupLimit"),
      "per-query top-k must be a pushed group limit")
  }

  test("weightedSample matches a brute-force A-Res reference; top-k never global-sorts") {
    import graft.ops.CorpusOps
    val dir = "/root/testdata/sf0.001"
    val q = CorpusOps.weightedSample(spark, dir)

    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ref = src.map { case (id, nChars) =>
      val w = (1 + math.min(7L, nChars / 200)).toInt
      val key = (1 to w).map(j => md5hex(s"wsamp:$id:$j")).max
      (id, w, key)
    }
    val expected = ref.sortBy { case (id, _, key) => (key, -id) }(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long.reverse))
      .take(CorpusOps.WeightedSampleK)
      .map { case (id, w, key) => id -> (w, key) }.toMap

    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }

    // the sampling genuinely tilts toward weight: the sample's mean
    // weight must exceed the corpus mean (deterministic fixture)
    val corpusMean = ref.map(_._2).sum.toDouble / ref.length
    val sampleMean = expected.values.map(_._1).sum.toDouble / expected.size
    assert(sampleMean > corpusMean,
      f"sample mean weight $sampleMean%.2f must beat corpus $corpusMean%.2f")

    // scale guard: the top-k is a per-partition heap + driver merge,
    // never a global sort-shuffle
    assert(q.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"),
      "weightedSample top-k must plan as TakeOrderedAndProject")
  }

  test("dsirScore matches a decimal-exact reference; weight table broadcasts") {
    import graft.ops.TextAnalysisOps
    val dir = "/root/testdata/sf0.001"
    val q = TextAnalysisOps.dsirScore(spark, dir)

    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def buckets(text: String): Map[String, Long] =
      text.split(" ", -1).toSeq.groupBy(w => md5hex("dsir:" + w).take(2))
        .map { case (b, ws) => b -> ws.length.toLong }
    val perDoc = src.map { case (id, lang, text) => (id, lang, buckets(text)) }
    val raw = perDoc.flatMap(_._3).groupBy(_._1)
      .map { case (b, cs) => b -> cs.map(_._2).sum }
    val tgt = perDoc.filter(_._2 == "en").flatMap(_._3).groupBy(_._1)
      .map { case (b, cs) => b -> cs.map(_._2).sum }
    val tr = raw.values.sum.toDouble
    val tt = tgt.values.sum.toDouble
    val wgt = raw.map { case (b, cr) =>
      val d = math.log((tgt.getOrElse(b, 0L) + 1.0) / (tt + 256)) -
        math.log((cr + 1.0) / (tr + 256))
      b -> BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val expected = perDoc.map { case (id, _, bs) =>
      val n = bs.values.sum
      val s = bs.map { case (b, c) => BigDecimal(c) * wgt(b) }.sum
      id -> (n, BigDecimal(s.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap

    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }

    // the selector genuinely separates: English documents (the target)
    // must average a higher importance score than the rest
    val (en, rest) = src.partition(_._2 == "en")
    def meanOf(ids: Iterable[Long]) =
      ids.map(got(_)._2).sum / ids.size
    assert(meanOf(en.map(_._1)) > meanOf(rest.map(_._1)),
      "target-language docs must score higher than non-target")

    // scale guard: the ≤256-row weight table joins by broadcast
    assert(q.queryExecution.sparkPlan.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "dsir weight table must broadcast")
  }

  test("mixtureSample matches an independent reference; binding stratum keeps all") {
    import graft.ops.CorpusOps
    val dir = "/root/testdata/sf0.001"
    val q = CorpusOps.mixtureSample(spark, dir)

    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong))
    val targets = CorpusOps.MixtureTargets.toMap
    val strata = src.filter(t => targets.contains(t._2))
      .groupBy(_._2).map { case (l, ds) => l -> ds.map(_._3).sum }
    val budget = strata.map { case (l, tok) => tok / targets(l) }.min
    val thr = strata.map { case (l, tok) =>
      val rate = targets(l) * budget / tok
      l -> (if (rate >= 1.0 - 1e-9) "g"
            else f"${math.floor(rate * 4294967296.0).toLong}%08x")
    }
    val expected = src.filter(t => targets.contains(t._2)).map {
      case (id, l, n) => id -> (l, n, md5hex(s"mix:$id").take(8) < thr(l))
    }.toMap

    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }

    // the binding stratum keeps EVERYTHING; at least one other stratum
    // genuinely drops documents (rates are data-dependent, not static)
    val binding = strata.minBy { case (l, tok) => tok / targets(l) }._1
    val byLang = expected.values.groupBy(_._1)
    assert(byLang(binding).forall(_._3), "binding stratum must keep all docs")
    assert(byLang.exists { case (_, ds) => ds.exists(!_._3) },
      "some non-binding stratum must drop docs")

    // realized mixture approaches the target shares: each kept
    // stratum's token share is within 15% relative of its target
    val keptTok = byLang.map { case (l, ds) =>
      l -> ds.filter(_._3).map(_._2).sum.toDouble }
    val keptTotal = keptTok.values.sum
    keptTok.foreach { case (l, tok) =>
      val share = tok / keptTotal
      assert(math.abs(share - targets(l)) / targets(l) < 0.15,
        f"stratum $l realized share $share%.3f vs target ${targets(l)}%.2f")
    }
  }

  test("kmeansAssign matches an independent Lloyd reference, 2 rounds + final assign") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.ops.SimilarityOps.kmeansAssign(spark, dir)

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def rnd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val byId = vecs.toMap
    val stride = math.max(1L, vecs.length / 16L)
    var cents: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 % stride == 0).map { case (id, v) => id -> v }
    def assign(): Array[(Long, Long, Double)] = {
      val cn = cents.map { case (cid, cv) => (cid, cv, math.sqrt(dot(cv, cv))) }
      vecs.map { case (id, v) =>
        val (cos, cid) = cn.map { case (c, cv, n) =>
          (rnd(dot(v, cv) / (nrm(id) * n), 6), c)
        }.maxBy { case (c, cid2) => (c, -cid2) }
        (id, cid, cos)
      }
    }
    var initAssign: Map[Long, Long] = Map.empty
    for (round <- 1 to 2) {
      val a = assign()
      if (round == 1) initAssign = a.map(t => t._1 -> t._2).toMap
      cents = a.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, ms) =>
        val members = ms.map(m => byId(m._1))
        val cv = Array.tabulate(64) { p =>
          val s = members.map(v => BigDecimal(rnd(v(p), 7))).sum
          rnd(s.toDouble / members.size, 6)
        }
        cid -> cv
      }
    }
    val expected = assign().map { case (id, cid, cos) => id -> (cid, cos) }.toMap

    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"vec $id") }
    // the update rounds genuinely BITE on this fixture: at least one
    // vector's final centroid differs from its init-round assignment
    // (a no-op update step returning init assignments must fail here)
    assert(cents.size > 1, "fixture must produce multiple clusters")
    assert(expected.exists { case (id, (cid, _)) => initAssign(id) != cid },
      "round-2 centroids must move at least one assignment vs init")
  }
}
