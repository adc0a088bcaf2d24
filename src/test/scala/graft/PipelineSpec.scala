package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.fixtures.WebCorpus
import graft.pipeline.{ExtractPipeline, PageRow, PartitionLineage, TableIO}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("extraction is byte-identical per url on the golden web corpus") {
    import spark.implicits._
    val fixtures = WebCorpus.generate(120, giantEvery = 40, giantParagraphs = 50)
    val pages = spark.createDataset(fixtures.map(_.page))
    val got = ExtractPipeline.run(pages, charset = "utf-8", numPartitions = 4)
      .select("url", "text").as[(String, String)].collect().toMap
    assert(got.size == fixtures.size)
    fixtures.foreach { f =>
      val g = got(f.page.url)
      assert(g == f.expectedText,
        s"byte mismatch for ${f.page.url}:\n got=${g.take(200)}\n exp=${f.expectedText.take(200)}")
      // byte-level identity, not just string equality
      assert(g.getBytes("UTF-8").sameElements(f.expectedText.getBytes("UTF-8")))
    }
  }

  test("extraction is deterministic across parallelism levels") {
    import spark.implicits._
    val fixtures = WebCorpus.generate(60)
    val pages = spark.createDataset(fixtures.map(_.page))
    val a = ExtractPipeline.run(pages, "utf-8", numPartitions = 1)
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    val b = ExtractPipeline.run(pages, "utf-8", numPartitions = 4)
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("lineage metrics add up: doc and parse-failure sums") {
    import spark.implicits._
    val fixtures = WebCorpus.generate(80, giantEvery = 20, giantParagraphs = 200)
    val pages = spark.createDataset(fixtures.map(_.page))
    val acc = spark.sparkContext.collectionAccumulator[PartitionLineage]("lineage")
    val n = ExtractPipeline.run(pages, "utf-8", numPartitions = 8, Some(acc)).count()
    assert(n == 80)
    val lineage = acc.value
    import scala.jdk.CollectionConverters._
    val rows = lineage.asScala.toSeq
    assert(rows.map(_.docs).sum == 80)
    assert(rows.map(_.parse_failures).sum == 0)
    assert(rows.nonEmpty)
  }

  test("malformed bytes do not kill the pass; parse_ok=false is reported") {
    import spark.implicits._
    val bad = PageRow("bad://1", new java.sql.Timestamp(0L), null, "", "en")
    val ok = WebCorpus.generate(3).map(_.page)
    val pages = spark.createDataset(ok :+ bad)
    val out = ExtractPipeline.run(pages, "utf-8").collect()
    assert(out.length == 4)
    assert(out.count(!_.parse_ok) == 1)
  }

  test("filter pipeline resume: committed decisions are skipped, table converges to one-shot") {
    import org.apache.spark.sql.functions.col
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-filter-inc").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-filter-docs").toString
    // phase 1: a partial crawl — half the training docs, but the FULL
    // benchmark slice (the decontamination reference is held-out data
    // that exists before the crawl grows)
    src.filter(col("doc_id") < 250 || col("doc_id") % 11 === 0)
      .write.parquet(s"$dir/documents.parquet")
    val n1 = graft.ops.CorpusOps.filterPipelineIncremental(spark, dir, root)
    assert(n1 > 0)
    // phase 2: the rest of the corpus arrives — only NEW docs are decided
    src.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n2 = graft.ops.CorpusOps.filterPipelineIncremental(spark, dir, root)
    // idempotent: a third run commits nothing
    val n3 = graft.ops.CorpusOps.filterPipelineIncremental(spark, dir, root)
    assert(n3 == 0)
    // the resumed table is row-identical to a fresh one-shot decision run
    val oneShot = graft.ops.CorpusOps.filterPipeline(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(n1 + n2 == oneShot.size)
    val resumedTable = new TableIO(root).readTable(spark).get
      .select("doc_id", "lang_ok", "quality_ok", "repetition_ok", "decontam_ok", "keep")
      .collect().map(_.toString).sorted.toSeq
    assert(resumedTable == oneShot)
  }

  test("a no-op filterPipelineIncremental runs no more jobs than its pending probe") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-filter-noop").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-filter-noop-docs").toString
    src.filter(col("doc_id") < 120).write.parquet(s"$dir/documents.parquet")
    assert(graft.ops.CorpusOps.filterPipelineIncremental(spark, dir, root) > 0)
    def jobsOf[T](label: String)(body: => T): (T, Int) = {
      val (out, log) = graft.obs.JobLog.record(spark, label)(body)
      (out, log.jobs.size)
    }
    val (n, noop) = jobsOf("no-op filter")(graft.ops.CorpusOps.filterPipelineIncremental(spark, dir, root))
    val (pending, probe) = jobsOf("pending probe")(
      new TableIO(root).hasPending(graft.ops.CorpusOps.trainingDocs(spark, dir), "doc_id"))
    assert(n == 0 && !pending)
    assert(noop <= probe, s"a no-op filter run ran $noop jobs, its probe alone $probe")
  }

  test("doc url rule: column form is byte-identical to the literal form (resume key contract)") {
    // ExtractOps.docUrlCol is the anti-join key corpusEndToEnd resolves
    // pending docs with; ExtractOps.docUrl is the url the committed page
    // rows actually carry. If they ever diverge, resumes silently
    // re-extract the whole corpus and append duplicate urls — so pin
    // column == literal == inverse over ids spanning digit-length edges.
    import spark.implicits._
    val ids = Seq(0L, 1L, 9L, 10L, 99L, 12345L, 1000000007L, Long.MaxValue)
    val got = ids.toDF("doc_id")
      .select(col("doc_id"), graft.ops.ExtractOps.docUrlCol(col("doc_id")).as("url"))
      .withColumn("back", graft.ops.ExtractOps.docIdCol(col("url")))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    got.foreach { case (id, url, back) =>
      assert(url == graft.ops.ExtractOps.docUrl(id), s"column/literal url rule diverged at $id")
      assert(back == id, s"docIdCol is not the inverse of docUrl at $id")
    }
  }

  test("TableIO resume: partial commit + rerun converges to identical full table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tableio").toString
    val io = new graft.pipeline.TableIO(dir)
    val fixtures = WebCorpus.generate(50)
    val all = spark.createDataset(fixtures.map(_.page))
    // first run: only half the input was available (simulated partial run)
    val firstHalf = spark.createDataset(fixtures.take(25).map(_.page))
    val n1 = TableIO.resumeExtract(io, firstHalf)
    assert(n1 == 25)
    // resume with the full input: only the missing 25 are processed
    val n2 = TableIO.resumeExtract(io, all)
    assert(n2 == 25)
    // idempotent: a third run commits nothing
    val n3 = TableIO.resumeExtract(io, all)
    assert(n3 == 0)
    val committed = io.readTable(spark).get
    assert(committed.count() == 50)
    // byte-identical to a fresh single-shot run
    val fresh = ExtractPipeline.run(all).select("url", "text")
      .as[(String, String)].collect().sortBy(_._1)
    val resumed = committed.select("url", "text")
      .as[(String, String)].collect().sortBy(_._1)
    assert(fresh.sameElements(resumed))
  }

  test("corpus e2e pipeline: kill-resume at every stage boundary converges byte-identically") {
    import org.apache.spark.sql.functions.col
    // small corpus: a training slice plus the full held-out benchmark
    // slice (decontamination reference), written as its own documents dir
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-docs").toString
    src.filter(col("doc_id") < 150 || col("doc_id") % 11 === 0)
      .write.parquet(s"$dir/documents.parquet")
    def run(root: String): Seq[String] =
      graft.ops.CorpusOps.corpusEndToEnd(spark, dir, root)
        .collect().map(_.toString).sorted.toSeq
    def manifest(root: String, stage: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, stage, "manifest.json")), "UTF-8")

    // cold run
    val rootA = java.nio.file.Files.createTempDirectory("graft-e2e-a").toString
    val cold = run(rootA)
    assert(cold.nonEmpty)

    // simulated kill after the dedup stage: downstream tables vanish,
    // upstream commits must be reused verbatim, result identical
    val extractedM = manifest(rootA, "extracted")
    val survivorsM = manifest(rootA, "survivors")
    def rmrf(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(path))
        java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
    rmrf(s"$rootA/decisions"); rmrf(s"$rootA/packed")
    assert(run(rootA) == cold)
    assert(manifest(rootA, "extracted") == extractedM,
      "extraction was recomputed on a resume that had it committed")
    assert(manifest(rootA, "survivors") == survivorsM,
      "dedup survivors were recomputed on a resume with unchanged input")

    // no-op resume: nothing recomputes, no manifest grows
    val manifests = Seq("extracted", "survivors", "decisions", "packed")
      .map(s => manifest(rootA, s))
    assert(run(rootA) == cold)
    assert(Seq("extracted", "survivors", "decisions", "packed")
      .map(s => manifest(rootA, s)) == manifests,
      "a no-op resume grew a stage manifest")

    // kill mid-extraction: half the pages committed, rerun finishes the
    // remainder (extracted gets a SECOND snapshot) and converges
    val rootB = java.nio.file.Files.createTempDirectory("graft-e2e-b").toString
    val pages = graft.ops.ExtractOps.documentsAsPages(spark, dir)
    val half = pages.filter(_.url.hashCode % 2 == 0)
    TableIO.resumeExtract(new TableIO(s"$rootB/extracted"), half)
    assert(run(rootB) == cold)
    assert(new TableIO(s"$rootB/extracted").snapshots().length == 2)

    // corpus growth: the remaining training docs arrive; dedup recomputes
    // (corpus-global), only NEW docs get decided, packing recomputes —
    // and the table converges to a fresh one-shot over the full corpus
    src.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val initialDocs = src.filter(col("doc_id") < 150 || col("doc_id") % 11 === 0).count()
    val grownDocs = src.count()
    val grown = run(rootA)
    assert(new TableIO(s"$rootA/decisions").snapshots().length == 2,
      "growth resume must append one decisions snapshot, not rewrite")
    // r6 incremental dedup: growth APPENDS a bands snapshot holding only
    // the NEW docs' band rows (4 bands per doc) — the committed corpus
    // is never re-banded, so the stage's banding work scales with the
    // increment, not the corpus
    val bandSnaps = new TableIO(s"$rootA/bands").snapshots()
    assert(bandSnaps.length == 2,
      s"growth resume must append one bands snapshot, got ${bandSnaps.length}")
    assert(bandSnaps.head.rows == initialDocs * 4,
      s"first bands snapshot must band the initial corpus only " +
        s"(${bandSnaps.head.rows} rows vs ${initialDocs * 4})")
    assert(bandSnaps.last.rows == (grownDocs - initialDocs) * 4,
      s"growth bands snapshot must band ONLY the new docs " +
        s"(${bandSnaps.last.rows} rows vs ${(grownDocs - initialDocs) * 4})")
    // converges byte-identically to a fresh one-shot over the full corpus
    val rootC = java.nio.file.Files.createTempDirectory("graft-e2e-c").toString
    assert(run(rootC) == grown)

    // crash remnants around the incremental dedup commits converge:
    // (a) bands without labels (a legacy-order write interrupted before
    // cc) must full-rebuild, never serve missing labels
    rmrf(s"$rootA/cc"); rmrf(s"$rootA/survivors")
    rmrf(s"$rootA/packed") // downstream of survivors
    assert(run(rootA) == grown, "bands-without-cc remnant must converge")
    // (b) labels without bands (the new commit order's crash window)
    // must re-derive the increment idempotently
    rmrf(s"$rootA/bands"); rmrf(s"$rootA/survivors"); rmrf(s"$rootA/packed")
    assert(run(rootA) == grown, "cc-without-bands remnant must converge")
    // ... including the component labels themselves: the incrementally
    // re-solved cc table equals the one-shot's, row for row
    def ccRows(root: String): Set[String] =
      new TableIO(s"$root/cc").readTable(spark).get
        .collect().map(_.toString).toSet
    assert(ccRows(rootA) == ccRows(rootC),
      "incremental component labels must equal the one-shot labels")
  }

  test("corpus e2e pipeline: every job is described e2e:, the caller's description comes back") {
    import spark.implicits._
    val words = Seq("river", "stone", "market", "winter", "garden", "signal", "copper",
      "harbor", "lantern", "meadow", "orbit", "canvas")
    // 60 documents of 40 words, every seventh an exact copy of its predecessor
    val texts = (0 until 60).map(i => (0 until 40).map(j => words((i * 5 + j * j) % words.size)))
      .map(_.mkString(" ") + ".")
    val docs = texts.indices.map(i => if (i % 7 == 6) texts(i - 1) else texts(i))
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-desc-docs").toString
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-e2e-desc").toString
    val sc = spark.sparkContext
    try {
      sc.setJobDescription("caller description")
      Seq("cold", "no-op").foreach { run =>
        val (packed, log) = graft.obs.JobLog.record(spark, s"e2e $run") {
          graft.ops.CorpusOps.corpusEndToEnd(spark, dir, root)
        }
        assert(log.jobs.nonEmpty, s"$run run ran no job")
        val stray = log.jobs.map(_.description).filterNot(_.exists(_.startsWith("e2e: ")))
        assert(stray.isEmpty, s"$run run: jobs not described e2e: $stray")
        assert(sc.getLocalProperty("spark.job.description") == "caller description")
        assert(packed.count() > 0)
        if (run == "cold") {
          val phases = log.jobs.flatMap(_.description).toSet
          Seq("extract append", "survivors compute", "decisions append", "packed compute")
            .foreach(p => assert(phases.contains(s"e2e: $p"), s"no job described 'e2e: $p' in $phases"))
        }
      }
    } finally sc.setJobDescription(null)
  }

  test("a no-op resumeExtract commits nothing: manifest byte-identical, no new snapshot dir") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-noop-resume").toString
    val io = new TableIO(root)
    val pages = spark.createDataset(WebCorpus.generate(20).map(_.page))
    assert(TableIO.resumeExtract(io, pages) == 20)
    def manifest = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, "manifest.json")).toSeq
    def snapDirs = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.toArray.toSeq.map(_.toString).filter(_.contains("snap-")).sorted finally s.close()
    }
    val (m, dirs) = (manifest, snapDirs)
    assert(TableIO.resumeExtract(io, pages) == 0)
    assert(manifest == m, "a no-op resume rewrote the manifest")
    assert(snapDirs == dirs, "a no-op resume left a snapshot dir")
  }

  test("a stage table's manifest tag survives rollbackTo: the restored stage is fresh again") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-tag-docs").toString
    src.filter(col("doc_id") < 80).write.parquet(s"$dir/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-tag").toString
    val cold = graft.ops.CorpusOps.corpusEndToEnd(spark, dir, root).collect().map(_.toString).sorted
    val packed = new TableIO(s"$root/packed")
    val committed = packed.snapshots()
    assert(committed.size == 1 && committed.head.tag.nonEmpty, s"untagged stage: $committed")
    // the rewrites of the live table keep its tag
    packed.compact(spark)
    packed.deleteWhere(spark, org.apache.spark.sql.functions.lit(false))
    assert(packed.snapshots().map(_.tag) == Seq(committed.head.tag))
    // a commit under another key, then the rollback to the stage's commit
    packed.replaceWith(Seq(1).toDF("x"), "other-key")
    packed.rollbackTo(committed.head.id)
    assert(packed.snapshots() == committed)
    val (again, log) = graft.obs.JobLog.record(spark, "after rollback") {
      graft.ops.CorpusOps.corpusEndToEnd(spark, dir, root).collect().map(_.toString).sorted
    }
    assert(again.sameElements(cold))
    assert(!log.jobs.flatMap(_.description).exists(_.endsWith("compute")),
      s"a stage recomputed after the rollback: ${log.jobs.flatMap(_.description)}")
    assert(packed.snapshots() == committed)
  }

  test("mergeByKey: MERGE INTO-shaped upsert is idempotent and keeps rollback snapshots") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val io = new TableIO(root)
    io.appendSnapshot(Seq(("u1", 1), ("u2", 2), ("u3", 3)).toDF("key", "v"))

    // update u2, insert u4
    val updates = Seq(("u2", 20), ("u4", 40)).toDF("key", "v")
    io.mergeByKey(updates, "key")
    def table(): Map[String, Int] = io.readTable(spark).get
      .as[(String, Int)].collect().toMap
    assert(table() == Map("u1" -> 1, "u2" -> 20, "u3" -> 3, "u4" -> 40))

    // idempotent: merging the identical updates converges to the same table
    io.mergeByKey(updates, "key")
    assert(table() == Map("u1" -> 1, "u2" -> 20, "u3" -> 3, "u4" -> 40))

    // earlier snapshot dirs survive on disk for rollback
    assert(new java.io.File(s"$root/snap-1").exists())
    assert(io.snapshots().length == 1) // manifest references only the live one
  }

  test("deleteWhere: scoped delete then re-extract converges (delete_by_report analog)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-del").toString
    val io = new TableIO(root)
    io.appendSnapshot(Seq(("r1", "a", 1), ("r1", "b", 2), ("r2", "c", 3))
      .toDF("report_id", "key", "v"))
    def table(): Set[(String, String, Int)] = io.readTable(spark).get
      .select("report_id", "key", "v")
      .as[(String, String, Int)].collect().toSet
    // surgically remove one report's rows
    io.deleteByKeys(spark, "report_id", Seq("r1"))
    assert(table() == Set(("r2", "c", 3)))
    // re-extract the deleted report (values changed) and merge: converges
    val reextracted = Seq(("r1", "a", 10), ("r1", "b", 20)).toDF("report_id", "key", "v")
    io.mergeByKey(reextracted, "key")
    assert(table() == Set(("r1", "a", 10), ("r1", "b", 20), ("r2", "c", 3)))
    // idempotent re-merge
    io.mergeByKey(reextracted, "key")
    assert(table() == Set(("r1", "a", 10), ("r1", "b", 20), ("r2", "c", 3)))
  }

  test("deleteWhere keeps NULL-condition rows (SQL DELETE semantics)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-delnull").toString
    val io = new TableIO(root)
    io.appendSnapshot(Seq((Some("r1"), 1), (None, 2), (Some("r2"), 3))
      .toDF("report_id", "v"))
    // isin() is NULL for the NULL-keyed row — it must SURVIVE the delete
    io.deleteByKeys(spark, "report_id", Seq("r1"))
    val rows = io.readTable(spark).get.select("report_id", "v")
      .as[(Option[String], Int)].collect().toSet
    assert(rows == Set((None, 2), (Some("r2"), 3)))
  }

  test("compact folds many snapshots into one; content and rollback unaffected") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val io = new TableIO(root)
    (1 to 4).foreach(i => io.appendSnapshot(Seq((s"u$i", i)).toDF("key", "v")))
    assert(io.snapshots().size == 4)
    def table(): Map[String, Int] = io.readTable(spark).get
      .as[(String, Int)].collect().toMap
    val before = table()
    val snap = io.compact(spark)
    assert(snap.nonEmpty)
    assert(io.snapshots().size == 1)
    assert(table() == before)
    // compacting a single-snapshot view is a no-op
    assert(io.compact(spark).isEmpty)
    // the pre-compaction view is still restorable
    io.rollbackTo(4L)
    assert(io.snapshots().size == 4 && table() == before)
  }

  test("rollbackTo restores a prior snapshot; post-rollback commits keep unique ids") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-rb").toString
    val io = new TableIO(root)
    val s1 = io.appendSnapshot(Seq(("u1", 1), ("u2", 2)).toDF("key", "v"))
    val updates = Seq(("u2", 20), ("u3", 30)).toDF("key", "v")
    val s2 = io.mergeByKey(updates, "key")
    def table(): Map[String, Int] = io.readTable(spark).get
      .as[(String, Int)].collect().toMap
    assert(table() == Map("u1" -> 1, "u2" -> 20, "u3" -> 30))
    // metadata-only rollback to the first commit
    io.rollbackTo(s1.id)
    assert(table() == Map("u1" -> 1, "u2" -> 2))
    // re-running the merge after rollback converges to the same state
    val s3 = io.mergeByKey(updates, "key")
    assert(table() == Map("u1" -> 1, "u2" -> 20, "u3" -> 30))
    assert(s3.id > s2.id) // abandoned-branch ids are never reused
    // rolling back to an unknown snapshot fails loudly
    intercept[IllegalArgumentException](io.rollbackTo(9999L))
  }

  test("orphaned reservation from a crashed write doesn't wedge the table") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-orphan").toString
    val io = new TableIO(root)
    io.appendSnapshot(Seq(("u1", 1)).toDF("key", "v")) // snap-1
    // a previous write crashed after reserving snap-2 (dir exists, no
    // manifest/history record): the retry must claim the next free id
    // and converge, not collide with its own orphan forever
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(root, "snap-2"))
    val s = io.appendSnapshot(Seq(("u2", 2)).toDF("key", "v"))
    assert(s.id == 3, "retry must skip past the orphaned reservation")
    assert(io.readTable(spark).get.as[(String, Int)].collect().toMap ==
      Map("u1" -> 1, "u2" -> 2))
  }

  test("interleaved writers: the losing commit throws instead of silently vanishing") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("graft-race").toString
    val io = new TableIO(root)
    io.appendSnapshot(Seq(("u1", 1)).toDF("key", "v"))
    // writer A starts a slow commit (its snapshot write blocks on a
    // latch); writer B lands a full commit in the middle; A must then
    // detect the manifest moved under it and fail loudly
    val slow = spark.createDataset(Seq(("u2", 2)))
      .repartition(1)
      .mapPartitions { it => WriterRaceGate.gate.await(); it }
      .toDF("key", "v")
    val fA = Future(io.appendSnapshot(slow))
    // wait until A has reserved its dir, then let B commit
    val t0 = System.nanoTime()
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "snap-2")) &&
      System.nanoTime() - t0 < 60e9) Thread.sleep(20)
    new TableIO(root).appendSnapshot(Seq(("u3", 3)).toDF("key", "v"))
    WriterRaceGate.gate.countDown()
    // on an unexpected exception class, dump the full cause chain —
    // intercept() reports only the top-level class, and this test once
    // failed with an opaque Shell$ExitCodeException whose cause chain
    // was the clue to a REAL reservation bug (Overwrite deleting the
    // reserved dir); keep the diagnosis cheap if it ever flakes again
    val e = try intercept[IllegalStateException](Await.result(fA, 300.seconds))
    catch { case t: Throwable =>
      def dump(x: Throwable, d: Int = 0): Unit = if (x != null && d < 8) {
        System.err.println("RACEDBG " + ("  " * d) + x.getClass.getName + ": " + x.getMessage)
        x.getSuppressed.foreach(s => System.err.println("RACEDBG sup " + s))
        dump(x.getCause, d + 1)
      }
      dump(t); throw t
    }
    assert(e.getMessage.contains("concurrent writer"))
    // B's commit survives; A's never entered the live view
    assert(io.readTable(spark).get.as[(String, Int)].collect().toMap ==
      Map("u1" -> 1, "u3" -> 3))
  }

  /** The manifest's record of `snap` must equal what reading its files
    * back gives: the row count, and the inferred schema as the same JSON
    * text (so tables mixing old and new commits keep skipping inference).
    */
  private def assertCommitMetadata(io: TableIO, snap: TableIO.Snapshot): Unit = {
    val recorded = io.snapshots().find(_.id == snap.id).get
    val back = spark.read.parquet(s"${io.root}/${recorded.dir}")
    assert(recorded.rows == back.count(), s"rows of ${recorded.dir}")
    val json = new String(java.util.Base64.getDecoder.decode(recorded.schema64), "UTF-8")
    assert(org.apache.spark.sql.types.DataType.fromJson(json).json == back.schema.json,
      s"schema of ${recorded.dir}")
  }

  test("commit metadata: manifest rows and schema64 equal the written files read back") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def fresh(tag: String) =
      new TableIO(java.nio.file.Files.createTempDirectory(s"graft-meta-$tag").toString)

    val docs = fresh("docs")
    TableIO.resumeExtract(docs, spark.createDataset(WebCorpus.generate(12).map(_.page)))
    assertCommitMetadata(docs, docs.snapshots().last)

    val nested = fresh("nested")
    assertCommitMetadata(nested, nested.appendSnapshot(Seq(
      CommitNested("a", Some("x"), Seq(1, 2), Map("k" -> Seq(1L)), CommitInner(Some(1), Seq("t"))),
      CommitNested("b", None, Nil, Map.empty, CommitInner(None, Nil))).toDF()))

    val typed = fresh("typed")
    assertCommitMetadata(typed, typed.appendSnapshot(Seq(
      CommitTyped("a", new java.sql.Timestamp(0L), Array[Byte](1, 2), BigDecimal("1.5"), 3, 4),
      CommitTyped("b", null, null, null, 5, 6)).toDF()))

    val merged = fresh("merged")
    merged.appendSnapshot(Seq(("u1", 1), ("u2", 2)).toDF("key", "v"))
    assertCommitMetadata(merged, merged.mergeByKey(Seq(("u2", 20), ("u3", 30)).toDF("key", "v"), "key"))

    val empty = fresh("empty")
    val none = Await.result(Future(empty.appendSnapshot(Seq.empty[(String, Int)].toDF("key", "v"))),
      120.seconds)
    assert(none.rows == 0)
    // an empty append commits nothing: no manifest line, no snapshot dir
    assert(empty.snapshots().isEmpty && !java.nio.file.Files.exists(
      java.nio.file.Paths.get(empty.root, none.dir)))
  }

  test("a commit runs exactly one Spark job: the write") {
    import spark.implicits._
    // the log holds only the jobs this body ran (its own job tag), so
    // nothing another suite left running can leak into the figure
    def jobsOf(body: => Unit): Int = graft.obs.JobLog.record(spark, "commit")(body)._2.jobs.size
    val pages = spark.createDataset(WebCorpus.generate(20).map(_.page))
    val docs = new TableIO(java.nio.file.Files.createTempDirectory("graft-jobs-docs").toString)
    assert(jobsOf(TableIO.resumeExtract(docs, pages)) == 1)
    val kv = new TableIO(java.nio.file.Files.createTempDirectory("graft-jobs-kv").toString)
    assert(jobsOf(kv.appendSnapshot(Seq(("u1", 1), ("u2", 2)).toDF("key", "v"))) == 1)
  }

  test("a warm resumeExtract runs at most three jobs: two key broadcasts and the write") {
    import spark.implicits._
    val pdir = java.nio.file.Files.createTempDirectory("graft-jobs-pages").toString
    spark.createDataset(WebCorpus.generate(200).map(_.page)).write.parquet(s"$pdir/pages")
    val pages = spark.read.parquet(s"$pdir/pages").as[PageRow]
    val io = new TableIO(java.nio.file.Files.createTempDirectory("graft-jobs-resume").toString)
    assert(TableIO.resumeExtract(io, pages.filter(_.url.hashCode % 20 != 0)) > 0)
    val (n, log) = graft.obs.JobLog.record(spark, "resume")(TableIO.resumeExtract(io, pages))
    assert(n > 0, "sanity: the delta must be non-empty")
    assert(log.jobs.size <= 3, s"warm resume ran ${log.jobs.size} jobs: ${log.json}")
  }

  test("entry flagship returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("extraction roundtrip recovers document text byte-identically (sf0.001)") {
    import spark.implicits._
    val got = graft.ops.ExtractOps.roundtrip(spark, "/root/testdata/sf0.001")
      .as[(Long, String)].collect().toMap
    val exp = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got.size == exp.size)
    exp.foreach { case (id, t) => assert(got(id) == t, s"doc $id") }
  }
}

/** Executor-visible latch for the interleaved-writer race test (a plain
  * CountDownLatch can't ride a serialized closure; an object reference
  * can, and local mode shares the JVM).
  */
object WriterRaceGate {
  val gate = new java.util.concurrent.CountDownLatch(1)
}

/** Column shapes for the commit-metadata spec: Option, array, map and
  * nested-struct columns, then timestamp, binary, decimal, short and
  * byte columns.
  */
final case class CommitInner(a: Option[Int], tags: Seq[String])
final case class CommitNested(key: String, opt: Option[String], arr: Seq[Int],
                              m: Map[String, Seq[Long]], inner: CommitInner)
final case class CommitTyped(key: String, ts: java.sql.Timestamp, bin: Array[Byte],
                             dec: BigDecimal, sh: Short, by: Byte)
