package graft

import graft.fixtures.WebCorpus
import graft.pipeline.{ExtractPipeline, NioLocalFileSystem, TableIO}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `TableIO`'s own write job: what it leaves on disk under a task retry,
  * and that its files are the files `df.write.parquet` writes.
  */
class TableIOWriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString).sorted finally s.close()
  }

  test("a failed task attempt is retried: every row committed once, no in-progress file left") {
    val root = Files.createTempDirectory("graft-retry").toString
    // task retries need a context of their own (local[2,2]); the shared
    // test context is local[4], which fails a job on its first task failure
    val jvm = ManagementJvm.args.filterNot(_.startsWith("-Xmx")) :+ "-Xmx1g"
    val log = Files.createTempFile("graft-retry", ".log").toFile
    val cmd = (Paths.get(System.getProperty("java.home"), "bin", "java").toString +: jvm) ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TaskRetryWrite", root)
    val exit = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start().waitFor()
    val out = new String(Files.readAllBytes(log.toPath), StandardCharsets.UTF_8)
    assert(exit == 0, s"the retry run failed:\n${out.takeRight(4000)}")
    val seen = out.linesIterator.find(_.startsWith("IN-PROGRESS ")).map(_.stripPrefix("IN-PROGRESS "))
    // the failed attempt had flushed row groups into its in-progress file
    assert(seen.exists(s => s.startsWith(".part-00001-") && s.split(' ')(1).toLong > 4L),
      s"attempt 0 of partition 1 failed before writing a file: $seen")

    val io = new TableIO(root)
    val Seq(snap) = io.snapshots()
    val ids = io.readTable(spark).get.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until TaskRetryWrite.Rows), "some row is missing or committed twice")
    assert(snap.rows == TaskRetryWrite.Rows)
    val files = names(Paths.get(root, snap.dir))
    assert(files.forall(_.matches("""part-\d{5}-[0-9a-f-]+-c000\.snappy\.parquet""")),
      s"more than committed files: $files")
    assert(files.size == TaskRetryWrite.Parts)
    assert(files.count(_.startsWith("part-00001-")) == 1, s"partition 1 committed twice: $files")
  }

  private def footers(dir: String): Set[(String, Map[String, String], String)] = {
    val conf = spark.sessionState.newHadoopConf()
    names(Paths.get(dir)).filter(f => f.startsWith("part-") && f.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(dir, f), conf))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getSchema.toString, m.getKeyValueMetaData.asScala.toMap, m.getCreatedBy)
      } finally r.close()
    }.toSet
  }

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  private def extracted(n: Int): DataFrame = {
    import spark.implicits._
    ExtractPipeline.run(spark.createDataset(WebCorpus.generate(n).map(_.page))).toDF()
  }

  /** An `ExtractedDoc` frame and the commit-metadata spec's nested and
    * typed frames.
    */
  private def parityFrames: Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq(
      "docs" -> extracted(12),
      "nested" -> Seq(
        CommitNested("a", Some("x"), Seq(1, 2), Map("k" -> Seq(1L)), CommitInner(Some(1), Seq("t"))),
        CommitNested("b", None, Nil, Map.empty, CommitInner(None, Nil))).toDF(),
      "typed" -> Seq(
        CommitTyped("a", new java.sql.Timestamp(0L), Array[Byte](1, 2), BigDecimal("1.5"), 3, 4),
        CommitTyped("b", null, null, null, 5, 6)).toDF())
  }

  test("snapshot files carry df.write.parquet's footer schema, key/value metadata and created_by") {
    parityFrames.foreach { case (label, df) =>
      val written = Files.createTempDirectory(s"graft-parity-$label").resolve("out").toString
      df.write.parquet(written)
      val io = new TableIO(Files.createTempDirectory(s"graft-parity-io-$label").toString)
      val snap = io.appendSnapshot(df)
      val (want, got) = (footers(written), footers(s"${io.root}/${snap.dir}"))
      assert(want.size == 1 && got == want, s"$label: footers differ\n$want\n$got")
      assert(rows(io.readTable(spark).get) == rows(spark.read.parquet(written)), s"$label: rows differ")
    }
  }

  test("a one-partition snapshot file is byte for byte the part file df.write.parquet writes") {
    parityFrames.foreach { case (label, frame) =>
      val df = frame.coalesce(1)
      val written = Files.createTempDirectory(s"graft-bytes-$label").resolve("out")
      df.write.parquet(written.toString)
      val io = new TableIO(Files.createTempDirectory(s"graft-bytes-io-$label").toString)
      val snap = io.appendSnapshot(df)
      val Seq(want) = names(written).filter(_.startsWith("part-"))
      val Seq(got) = names(Paths.get(io.root, snap.dir))
      assert(got.startsWith("part-") && got.endsWith(".parquet"), s"$label: $got")
      assert(java.util.Arrays.equals(Files.readAllBytes(written.resolve(want)),
        Files.readAllBytes(Paths.get(io.root, snap.dir, got))), s"$label: $got differs from $want")
    }
  }

  test("NioLocalFileSystem gives files and dirs LocalFileSystem's permission bits, and no .crc") {
    val conf = spark.sessionState.newHadoopConf()
    // a umask the process's own is unlikely to be, so the bits are set, not inherited
    conf.set("fs.permissions.umask-mode", "027")
    val root = java.net.URI.create("file:///")
    val base = Files.createTempDirectory("graft-perms")
    def perms(p: Path): String =
      java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val made = Seq("nio" -> new NioLocalFileSystem(), "local" -> new LocalFileSystem()).map {
      case (label, fs) =>
        fs.initialize(root, conf)
        try {
          val dir = base.resolve(s"$label-dir")
          assert(fs.mkdirs(new HPath(dir.toString)))
          fs.create(new HPath(dir.resolve("f").toString)).close()
          label -> (perms(dir), perms(dir.resolve("f")), names(dir))
        } finally fs.close()
    }.toMap
    assert(made("nio") == ("rwxr-x---", "rw-r-----", Seq("f")), made)
    assert(made("local") == ("rwxr-x---", "rw-r-----", Seq(".f.crc", "f")), made)
  }

  test("a table whose first snapshot Spark's writer committed reads and resumes as the union") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mixed").toString
    val pages = WebCorpus.generate(30).map(_.page)
    // the first snapshot as the earlier commit path left it: written by
    // df.write.parquet (with its _SUCCESS marker), then one manifest line
    val first = ExtractPipeline.run(spark.createDataset(pages.take(20))).toDF()
    first.write.parquet(s"$root/snap-1")
    val schema64 = java.util.Base64.getEncoder.encodeToString(
      spark.read.parquet(s"$root/snap-1").schema.json.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(root, "manifest.json"),
      s"""{"id":1,"dir":"snap-1","rows":20,"schema64":"$schema64"}\n""".getBytes(StandardCharsets.UTF_8))
    val io = new TableIO(root)
    assert(TableIO.resumeExtract(io, spark.createDataset(pages)) == 10)
    assert(io.snapshots().map(_.dir) == Seq("snap-1", "snap-2"))
    val cols = Seq("url", "text", "parse_ok")
    assert(rows(io.readTable(spark).get.select(cols.head, cols.tail: _*)) ==
      rows(extracted(30).select(cols.head, cols.tail: _*)))
  }

  test("a replaceWith of no rows commits a snapshot without files that reads back empty") {
    import spark.implicits._
    val io = new TableIO(Files.createTempDirectory("graft-empty-replace").toString)
    io.appendSnapshot(Seq(("u1", 1)).toDF("key", "v"))
    val snap = io.replaceWith(Seq.empty[(String, Int)].toDF("key", "v"))
    assert(snap.rows == 0 && io.snapshots() == Seq(snap))
    assert(names(Paths.get(io.root, snap.dir)).isEmpty)
    val back = io.readTable(spark).get
    assert(back.count() == 0 && back.columns.toSeq == Seq("key", "v"))
  }
}

/** The JVM's own options (the `--add-opens` Spark needs among them), for
  * a child JVM.
  */
object ManagementJvm {
  def args: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
}

/** Child JVM of the retry spec: a local[2,2] session (two task attempts
  * per task) appends `Rows` ids in `Parts` partitions to a fresh table at
  * `args(0)`. Attempt 0 of partition 1 fails midway, once small row
  * groups have reached its in-progress file; it prints that file's name
  * and size as `IN-PROGRESS <name> <bytes>`.
  */
object TaskRetryWrite {
  final val Rows = 40000L
  final val Parts = 4

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = SparkSession.builder().master("local[2,2]")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.parquet.block.size", "1024")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = spark.range(0, Rows, 1, Parts).as[Long].mapPartitions { it =>
      val ctx = TaskContext.get()
      if (ctx.partitionId() != 1 || ctx.attemptNumber() != 0) it
      else it.zipWithIndex.map { case (v, i) =>
        if (i == 9000) {
          val dir = Paths.get(root, "snap-1")
          val s = Files.list(dir)
          try s.toArray.toSeq.map(_.asInstanceOf[Path])
            .filter(_.getFileName.toString.startsWith(".part-00001-"))
            .foreach(p => println(s"IN-PROGRESS ${p.getFileName} ${Files.size(p)}"))
          finally s.close()
          throw new RuntimeException("forced failure of attempt 0")
        }
        v
      }
    }.toDF("id")
    new TableIO(root).appendSnapshot(df)
    spark.stop()
  }
}
