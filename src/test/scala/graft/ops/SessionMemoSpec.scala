package graft.ops

import graft.SparkTestSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The derived-state contract every `graft.ops` memo user relies on:
  * one [[SessionMemo]] entry per (application, name), keyed by the
  * table identity [[Tables.status]] probes in one walk.
  */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Writes `n` rows of (id, text) — or (id, text, extra) — as a
    * multi-file parquet table at `dir/t.parquet`.
    */
  private def write(dir: String, n: Int, extra: Boolean = false): Unit = {
    import spark.implicits._
    val df = (0 until n).map(i => (i.toLong, s"row $i")).toDF("id", "text")
    (if (extra) df.withColumn("extra", df("id") * 2) else df)
      .repartition(3).write.mode("overwrite").parquet(s"$dir/t.parquet")
  }

  private def identity(dir: String): String =
    Tables.status(spark, s"$dir/t.parquet").identity

  test("an unchanged table serves the same instance; a rewrite rebuilds and unpersists") {
    val dir = tempDir("graft-memo")
    // each value carries the identity it was built under: a rebuilt
    // read of the same path would otherwise have the same plan, and a
    // Dataset's storageLevel is looked up by plan
    def shared() = {
      val id = identity(dir)
      SessionMemo(spark, s"spec:$dir", id)(spark.read.parquet(s"$dir/t.parquet")
        .withColumn("built_under", org.apache.spark.sql.functions.lit(id))
        .persist(StorageLevel.MEMORY_AND_DISK))
    }
    write(dir, 10)
    val first = shared()
    assert(first.count() == 10)
    assert(shared() eq first)
    write(dir, 25)
    val second = shared()
    assert(!(second eq first))
    assert(second.count() == 25)
    assert(first.storageLevel == StorageLevel.NONE, "the superseded Dataset is still cached")
    assert(second.storageLevel == StorageLevel.MEMORY_AND_DISK)
    second.unpersist(blocking = false)
  }

  test("Tables.read infers the new schema after a rewrite at the same path") {
    val dir = tempDir("graft-memo-schema")
    write(dir, 5)
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("id", "text"))
    write(dir, 5, extra = true)
    val df = Tables.read(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "text", "extra"))
    assert(df.selectExpr("sum(extra)").head().getLong(0) == 20L)
  }

  test("a build that reads through the memo nests without error") {
    val dir = tempDir("graft-memo-nested")
    write(dir, 7)
    val n = SessionMemo(spark, s"spec-outer:$dir", identity(dir))(
      Tables.read(spark, dir, "t").count() +
        SessionMemo(spark, s"spec-inner:$dir", identity(dir))(Tables.read(spark, dir, "t").count()))
    assert(n == 14L)
    // enough nested entries that, were builds run inside a concurrent
    // map's compute, one would land in the outer key's bin or force a
    // resize past it ("Recursive update")
    val sum = SessionMemo(spark, s"spec-outer-many:$dir", identity(dir))(
      (0 until 64).map(i => SessionMemo(spark, s"spec-inner-$i:$dir", identity(dir))(i)).sum)
    assert(sum == 2016)
    // the shared ops nest the same way: the SRP pairs build reads the
    // embeddings through the schema memo and counts them through embCount
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val pairs = SimilarityOps.bandedSrpPairsShared(spark, dir)
    assert(SimilarityOps.bandedSrpPairsShared(spark, dir) eq pairs)
    assert(pairs.count() > 0)
    pairs.unpersist(blocking = false)
  }

  test("layoutTag keeps the content-summary formula, byte for byte") {
    // the derived-layout roots on disk are named by this string
    def oldTag(dir: String, name: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      val it = fs.listFiles(p, true)
      var mtime = 0L
      while (it.hasNext) mtime = math.max(mtime, it.next().getModificationTime)
      f"${dir.hashCode}%08x_${bytes}%x_$mtime%x"
    }
    val dir = tempDir("graft-memo-tag")
    write(dir, 40)
    // a partitioned layout: nested directories under the table root
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, i % 3)).toDF("id", "part")
      .write.partitionBy("part").parquet(s"$dir/p.parquet")
    Seq("t", "p").foreach(n => assert(RelationalOps.layoutTag(spark, dir, n) == oldTag(dir, n), n))
  }
}
