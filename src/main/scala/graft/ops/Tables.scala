package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one file-status probe every table identity in `graft.ops`
  * derives from, and a flat-table reader with a SCHEMA memo.
  *
  * Resolving a parquet relation runs schema inference as a Spark job
  * (footer read), ~30 ms plus its planning gap, which every query
  * would pay again for the same immutable table. The reader keeps the
  * INFERRED SCHEMA — plan metadata only, never data — in
  * [[SessionMemo]] under the table's identity, so a regenerated table
  * at the same path re-infers: the job a catalog (or Iceberg table
  * metadata) does at production scale.
  */
object Tables {

  /** What one walk of a parquet path reports: total bytes of every
    * file under it (the length a content summary reports), the newest
    * mtime, and the scan split estimate [[Par.spread]] reads (data
    * files only, each file's bytes / maxPartitionBytes rounded up).
    */
  final case class Status(bytes: Long, mtime: Long, splits: Long) {
    /** The table's identity: a rewrite at the same path changes it. */
    def identity: String = f"${bytes}%x_$mtime%x"
  }

  /** [[Status]] of the parquet file/dir at `path` — driver-side fs
    * metadata from one recursive `listStatus` walk, no Spark job.
    * (`listFiles` would build a `LocatedFileStatus` per file, which on
    * the local filesystem loads each file's permissions through a
    * forked shell: ~27 ms per call on an 8-file table.)
    */
  def status(spark: SparkSession, path: String): Status = {
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes, mtime, splits = 0L
    def walk(dir: org.apache.hadoop.fs.Path): Unit = fs.listStatus(dir).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else {
        bytes += f.getLen
        mtime = math.max(mtime, f.getModificationTime)
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          splits += (f.getLen + maxSplit - 1) / maxSplit
      }
    }
    walk(p)
    Status(bytes, mtime, splits)
  }

  /** `spark.read.parquet(dir/name.parquet)`, inferring the schema once
    * per table identity.
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    readPath(spark, s"$dir/$name.parquet")

  /** [[read]] for any parquet dir, e.g. a partitioned derived layout:
    * partition DISCOVERY still runs (driver-side listing); only the
    * footer inference job is skipped.
    */
  def readPath(spark: SparkSession, path: String): DataFrame = {
    val schema = SessionMemo(spark, s"schema:$path", status(spark, path).identity)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}
