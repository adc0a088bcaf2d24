package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scan-parallelism guard (guide §2.5 "input skew" / §6 input split
  * sizing): a small corpus arrives as ONE parquet split, so every
  * row-heavy projection upstream of the first exchange — page
  * synthesis, codec decode, shingle explode — runs single-threaded
  * while the rest of the machine idles. [[spread]] hash-repartitions on
  * a deterministic key up to the session's default parallelism, but
  * ONLY when the source table's scan yields fewer splits than that: at
  * production scale the layout is already parallel and NO shuffle is
  * added. The probe is [[Tables.status]]'s split count — file metadata,
  * never an action on `df`, so plan building stays lazy; it ignores
  * openCostInBytes packing, which can only UNDERcount splits.
  *
  * Deterministic hash key, not round-robin `repartition(n)`: no
  * sort-before-repartition pass is paid, and retried tasks reproduce
  * the same row placement (the SPARK-38388 failure class). Keys are
  * dense row ids, so hash occupancy is even (≫20 distinct keys per
  * partition, guide §2.5).
  */
object Par {

  /** `df` repartitioned by `key` to the session's parallelism iff the
    * backing table at `dir/name.parquet` scans in fewer splits; the
    * result SET is unchanged (row-local consumers only).
    */
  def spread(df: DataFrame, dir: String, name: String = "documents",
             key: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    if (Tables.status(spark, s"$dir/$name.parquet").splits >= n) df
    else df.repartition(n, col(key))
  }
}
