package graft
import graft.obs.JobLog
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query benchmark for optimization work (guide §1.4): the
  * SAME session shape and timing methodology as the frozen
  * [[graft.Bench]] (master/shuffle partitions from `SPARK_GRAFT_CPUS`,
  * data dir from `SPARK_GRAFT_SF_DIR`, `df.count()` as the action) but
  * over a caller-chosen query subset with a caller-chosen rep count,
  * printing every rep so floors and steal spikes are visible. Every
  * rep runs under [[graft.obs.JobLog]]; the best rep's jobs, stages
  * and task times follow as one JSON line per query.
  * Usage: `runMain graft.BenchExtra <query>[,<query>...] [reps]`.
  * This main is measurement-only tooling; the driver's numbers come
  * from the untouched [[graft.Bench]].
  */
object BenchExtra {
  import org.apache.spark.sql.{DataFrame, functions => F}

  /** Experimental plan variants, A/B-able against the declared queries
    * without touching `SparkEntry.queries` (never benched by the
    * driver, never oracle-compared).
    */
  private val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q_decontaminate without either spread (its open A/B leg)
    "x_decontam_nospread" -> ((s, d) => {
      val k = 5
      def wordGrams(ws: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column) = {
        val gram = (i: org.apache.spark.sql.Column) =>
          F.concat_ws(" ", (0 until k).map(j => F.element_at(ws, i + j + 1)): _*)
        F.when(F.size(ws) >= k,
          F.transform(F.sequence(F.lit(0), F.size(ws) - k), gram))
          .otherwise(F.array(text))
      }
      def grams(df: DataFrame) = df
        .select(F.col("doc_id"), F.split(F.col("text"), " ").as("ws"), F.col("text"))
        .select(F.col("doc_id"), F.explode(wordGrams(F.col("ws"), F.col("text"))).as("gram"))
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bench = grams(docs.filter(F.col("doc_id") % 11 === 0))
        .select(F.col("gram")).distinct()
      grams(docs.filter(F.col("doc_id") % 11 =!= 0))
        .join(F.broadcast(bench), Seq("gram"))
        .groupBy(F.col("doc_id"))
        .agg(F.countDistinct(F.col("gram")).as("n_shared"))
    })
  )

  def main(args: Array[String]): Unit = {
    val names =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = variants.getOrElse(name, SparkEntry.queries(name))
      val logs = (1 to reps).map { i =>
        val (rows, log) = JobLog.record(spark, name)(fn(spark, sfDir).count())
        println(f"XBENCH $name rep$i ${log.wallS}%.3f s rows=$rows")
        log
      }
      val best = logs.minBy(_.wallS)
      println(f"XBENCH $name min ${best.wallS}%.3f s")
      println(best.json)
    }
    spark.stop()
  }
}
