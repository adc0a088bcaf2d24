package graft.ops

import graft.fixtures.MstrCorpus
import graft.mstr.MstrPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5}

/** SparkEntry surface for the MSTR entity pipeline, run on the
  * deterministic fixture corpus. Every query here is oracle-backed by a
  * frozen golden table (inline VALUES SQL under resources/graft/golden,
  * regenerated by tools/freeze_golden.py) so the driver's DuckDB gate —
  * not just ScalaTest — pins the flagship pipeline. Report JSON is
  * exported as its md5 digest: the full bytes are asserted in
  * MstrSpec/MstrJoinSpec; the digest makes the golden row stable and
  * VALUES-embeddable while still detecting any byte drift.
  */
object MstrQueries {
  /** ONE pipeline materialization per SparkContext ([[SessionMemo]];
    * the fixture corpus is static, so its identity is a constant):
    * `reports`, `nodes` and `edges` are three projections of the SAME
    * [[MstrPipeline.run]] output. `violations` and `joinPath` stay
    * uncached: the former is a different pipeline, the latter's
    * byte-equality-with-broadcast-plan proof must keep executing its
    * own plan.
    */
  private def run(spark: SparkSession) =
    SessionMemo(spark, "mstrFixtureRun", "static")(
      MstrPipeline.run(spark, MstrCorpus.pages, "pt-BR", numPartitions = 2))

  private def digested(df: DataFrame): DataFrame =
    df.select(col("report_id"), col("name"), col("file_path"), md5(col("json")).as("json_md5"))

  def reports(spark: SparkSession): DataFrame = digested(run(spark)._1.toDF())
  def nodes(spark: SparkSession): DataFrame = run(spark)._2.toDF()
  def edges(spark: SparkSession): DataFrame = run(spark)._3.toDF()
  def violations(spark: SparkSession): DataFrame =
    MstrPipeline.validation(spark, MstrCorpus.pages, "pt-BR", numPartitions = 2).toDF()

  /** The unbounded-corpus plan (distributed pages, staged request
    * joins) on the same fixture — byte-equality with the broadcast plan
    * is asserted in MstrJoinSpec; the oracle pins the same digests as
    * the broadcast plan's golden.
    */
  def joinPath(spark: SparkSession): DataFrame = {
    import spark.implicits._
    digested(graft.mstr.MstrJoinPipeline
      .run(spark, spark.createDataset(MstrCorpus.pages).repartition(2), "pt-BR").toDF())
  }
}
