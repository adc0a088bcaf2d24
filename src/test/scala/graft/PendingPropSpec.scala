package graft

import graft.pipeline.TableIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property check of [[TableIO.pending]] against the earlier
  * formulation it replaced, kept here as the reference: distinct
  * non-null input keys anti-joined against the distinct committed
  * keys, then a left join back to the input with a flag column, plus
  * every null-key row. [[TableIO.hasPending]] must agree with the
  * reference's emptiness, and [[TableIO.appendPending]] must call its
  * build exactly when the reference has rows and commit that many.
  * Generated cases draw keys from a small pool, so duplicate urls on
  * both sides are common; null urls sit on both sides, and the
  * committed table is absent, empty, or any subset of the pool.
  */
class PendingPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val inputSchema = StructType(Seq(
    StructField("url", StringType), StructField("ord", IntegerType),
    StructField("html", StringType)))
  private val committedSchema = StructType(Seq(
    StructField("url", StringType), StructField("text", StringType)))

  val url: Gen[String] = Gen.frequency(
    8 -> Gen.choose(0, 11).map(i => s"https://x.example/p$i"), 1 -> Gen.const(null))
  def rows(max: Int): Gen[List[String]] = Gen.choose(0, max).flatMap(Gen.listOfN(_, url))
  /** None: no table; Some(Nil): a committed table with no rows
    * (committed by `replaceWith`, since an empty append commits nothing).
    */
  val committedUrls: Gen[Option[List[String]]] =
    Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Nil)), 6 -> rows(14).map(Some(_)))

  def reference(input: DataFrame, committed: Option[DataFrame], keyCol: String): DataFrame =
    committed match {
      case None => input
      case Some(c) =>
        val pendingKeys = input.select(col(keyCol)).where(col(keyCol).isNotNull)
          .distinct()
          .join(c.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
          .withColumn("__graft_pending", lit(true))
        input.join(pendingKeys, Seq(keyCol), "left")
          .where(col("__graft_pending").isNotNull || col(keyCol).isNull)
          .select(input.columns.map(col): _*)
    }

  def multiset(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq

  test("pending keeps exactly the reference formulation's rows, duplicates and null keys included") {
    val prop = Prop.forAll(rows(16), committedUrls) { (in, done) =>
      val input = spark.createDataFrame(
        spark.sparkContext.parallelize(
          in.zipWithIndex.map { case (u, i) => Row(u, i, s"<p>$i</p>") }, 2),
        inputSchema)
      val io = new TableIO(java.nio.file.Files.createTempDirectory("graft-pending").toString)
      done.foreach(us => io.replaceWith(spark.createDataFrame(
        spark.sparkContext.parallelize(us.map(u => Row(u, "t")), 2), committedSchema)))
      val got = multiset(io.pending(input, "url"))
      val want = multiset(reference(input, io.readTable(spark), "url"))
      val pendingProbe = io.hasPending(input, "url")
      var builds = 0
      val appended = io.appendPending(input, "url") { todo =>
        builds += 1
        todo.select(col("url"), lit("t").as("text"))
      }
      Prop(got == want) :| s"pending $got != reference $want" &&
        Prop(pendingProbe == want.nonEmpty) :| s"hasPending $pendingProbe, reference rows $want" &&
        Prop(builds == (if (want.nonEmpty) 1 else 0)) :| s"build ran $builds times, reference rows $want" &&
        Prop(appended == want.size) :| s"appendPending committed $appended, reference rows $want"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(20261019L)),
      prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
