package graft.ops

import graft.SparkTestSession
import graft.obs.Scoped
import org.scalatest.funsuite.AnyFunSuite

/** The rewrite dedups return the same rows whatever the shuffle layout:
  * first-wins attribution is decided by ord, never by which partition
  * or task saw an occurrence first.
  */
class DedupInvarianceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(op: => org.apache.spark.sql.DataFrame): Seq[String] =
    op.collect().map(_.mkString("|")).sorted.toSeq

  Seq("spanDedup" -> (() => DedupOps.spanDedup(spark, dir)),
      "paraDedup" -> (() => DedupOps.paraDedup(spark, dir))).foreach { case (name, op) =>
    test(s"$name: identical rows under shuffle partitions 1, 3, 7 with AQE on and off") {
      val runs = for (aqe <- Seq("true", "false"); n <- Seq(1, 3, 7)) yield
        s"aqe=$aqe partitions=$n" -> Scoped(spark, None,
          "spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.shuffle.partitions" -> n.toString)(rows(op()))
      val (_, first) = runs.head
      assert(first.nonEmpty)
      runs.foreach { case (layout, got) => assert(got == first, layout) }
    }
  }
}
