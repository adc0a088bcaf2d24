package graft

import graft.functions.GramKeyFunctions.gram_keys
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property check of [[graft.functions.GramKeys]]: for generated texts,
  * the two longs of element `p-1` of `gram_keys(text, k)` are the 16
  * bytes of Spark's own
  * `unhex(md5(array_join(slice(split(text, ' '), p, k), ' ')))`, and a
  * null text gives null.
  */
class GramKeysPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // valid Unicode only, no space (spaces are the separators): ASCII,
  // Latin, Cyrillic, CJK and astral-plane emoji
  val codePoint: Gen[Int] = Gen.frequency(
    4 -> Gen.oneOf(Gen.choose(0x21, 0x7e), Gen.const(0x9)),
    2 -> Gen.choose(0xa0, 0x24f),
    1 -> Gen.choose(0x400, 0x4ff),
    2 -> Gen.choose(0x4e00, 0x9fff),
    2 -> Gen.choose(0x1f300, 0x1f64f))
  // an empty token is a double, leading or trailing space
  val token: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    5 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, codePoint))
      .map(cps => new String(cps.toArray, 0, cps.size)))
  val text: Gen[String] = Gen.frequency(
    12 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, token)).map(_.mkString(" ")),
    1 -> Gen.const(null))
  val ks = Seq(1, 2, 3, 8)
  // fixed edge cases ride along with every batch: n < k, n == k, k == 1
  val edges = Seq("", " ", "a", "a b", "a  b", " a b ", "1 2 3 4 5 6 7",
    "1 2 3 4 5 6 7 8", "1 2 3 4 5 6 7 8 9", "é 一 😀 d", null)

  /** (text, k, got, want) for one batch, `want` from Spark's md5 of the
    * joined gram and `got` the gram keys as 16 big-endian bytes.
    */
  def evaluate(texts: Seq[String]): Seq[(String, Int, Option[Seq[Seq[Byte]]], Seq[Seq[Byte]])] = {
    import spark.implicits._
    val toks = split(col("text"), " ")
    val df = texts.toDF("text")
    df.select(col("text") +: ks.flatMap { k =>
      val n = size(toks)
      Seq(gram_keys(col("text"), k).as(s"got$k"),
        when(n >= k, transform(sequence(lit(1), n - (k - 1)),
            p => unhex(md5(array_join(slice(toks, p, lit(k)), " ")))))
          .otherwise(array().cast("array<binary>")).as(s"want$k"))
    }: _*).collect().toSeq.flatMap { r =>
      ks.zipWithIndex.map { case (k, i) =>
        val got = Option(r.getSeq[Row](1 + 2 * i)).map(_.map(g =>
          java.nio.ByteBuffer.allocate(16).putLong(g.getLong(0)).putLong(g.getLong(1))
            .array().toSeq))
        val want = Option(r.getSeq[Array[Byte]](2 + 2 * i)).map(_.map(_.toSeq)).getOrElse(Nil)
        (r.getString(0), k, got, want)
      }
    }
  }

  test("gram_keys element p-1 is the 128-bit md5 of gram p, as two longs") {
    val batch = Gen.listOfN(60, text).map(_ ++ edges)
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(5)
        .withInitialSeed(Seed(20261019L)),
      Prop.forAllNoShrink(batch) { texts =>
        evaluate(texts).forall {
          case (null, _, got, _) => got.isEmpty
          case (t, k, got, want) =>
            val n = t.split(" ", -1).length
            got.contains(want) && want.size == math.max(0, n - k + 1)
        }
      })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
