package graft

import graft.mstr.MstrJoinPipeline.{SaltedPartitioner, saltKey}
import org.apache.spark.HashPartitioner
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property checks of the placement rules the join plan's single pages
  * layout rests on: plain keys, hot replicas and routed requests all go
  * through one [[SaltedPartitioner]], so a request meets its page only
  * if these hold for every file name and width.
  */
class SaltedPartitionerPropSpec extends AnyFunSuite {

  /** `prefix` plus a 7-char printable suffix whose String.hashCode is
    * exactly `target`: the suffix's chars are 33 + the base-31 digits of
    * the residue the prefix leaves (shifted by 8·2^32 so the 33-offset
    * never goes negative), which 31^7 > 2^32 always has room for.
    */
  def withHash(prefix: String, target: Int): String = {
    val pow7 = BigInt(31).pow(7)
    val offset = (0 until 7).map(i => BigInt(31).pow(i)).sum * 33
    val need = (BigInt(target) - BigInt(prefix.hashCode) * pow7).mod(BigInt(1) << 32)
    var rest = need + (BigInt(8) << 32) - offset
    val digits = Array.fill(7) { val d = (rest % 31).toInt; rest /= 31; d }
    prefix + digits.reverse.map(d => (33 + d).toChar).mkString
  }

  // any file name without the NUL salted keys carry: plain unicode,
  // the fixture-style names, and names hashing within a few thousand of
  // Int.MaxValue or Int.MinValue, where hash + salt wraps in Int math
  val plainName: Gen[String] =
    Gen.listOf(Gen.choose('\u0001', '\uffff')).map(_.mkString)
  val fixtureName: Gen[String] =
    Gen.choose(0, 9999999).map(i => s"F$i.html")
  val edgeName: Gen[String] = for {
    prefix <- Gen.alphaNumStr
    d <- Gen.choose(0, 5000)
    target <- Gen.oneOf(Int.MaxValue - d, Int.MinValue + d)
  } yield withHash(prefix, target)
  val fileName: Gen[String] =
    Gen.frequency(3 -> plainName, 2 -> fixtureName, 2 -> edgeName,
      1 -> Gen.const("F8261463.html"))
  // powers of two hide the Int-overflow placement bug, so most widths
  // are not powers of two
  val width: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(2, 5000).suchThat(w => Integer.bitCount(w) != 1),
    1 -> Gen.choose(0, 12).map(1 << _))

  def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(1000)
        .withInitialSeed(Seed(20261017L)),
      prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("the generator's edge names hash where they were aimed") {
    check(Prop.forAll(Gen.alphaNumStr, Gen.choose(Int.MinValue, Int.MaxValue)) { (p, t) =>
      val s = withHash(p, t)
      s.hashCode == t && !s.contains('\u0000')
    })
  }

  test("a plain key maps as HashPartitioner does") {
    check(Prop.forAll(fileName, width) { (f, w) =>
      new SaltedPartitioner(w).getPartition(f) == new HashPartitioner(w).getPartition(f)
    })
  }

  test("salt 0 maps with its plain key") {
    check(Prop.forAll(fileName, width) { (f, w) =>
      val sp = new SaltedPartitioner(w)
      sp.getPartition(saltKey(f, 0)) == sp.getPartition(f)
    })
  }

  test("salts 0..k-1 occupy k distinct partitions") {
    val fileWidthK = for {
      f <- fileName
      w <- width
      k <- Gen.choose(1, w)
    } yield (f, w, k)
    check(Prop.forAll(fileWidthK) { case (f, w, k) =>
      val sp = new SaltedPartitioner(w)
      (0 until k).map(s => sp.getPartition(saltKey(f, s))).distinct.size == k
    })
  }
}
