package graft

import graft.mstr._
import graft.mstr.MstrJoinPipeline._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property checks of the join plan's fragment wire codec
  * ([[MstrJoinPipeline.Frag]]): each of the nine payload types
  * round-trips through `Frag.of`/`Frag.req` and `Frag.read` — null and
  * non-Latin strings, `None` and empty sequences included — and no
  * strict prefix of a blob decodes: a truncated blob throws.
  */
class FragCodecPropSpec extends AnyFunSuite {

  // valid Unicode only (a lone surrogate has no UTF-8 form): ASCII,
  // Latin, Cyrillic, CJK, astral-plane emoji and a few edge scalars
  val codePoint: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(0x20, 0x7e),
    2 -> Gen.choose(0xa0, 0x24f),
    1 -> Gen.choose(0x400, 0x4ff),
    2 -> Gen.choose(0x4e00, 0x9fff),
    1 -> Gen.choose(0x1f300, 0x1f64f),
    1 -> Gen.oneOf(0x0, 0xa, 0xfffd, 0x10ffff))
  val text: Gen[String] = Gen.choose(0, 12)
    .flatMap(Gen.listOfN(_, codePoint))
    .map(cps => new String(cps.toArray, 0, cps.size))
  val str: Gen[String] = Gen.frequency(8 -> text, 1 -> Gen.const(""), 1 -> Gen.const(null))
  val optStr: Gen[Option[String]] = Gen.option(str)
  val int: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(-1, 64), 1 -> Gen.oneOf(Int.MinValue, Int.MaxValue),
    1 -> Gen.choose(Int.MinValue, Int.MaxValue))
  def few[T](g: Gen[T]): Gen[List[T]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))

  val logicTable: Gen[LogicTable] =
    for (n <- str; id <- str; fp <- optStr; c <- optStr) yield LogicTable(n, id, fp, c)
  val owner: Gen[Owner] =
    for (n <- str; id <- str; fp <- str; full <- optStr; acc <- optStr)
      yield Owner(n, id, fp, full, acc)
  val ace: Gen[AccessControlEntry] =
    for (n <- str; acc <- str; full <- optStr; id <- optStr; fp <- optStr)
      yield AccessControlEntry(n, acc, full, id, fp)
  val atributo: Gen[Atributo] = for {
    n <- str; nds <- str; id <- str; fp <- str; dsId <- str; as <- optStr
    fms <- few(for (i <- str; fn <- str; lts <- few(logicTable)) yield Formulario(i, fn, lts))
  } yield Atributo(n, nds, id, fp, dsId, as, fms)

  val payloads: Seq[(String, Gen[java.io.Serializable])] = Seq(
    "DsReq" -> (for (r <- str; o <- int; n <- str; id <- str; dsf <- str; f <- str; s <- str)
      yield DsReq(r, o, n, id, dsf, f, s)),
    "AttrReq" -> (for (r <- str; d <- int; o <- int; off <- str; nds <- str; f <- str;
                       a <- str; id <- str) yield AttrReq(r, d, o, off, nds, f, a, id)),
    "MetricReq" -> (for (r <- str; d <- int; pos <- few(int); id <- str; n <- str; f <- str;
                         a <- str; idOpt <- optStr; path <- few(str))
      yield MetricReq(r, d, pos, id, n, f, a, idOpt, path)),
    "FactReq" -> (for (r <- str; d <- int; pos <- few(int); f <- str; a <- str)
      yield FactReq(r, d, pos, f, a)),
    "SkelFrag" -> (for (n <- str; fp <- str; ow <- Gen.option(owner); acl <- few(ace))
      yield SkelFrag(n, fp, ow, acl)),
    "DsFrag" -> (for (d <- int; n <- str; id <- str; fp <- str; ao <- optStr; g <- optStr)
      yield DsFrag(d, n, id, fp, ao, g)),
    "AttrFrag" -> (for (d <- int; o <- int; at <- atributo) yield AttrFrag(d, o, at)),
    "MetricNodeFrag" -> (for {
      d <- int; pos <- few(int); n <- str; id <- str; fp <- str; tipo <- str
      ao <- optStr; formula <- optStr
      fn <- Gen.option(for (a <- str; b <- str; c <- str) yield FunctionRef(a, b, c))
      fact <- Gen.option(for (a <- str; b <- str; c <- str; lts <- few(logicTable))
        yield FactRef(a, b, c, lts))
    } yield MetricNodeFrag(d, pos, n, id, fp, tipo, ao, formula, fn, fact)),
    "FactFrag" -> (for (d <- int; pos <- few(int); lts <- few(logicTable))
      yield FactFrag(d, pos, lts)))

  /** The payload as both envelopes: an assembly fragment and a request. */
  def frags(p: java.io.Serializable): Seq[Frag] =
    Seq(Frag.of("réport-一", p), Frag.req(Frag.KMetric, "Fáctura.html", p))

  def check(name: String, tests: Int, prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(tests)
        .withInitialSeed(Seed(20261019L)),
      prop)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  test("every payload type round-trips through both envelopes") {
    payloads.foreach { case (name, gen) =>
      check(name, 300, Prop.forAll(gen) { p =>
        frags(p).forall(f => Frag.read(f) == p)
      })
    }
  }

  test("every strict prefix of a blob throws") {
    // quadratic in blob length: fewer cases than the round trip
    payloads.foreach { case (name, gen) =>
      check(name, 60, Prop.forAll(gen) { p =>
        frags(p).forall { f =>
          (0 until f.blob.length).forall(n =>
            scala.util.Try(Frag.read(f.copy(blob = f.blob.take(n)))).isFailure)
        }
      })
    }
  }
}
