package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Star-contraction CC must agree with min-label propagation on every
  * graph shape — including the long chains that are propagation's
  * worst case and star contraction's reason to exist.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def refComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val real = pairs.filter(p => p._1 != p._2) // self-loops carry no info
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = real.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def check(pairs: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = pairs.toDF("a", "b")
    val want = refComponents(pairs)
    val star = graft.ops.DedupOps.connectedComponentsStar(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == want, s"star, pairs=$pairs")
    // the hybrid dispatch must agree on BOTH paths: a round budget big
    // enough to converge by propagation, and one that forces the
    // star-contraction fallback seeded with partial labels
    Seq(64, 1).foreach { rounds =>
      val hybrid = graft.ops.DedupOps.connectedComponents(df, labelRounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hybrid == want, s"hybrid(labelRounds=$rounds), pairs=$pairs")
    }
  }

  test("long chain (propagation worst case)") {
    check((0L until 40L).map(i => (i, i + 1)))
  }

  test("two cliques plus a bridge, reversed ids") {
    val c1 = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (j, i)
    val c2 = for (i <- 20L to 24L; j <- (i + 1) to 24L) yield (i, j)
    check(c1 ++ c2 ++ Seq((14L, 20L)))
  }

  test("singleton edges, self-contained pairs, star") {
    check(Seq((5L, 9L), (100L, 3L), (7L, 7L), (50L, 51L), (51L, 52L), (52L, 50L)))
  }

  test("non-numeric ids route through generic star contraction, same components") {
    import spark.implicits._
    // the Long label loop can't carry string ids; the dispatch must
    // fall back to the type-generic star path, not null-cast
    val pairs = Seq(("x5", "x9"), ("b2", "a1"), ("x9", "x7"))
      .toDF("a", "b")
    val got = graft.ops.DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("x5" -> "x5", "x9" -> "x5", "x7" -> "x5",
      "b2" -> "a1", "a1" -> "a1"))
  }

  test("random graphs agree with union-find") {
    val rnd = new scala.util.Random(99)
    (1 to 5).foreach { _ =>
      val n = 30
      val pairs = (1 to 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      check(pairs)
    }
  }

  test("fractional ids are never truncated: distinct doubles stay distinct nodes") {
    import spark.implicits._
    // under a cast-to-long label loop, 1.2 and 1.7 would collapse into
    // node 1; the dispatch must route non-integral numerics to the
    // type-generic star path instead
    val pairs = Seq((1.2, 1.7), (3.1, 3.9)).toDF("a", "b")
    val got = graft.ops.DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got == Map(1.2 -> 1.2, 1.7 -> 1.2, 3.1 -> 3.1, 3.9 -> 3.1))
  }

  test("a run restores the caller's AQE and whole-stage codegen settings") {
    import spark.implicits._
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    // getOption reports the default for an unset key, so set-ness is
    // read from getAll (explicit settings only)
    def settings: Seq[Option[String]] = keys.map(spark.conf.getAll.get)
    val original = settings
    try {
      keys.foreach(spark.conf.unset)
      graft.ops.DedupOps.connectedComponents(pairs).collect()
      assert(settings == Seq(None, None), "an unset key must stay unset, not become an explicit default")
      Seq("false", "true").foreach { v =>
        keys.foreach(spark.conf.set(_, v))
        graft.ops.DedupOps.connectedComponents(pairs).collect()
        assert(settings == Seq(Some(v), Some(v)), s"explicit setting $v was not restored")
      }
    } finally keys.zip(original).foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("shared LSH pair cache serves one materialization and invalidates on rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sharedpairs").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    write(Seq(dup, dup, "totally different words in this one right here"))
    val df1 = graft.ops.DedupOps.minhashLshPairsShared(spark, dir)
    assert(df1.collect().map(r => (r.getLong(0), r.getLong(1))).contains((0L, 1L)))
    // unchanged corpus → the SAME persisted instance is served
    assert(graft.ops.DedupOps.minhashLshPairsShared(spark, dir) eq df1)
    // regenerated corpus at the same path (different file status) must
    // recompute, not serve the stale pair set
    write(Seq("a b c d e f g h", "i j k l m n o p", "q r s t u v w x"))
    val df2 = graft.ops.DedupOps.minhashLshPairsShared(spark, dir)
    assert(!(df2 eq df1) && df2.collect().isEmpty)
  }
}
