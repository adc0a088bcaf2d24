package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects SQL functions usable without registration calls") {
    val base = SparkTestSession.spark // ensure shared context exists
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // `spark.sql.extensions` is a static conf read when the
      // SparkContext is created; the shared test context predates this
      // suite, so apply the same extension object via withExtensions —
      // identical injection path, context-independent.
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()

      val txt = "<html><body><main><p>Hello extension world, this is body text.</p></main>" +
        "<footer><a href=/x>x</a></footer></body></html>"
      val row = s.sql(
        s"""SELECT extract_main_text(encode('$txt', 'utf-8'), 'utf-8') AS t,
               normalize_for_comparison('Métrica') AS n,
               vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                       array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
               size(minhash_sigs('a b c d e', 8)) AS k,
               shingle_jaccard('a b c d', 'a b c d') AS j,
               length(srp_sigs(array_repeat(CAST(0.5 AS FLOAT), 64), 0, 8)) AS s,
               length(simhash16('a b c')) AS sh""").head()
      assert(row.getAs[String]("t").contains("Hello extension world"))
      assert(row.getAs[String]("n") == "METRICA")
      assert(row.getAs[Double]("d") == 11.0)
      assert(row.getAs[Int]("k") == 8)
      assert(row.getAs[Double]("j") == 1.0)
      assert(row.getAs[Int]("s") == 8)
      assert(row.getAs[Int]("sh") == 16)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("GraftExtensions and GraftFunctions.register expose the same SQL functions") {
    val base = SparkTestSession.spark
    def names(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    // newSession() starts from the built-ins alone: no temp function of
    // the shared session, no extension
    val builtin = names(base.newSession())
    val registered = {
      val s = base.newSession()
      graft.functions.GraftFunctions.register(s)
      names(s) -- builtin
    }
    val injected = try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      names(SparkSession.builder().master("local[2]")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()) -- builtin
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
    assert(registered.nonEmpty)
    assert(registered == injected,
      s"only registered: ${registered -- injected}; only injected: ${injected -- registered}")
  }
}
