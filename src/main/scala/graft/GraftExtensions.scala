package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Spark extensions entry point — registers every graft Catalyst
  * expression as a built-in-grade SQL function, so a cluster job can
  * enable the whole library with
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * and use every function of [[graft.functions.GraftFunctions.sqlFunctions]]
  * (`extract_main_text`, `vec_dot`, `minhash_sigs`, ...) from pure SQL.
  * (Unlike the temp-function fallback in
  * [[graft.functions.GraftFunctions.register]], extension-injected
  * functions survive into every new session of the application.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { f =>
      val info = new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, "")
      ext.injectFunction((FunctionIdentifier(f.name), info, f.checked))
    }
}
