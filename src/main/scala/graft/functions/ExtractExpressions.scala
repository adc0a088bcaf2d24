package graft.functions

import graft.pipeline.ExtractPipeline
import graft.text.TextOps
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions exposing the extraction core at the SQL/Column
  * level (SURVEY.md §7.3 "optional SQL surface"): composable in any
  * query, registered for `spark.sql` via [[GraftFunctions.register]].
  *
  * Each row goes through the typed pipeline's per-document text
  * function ([[ExtractPipeline.textOf]]: PDFs sniffed on their magic
  * bytes, everything else decoded by `charset` and parsed as HTML), so
  * both surfaces give the same text. `CodegenFallback` is appropriate
  * here — per-row cost is dominated by parsing, not call overhead, and
  * the expression still sits inside whole-stage-codegen'd plans as a
  * leaf call.
  */
case class ExtractMainText(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_main_text"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, string), got (${left.dataType}, ${right.dataType})")

  override def nullSafeEval(htmlBytes: Any, charset: Any): Any = {
    val cs = charset.asInstanceOf[UTF8String].toString
    UTF8String.fromString(ExtractPipeline.textOf(htmlBytes.asInstanceOf[Array[Byte]], cs)._1)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Python-parity NFKD + combining-strip + upper (reference
  * text_normalizer.py:12-31) as a scalar expression.
  */
case class NormalizeForComparison(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_for_comparison"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TextOps.forComparison(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftFunctions {

  def extract_main_text(html: Column, charset: Column): Column =
    GraftSqlBridge.column(ExtractMainText(
      GraftSqlBridge.expression(html), GraftSqlBridge.expression(charset)))

  def normalize_for_comparison(c: Column): Column =
    GraftSqlBridge.column(NormalizeForComparison(GraftSqlBridge.expression(c)))

  /** One SQL function: its name, argument count, usage line and
    * expression builder.
    */
  final case class SqlFunction(name: String, arity: Int, usage: String,
                               build: Seq[Expression] => Expression) {
    /** `build` behind the argument-count check. */
    def checked: Seq[Expression] => Expression = exprs => {
      if (exprs.length != arity) throw new IllegalArgumentException(
        s"$name requires $arity argument(s), got ${exprs.length}")
      build(exprs)
    }
  }

  /** Every graft SQL function, the one list both [[register]] and
    * [[graft.GraftExtensions]] install.
    */
  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("extract_main_text", 2,
      "extract_main_text(html BINARY, charset STRING) - main-content text of an HTML or PDF page",
      e => ExtractMainText(e.head, e(1))),
    SqlFunction("normalize_for_comparison", 1,
      "normalize_for_comparison(s STRING) - NFKD, combining marks stripped, uppercased",
      e => NormalizeForComparison(e.head)),
    SqlFunction("vec_dot", 2,
      "vec_dot(a ARRAY<FLOAT|DOUBLE>, b ARRAY<FLOAT|DOUBLE>) - left-to-right double dot product",
      e => VecDot(e.head, e(1))),
    SqlFunction("minhash_sigs", 2,
      "minhash_sigs(text STRING, k INT) - k word-3-gram minhash values (16-hex-char each)",
      MinHashFunctions.buildFromExprs),
    SqlFunction("shingle_jaccard", 2,
      "shingle_jaccard(a STRING, b STRING) - exact word-3-gram jaccard similarity",
      e => ShingleJaccard(e.head, e(1))),
    SqlFunction("srp_sigs", 3,
      "srp_sigs(emb ARRAY<FLOAT|DOUBLE>, firstPlane INT, nPlanes INT) - one-pass SRP hyperplane sign bits",
      SrpSigs.buildFromExprs),
    SqlFunction("simhash16", 1,
      "simhash16(text STRING) - 16-bit SimHash of the token stream as a '1'/'0' string",
      e => SimHash16(e.head)))

  /** Register for SQL: `SELECT extract_main_text(html, 'utf-8') …`.
    * Session-scoped equivalent of [[graft.GraftExtensions]] (which is
    * the cluster-wide `spark.sql.extensions` path).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.checked, "scala_udf"))
  }
}
