package perfbench

import graft.ops.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** corpus_dedup: `spanDedup`, `paraDedup` and `exact` over a seeded
  * documents table, each drained through an order-independent digest of
  * every output column (which forces the full rewrite) and compared with
  * the digest of the repo's DuckDB oracle SQL over the same table.
  */
object CorpusDedup {
  def run(ctx: Ctx): Result = {
    val a = ctx.args
    var in: Inputs.Dedup = null
    val conf = Map("spark.sql.shuffle.partitions" -> (4 * ctx.nproc).toString)
    def start(): Unit = {
      ctx.session(ctx.nproc, conf)
      in = ctx.inputs(Inputs.dedup(a.inputs))
    }
    def drain(name: String, cols: Seq[String], removed: org.apache.spark.sql.Column,
              total: String)(op: => DataFrame): (Digest, Seq[Double]) = {
      val df = ctx.span(s"graft.ops.DedupOps.$name")(op)
      ctx.span("spark.digest")(Digest.of(df, "", cols, Seq(removed, sum(total))))
    }
    def spanOp() = drain("spanDedup", Seq("doc_id", "n_tokens", "n_removed", "digest"),
      sum("n_removed"), "n_tokens")(DedupOps.spanDedup(ctx.spark, in.dir))
    def paraOp() = drain("paraDedup", Seq("doc_id", "n_paras", "n_kept", "digest"),
      sum(col("n_paras") - col("n_kept")), "n_paras")(DedupOps.paraDedup(ctx.spark, in.dir))
    def exactOp() = drain("exact", Seq("digest", "keep_doc_id", "n_dups"),
      sum(col("n_dups") - 1), "n_dups")(DedupOps.exact(ctx.spark, in.dir))
    def oracle(want: => Digest)(r: (Digest, Seq[Double])): Option[String] = {
      val w = if (a.corrupt) want.flipped else want
      if (r._1 != w) Some(s"digest ${r._1} != oracle $w") else None
    }

    ctx.setup(start()) {
      ctx.checked("warm-up spanDedup")(spanOp())(oracle(in.span))
      ctx.checked("warm-up paraDedup")(paraOp())(oracle(in.para))
      ctx.checked("warm-up exact")(exactOp())(oracle(in.exact))
      ctx.spark.read.parquet(s"${in.dir}/documents.parquet").selectExpr("sum(length(text))").collect()
    }
    // exact dedup is timed, not traced: one aggregation over the same
    // scan, which the span_dedup and para_dedup phases already break down
    val Seq(legS, legP, legE) = ctx.legs(a.seconds, ctx.minRounds(4), ctx.warmRounds(2))(
      ctx.spec("span_dedup")(())(spanOp())(oracle(in.span)),
      ctx.spec("para_dedup")(())(paraOp())(oracle(in.para)),
      ctx.spec("exact_dedup", traced = false)(())(exactOp())(oracle(in.exact)))

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      val s = spanOp()._2
      val p = paraOp()._2
      layer("dedup.span_removed_ratio") = s(0) / s(1)
      layer("dedup.para_removed_ratio") = p(0) / p(1)
    }
    ctx.stop()
    val sp = in.docs / legS.median
    val pa = in.docs / legP.median
    Result(
      Seq("leg1_per_s" -> sp, "leg2_per_s" -> pa, "leg_ratio" -> sp / pa, "leg3_s" -> legE.median),
      Seq("span_dedup_docs_per_s" -> sp, "para_dedup_docs_per_s" -> pa, "exact_dedup_s" -> legE.median),
      layer.toSeq)
  }
}
