package graft

import graft.obs.JobLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-efficiency evidence for the corpus-rewrite dedup family
  * ([[graft.ops.DedupOps.spanDedup]] / [[graft.ops.DedupOps.paraDedup]]):
  * the SAME job on the SAME pinned parquet corpus at a configurable
  * parallelism level. Run in separate JVMs at SPARK_GRAFT_CPUS=2 then
  * 8 — efficiency = (docs/sec_8 / docs/sec_2) / 4, target ≥ 0.8 (the
  * north rule's N → 4N criterion; the 2→8 pair is this VM's honest
  * basis, see BASELINE.md — 8→32 is hardware-bounded here).
  *
  * The corpus is generated distributed from deterministic per-index
  * streams and written once (not timed): ~120-token docs over a
  * 50-word vocabulary so 8-grams genuinely repeat, 3% of docs exact
  * duplicates of an earlier doc, every doc carrying the shared
  * boilerplate footer [[graft.ops.DedupOps.paraDedup]] strips — both
  * ops do real removal work, not no-op hashing.
  *
  * Prints ONE JSON line: rows, wall seconds and docs/sec per op,
  * best-of-N reps (VM-steal protocol), after `PROFSTAGE` lines for
  * each op's best rep.
  */
object DedupScaleBench {
  private val vocab = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "window", "order",
    "data", "column", "join", "small", "line", "customer", "query",
    "filter", "group", "big", "vector", "the", "a", "index", "page",
    "cache", "disk", "read", "write", "block", "plan", "stage",
    "task", "node", "core", "byte", "span", "gram", "text", "token",
    "shard", "split", "sort", "limit", "count")

  /** Deterministic doc text for index i (plain LCG — no JVM Random). */
  def textOf(i: Long): String = {
    val src = if (i % 33 == 13 && i >= 7) i - 7 else i // 3% exact dups
    var x = src * 6364136223846793005L + 1442695040888963407L
    def next(): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 33) % vocab.length).toInt + vocab.length) % vocab.length
    }
    val n = 80 + (((src * 2654435761L) >>> 7) % 80).toInt
    val sb = new StringBuilder
    var j = 0
    while (j < n) { sb.append(vocab(next())).append(' '); j += 1 }
    sb.append("subscribe to the newsletter for updates shared footer")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_DOCS", "1000000").toLong
    val dir = sys.env.getOrElse("SPARK_GRAFT_DOCS_DIR",
      s"/tmp/graft_dedup_docs_$nDocs")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-dedup-scale-bench")
      // FIXED across parallelism levels: partitions sized to the DATA
      // (not the cores) keep per-partition state equal at both legs —
      // cpus*4 gave the 2-core leg 8 partitions of ~4× the state (and
      // ~4× the spill) of the 8-core leg's 32, contaminating the
      // scaling ratio with a layout difference
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // reuse gate checks the ROW COUNT, not just _SUCCESS: a pinned
    // SPARK_GRAFT_DOCS_DIR with a changed SPARK_GRAFT_DOCS must
    // regenerate, or rates would divide env nDocs by a stale corpus
    val fresh = new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists() &&
      spark.read.parquet(s"$dir/documents.parquet").count() == nDocs
    if (!fresh) {
      spark.range(nDocs).repartition(64)
        .map(i => (i, textOf(i)))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    // warm OS page cache (not timed)
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("sum(length(text))").collect()

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // every rep runs under a JobLog; the best rep's per-stage task
    // stats (count, sum, max, median task seconds + GC) separate a
    // "skewed stage" from a "uniformly bandwidth-bound stage" when a
    // leg's N→4N efficiency sits under the shuffle-floor control's
    def time(op: String)(job: => Unit): Double = {
      val best = (1 to reps).map(_ => JobLog.record(spark, op)(job)._2).minBy(_.wallS)
      best.tasks.groupBy(_.stageId).toSeq.sortBy(_._1).foreach { case (sid, ts) =>
        val d = ts.map(_.runMs / 1e3).sorted
        println(f"PROFSTAGE $op stage=$sid tasks=${d.size} " +
          f"sum=${d.sum}%.1f max=${d.last}%.2f med=${d(d.size / 2)}%.2f " +
          f"gc_sum=${ts.map(_.gcMs).sum / 1e3}%.1f")
      }
      best.wallS
    }
    // materialize via an aggregate that survives column pruning: the
    // digest length forces the per-doc REBUILD + md5 (the op's whole
    // point), the count column forces the first-wins aggregation path
    def drain(df: org.apache.spark.sql.DataFrame, c: String): Unit =
      df.agg(sum(length(col("digest"))), sum(col(c)), count(lit(1))).collect()

    // warm-up BOTH ops (JIT/codegen), not timed — same drain shape as
    // the timed reps so neither op's first rep pays compilation
    drain(graft.ops.DedupOps.spanDedup(spark, dir), "n_removed")
    drain(graft.ops.DedupOps.paraDedup(spark, dir), "n_kept")

    val spanWall = time("span")(drain(graft.ops.DedupOps.spanDedup(spark, dir), "n_removed"))
    val paraWall = time("para")(drain(graft.ops.DedupOps.paraDedup(spark, dir), "n_kept"))
    val spanRate = nDocs / spanWall
    val paraRate = nDocs / paraWall
    println(f"""{"bench":"dedup_scale","cpus":$cpus,"docs":$nDocs,"span_wall_s":$spanWall%.2f,"span_docs_per_s":$spanRate%.0f,"para_wall_s":$paraWall%.2f,"para_docs_per_s":$paraRate%.0f,"reps":$reps}""")
    spark.stop()
  }
}
