package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these
  * queries scale (broadcast dims, pruned scans, no accidental cartesian
  * products) are asserted, not just eyeballed — a refactor that
  * silently degrades the plan fails CI.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_join_agg: all dimension joins broadcast, lineitem scan pruned") {
    val p = plan("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), "no sort-merge for broadcast-size dims")
    assert(!p.contains("CartesianProduct"))
    // column pruning on the fact scan: only 3 lineitem columns read
    assert(p.contains("l_orderkey") && !p.contains("l_comment"),
      "lineitem scan must not read unused columns")
  }

  test("q_bucketed_join: co-located bucketed join has no exchange on either side") {
    // force the join to be resolved as a merge join (at real scale
    // neither fact side is broadcastable) and assert the bucketed
    // layout removes BOTH the shuffle and the sort at query time
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.ops.RelationalOps.bucketedJoinAgg(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "bucketed fact-fact join must merge")
      // exactly one exchange allowed: the final groupBy(o_orderdate);
      // the JOIN itself must read the buckets co-partitioned
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= 1, s"join must not shuffle (got $exchanges exchanges):\n$p")
      assert(!"Exchange hashpartitioning\\(l_orderkey".r.findFirstIn(p).isDefined &&
        !"Exchange hashpartitioning\\(o_orderkey".r.findFirstIn(p).isDefined,
        "neither join side may re-shuffle on its key")
      assert(p.contains("Bucketed: true"), "both scans must read bucketed")
      // NOTE: a per-bucket (exchange-free) Sort remains below the join:
      // since SPARK-32859 the v1 bucketed scan no longer advertises its
      // written sort order unless the legacy flag is set. The scale win
      // — no shuffle of either fact table — is what's asserted.
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_partition_prune: partition-column filter prunes directories at planning time") {
    val p = plan("q_partition_prune")
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"filter must land in PartitionFilters:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      "partition filter must not degrade to a data filter")
    // the pruned scan reads no event_type column data at all
    assert("ReadSchema: [^\\n]*event_type".r.findFirstIn(p).isEmpty,
      "partition column must come from directory metadata, not file data")
  }

  test("q_lookup_cascade: left joins stay broadcast") {
    val p = plan("q_lookup_cascade")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_extract_roundtrip: documents scan prunes to 3 columns") {
    val p = plan("q_extract_roundtrip")
    assert(p.contains("doc_id") && p.contains("text") && p.contains("lang"))
    assert(!p.contains("source"), "unused 'source' column must be pruned from the scan")
  }

  test("q_minhash_lsh: bucket self-join is keyed, not cartesian") {
    val p = plan("q_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_ann_ivf: assignment is a partial aggregation, not a window over NxK") {
    val p = plan("q_ann_ivf")
    // nearest-centroid assignment must be max_by with map-side partial
    // agg; the only Window allowed is over the tiny probe/top-k sets
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      (p.contains("max_by") && p.contains("HashAggregate")),
      s"expected max_by partial aggregation in:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroids and probes must broadcast")
  }

  test("q_kmeans: assignments broadcast + partial-agg; update is a keyed partial sum") {
    val p = plan("q_kmeans")
    // every assignment round crosses the corpus with the tiny centroid
    // table by BROADCAST, and reduces by a max partial aggregation —
    // never a window/sort over the n×k scored rows
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroids must broadcast into the assignment cross join")
    assert(!p.contains("CartesianProduct"), "assignment must not shuffle-cross")
    assert(!p.contains("Window"), "no window may touch the n×k scored rows")
    assert(p.contains("partial_max") || (p.contains("max(") && p.contains("HashAggregate")),
      s"expected max partial aggregation in:\n$p")
  }

  test("q_embed_neardup: candidate dedup exchanges ids only, no embedding arrays") {
    val q = SparkEntry.queries("q_embed_neardup")(spark, dir)
    // sparkPlan, not executedPlan: the AQE wrapper is childless until run
    val p = q.queryExecution.sparkPlan
    // the candidate pairs are served from the shared persisted
    // materialization (bandedSrpPairsShared) — the distinct lives inside
    // the InMemoryRelation's cached plan, so descend into it
    val cachedPlans = p.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan match {
          // the cached plan is AQE-wrapped and childless until run —
          // descend through its input plan, as with sparkPlan above
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case other => other
        }
    }
    // find the aggregate implementing the candidate-pair distinct and
    // assert its output carries no array column (bare ids only)
    val dedups = (p +: cachedPlans).flatMap(_.collect {
      case agg: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if agg.groupingExpressions.map(_.name).toSet == Set("a", "b") => agg
    })
    assert(dedups.nonEmpty, "expected a distinct on bare (a, b) ids")
    dedups.foreach { agg =>
      assert(!agg.output.exists(_.dataType.typeName.startsWith("array")),
        "no embedding arrays may flow through candidate dedup")
    }
  }

  test("q_ann_lsh: bucket self-join carries bare (bucket, id) rows, no embedding arrays") {
    val q = SparkEntry.queries("q_ann_lsh")(spark, dir)
    val p = q.queryExecution.sparkPlan
    // candidate generation is the join keyed on the SRP bucket: neither
    // side may shuffle an array column — embeddings re-join only for
    // surviving candidate pairs (per-candidate work, after this join)
    val bucketJoins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "bucket")) => j
    }
    assert(bucketJoins.nonEmpty, "expected a sort-merge self-join keyed on bucket")
    bucketJoins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.typeName.startsWith("array"))
      assert(arrays.isEmpty,
        s"no embedding arrays may cross the bucket join exchange: $arrays")
    }
  }

  test("resumeExtract pending plan: no page body crosses an exchange") {
    import spark.implicits._
    // parquet-backed pages + a committed table, exactly the resume shape
    val pdir = java.nio.file.Files.createTempDirectory("plan-pages").toString
    val fixtures = graft.fixtures.WebCorpus.generate(400)
    spark.createDataset(fixtures.map(_.page)).write.parquet(s"$pdir/pages")
    val root = java.nio.file.Files.createTempDirectory("plan-table").toString
    val io = new graft.pipeline.TableIO(root)
    val pages = spark.read.parquet(s"$pdir/pages").as[graft.pipeline.PageRow]
    graft.pipeline.TableIO.resumeExtract(io, pages.filter(_.url.hashCode % 4 != 0))
    // pending() is two-phase: urls-only anti-join, html re-joined by semi
    val todo = io.pending(pages.toDF(), "url")
    // the AQE wrapper is childless until run, so walk the printed tree:
    // every Exchange's subtree (lines indented deeper than it) must be
    // url-only — a page-body (html) scan below an exchange means page
    // bytes shuffle/broadcast just to discover they were already done.
    // Depth = tree-art prefix length ("+- "/":- " plus "   "/":  "
    // continuations), NOT first-letter index: a codegen "*(3) " prefix
    // or a letterless line would make first-letter depth lie.
    val lines = todo.queryExecution.executedPlan.toString.split("\n")
    def indent(l: String): Int = "^[ :+-]*".r.findFirstIn(l).getOrElse("").length
    val exchangeIdx = lines.indices.filter(i => lines(i).contains("Exchange"))
    assert(exchangeIdx.nonEmpty, "expected the pending-url exchanges to exist")
    assert(lines.exists(_.contains("html")), "sanity: the html scan must exist")
    // neither join emits an input row twice: no key aggregation belongs here
    assert(!lines.exists(_.contains("HashAggregate")),
      s"key aggregation in the resume pending plan:\n${lines.mkString("\n")}")
    exchangeIdx.foreach { i =>
      val d = indent(lines(i))
      var j = i + 1
      while (j < lines.length && indent(lines(j)) > d) {
        assert(!lines(j).contains("html"),
          s"page-body scan below an exchange in the resume pending plan:\n${lines(j)}")
        j += 1
      }
    }
  }

  test("q_domain_cap: map-side partial top-k (WindowGroupLimit) before the exchange") {
    val p = plan("q_domain_cap")
    val partial = p.indexOf("WindowGroupLimit")
    val exchange = p.indexOf("Exchange")
    assert(partial >= 0, "rank filter must compile to WindowGroupLimit")
    assert(p.contains("Partial"), "expected the partial (map-side) top-k pass")
    // scan pruned to the three columns the query touches
    assert(!p.contains("text#"), "documents scan must not read text")
  }

  test("q1_agg: partial (map-side) aggregation before the exchange") {
    val p = plan("q1_agg")
    val firstHashAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstHashAgg >= 0 && exchange >= 0)
    assert(p.indexOf("partial_sum") >= 0, "map-side partial aggregation expected")
  }

  test("shared brute-force top-k == a fresh uncached computation, row for row") {
    // the recall gauges' shared exact reference (bruteForceTopKShared)
    // must be purely physical: same rows as deriving the leg from
    // scratch, and stable across repeated reads of the shared handle
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val fresh = key(graft.ops.SimilarityOps.bruteForceTopK(spark, dir))
    val shared1 = key(graft.ops.SimilarityOps.bruteForceTopKShared(spark, dir))
    val shared2 = key(graft.ops.SimilarityOps.bruteForceTopKShared(spark, dir))
    assert(fresh.nonEmpty && fresh == shared1 && shared1 == shared2)
  }

  test("Par.spread: one doc_id exchange below the session's parallelism, none at it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-par").toString
    spark.range(4000).selectExpr("id AS doc_id", "sha2(CAST(id AS STRING), 256) AS text")
      .coalesce(1).write.parquet(s"$tmp/documents.parquet")
    val len = new java.io.File(s"$tmp/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n = spark.sparkContext.defaultParallelism
    assert(n > 1, "sanity: the probe needs a parallel session")
    val key = "spark.sql.files.maxPartitionBytes"
    def spreadPlan(maxSplit: Long): String = {
      val prev = spark.conf.getAll.get(key)
      spark.conf.set(key, maxSplit.toString)
      try graft.ops.Par.spread(spark.read.parquet(s"$tmp/documents.parquet"), tmp)
        .queryExecution.executedPlan.toString
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    // ceil(len / maxSplit) scan splits: n - 1 of them, then n
    val below = spreadPlan((len + n - 2) / (n - 1))
    assert("Exchange".r.findAllIn(below).size == 1 &&
      s"Exchange hashpartitioning\\(doc_id#\\d+L, $n\\)".r.findFirstIn(below).isDefined, below)
    assert(!spreadPlan(len / n).contains("Exchange"))
  }

  /** The first-wins exchanges of a rewrite dedup: the shuffles keyed on
    * the gram/paragraph digest (h_hi, h_lo). Planned with AQE off:
    * exchanges are inserted after `sparkPlan`, and the AQE wrapper of
    * `executedPlan` is childless until run.
    */
  private def firstWinsExchanges(op: => org.apache.spark.sql.DataFrame) =
    graft.obs.Scoped(spark, None, "spark.sql.adaptive.enabled" -> "false")(
      op.queryExecution.executedPlan).collect {
      case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if (ex.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "h_hi"))
          case _ => false
        }) => ex
    }

  test("span and para dedup: no string column crosses the first-wins exchange") {
    Seq("span" -> (() => graft.ops.DedupOps.spanDedup(spark, dir)),
        "para" -> (() => graft.ops.DedupOps.paraDedup(spark, dir))).foreach { case (op, q) =>
      val exs = firstWinsExchanges(q())
      assert(exs.size == 1, s"$op: expected one (h_hi, h_lo) exchange, got ${exs.size}")
      exs.foreach { ex =>
        val strs = ex.child.output.filter(_.dataType == org.apache.spark.sql.types.StringType)
        assert(strs.isEmpty, s"$op: string columns cross the first-wins exchange: $strs")
      }
    }
  }

  test("spanDedup: one occurrence pass, and the removal set is built once per document") {
    val q = graft.ops.DedupOps.spanDedup(spark, dir)
    // exactly one Generate (the gram occurrences) over the documents scan
    val gens = q.queryExecution.sparkPlan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 1, s"expected one occurrence pass:\n${q.queryExecution.sparkPlan}")
    assert(gens.head.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]))
    // a per-document array build inlined into the stitch's filter lambda
    // would run once per TOKEN (CollapseProject inlines single-use
    // projections into the lambda)
    import org.apache.spark.sql.catalyst.expressions._
    q.queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach {
      case lf: LambdaFunction =>
        val built = lf.function.collect {
          case e @ (_: ArrayExcept | _: Sequence | _: StringSplit | _: Coalesce) => e
        }
        assert(built.isEmpty, s"per-document array build inside a lambda: $built")
      case _ =>
    }))
  }
}
