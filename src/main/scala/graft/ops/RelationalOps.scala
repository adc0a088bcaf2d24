package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational re-expressions of the reference's lookup/dedup/summary
  * operators (SURVEY.md §2.2, §2.3, §2.6-2.7) over the harness tables.
  * All joins against dimensions are broadcast (the reference's index
  * files are small dims — J1-J8); the big side streams.
  */
object RelationalOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(spark, dir, name)

  /** A9 summary: distinct entity counts + relationship totals. */
  def summaryCounts(spark: SparkSession, dir: String): DataFrame = {
    // NO Par.spread (r6 A/B, 0.31 s vs 0.51 s at sf0.1/32c): the ×3
    // Expand feeds a map-side partial distinct aggregation, so the
    // exchange carries only partial states — a spread shuffles every
    // raw row first from the same single-split map task (guide §2.3)
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val p = t(spark, dir, "part")
    li.agg(
      countDistinct(col("l_orderkey")).as("n_orders_ref"),
      countDistinct(col("l_partkey")).as("n_parts_ref"),
      count(lit(1)).as("n_lineitems"))
      .crossJoin(o.agg(countDistinct(col("o_custkey")).as("n_customers_ref")))
      .crossJoin(c.agg(count(lit(1)).as("n_customers")))
      .crossJoin(p.agg(count(lit(1)).as("n_parts")))
      .select("n_orders_ref", "n_parts_ref", "n_lineitems", "n_customers_ref",
        "n_customers", "n_parts")
  }

  /** A10 integrity: duplicate-key scan (keys appearing more than once). */
  def duplicateIdCheck(spark: SparkSession, dir: String): DataFrame =
    // NO Par.spread (r6 A/B, 0.35 s vs 0.39 s at sf0.1/32c): even with
    // the spread keyed on the grouping key (one exchange either way),
    // the partial aggregation BEFORE the exchange shuffles ~4× fewer
    // rows than the raw-row spread (guide §2.3)
    t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** P2 case-insensitive substring filter. */
  def filterCi(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(lower(col("p_name")).contains("al"))
      .select(col("p_partkey"), col("p_name"))

  /** P4/F8 regex ID extraction. */
  def regexExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))

  /** F7 href split → (file, anchor). */
  def hrefSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        concat(col("source"), lit(".html#"), upper(md5(col("text")))).as("href"))
      .select(col("doc_id"),
        element_at(split(col("href"), "#"), 1).as("file"),
        element_at(split(col("href"), "#"), 2).as("anchor"))

  /** F9 md5-derived form id: upper(md5(parent_id + "_" + name)). */
  def md5FormId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        upper(md5(concat_ws("_", col("source"), col("doc_id")))).as("form_id"))

  /** J3/J4 staged lookup cascade with priority preserved: resolve each
    * event's user against the customer dim first, the supplier dim as
    * fallback, tagging which source matched — the reference's
    * CuboInteligente → Relatório → Atalho priority chain re-expressed
    * as two broadcast left joins + coalesce.
    */
  def lookupCascade(spark: SparkSession, dir: String): DataFrame = {
    // NO Par.spread (r6 A/B, 0.26 s vs 0.34 s at sf0.1/32c): both joins
    // are broadcast, so the probe side needs no distribution — a spread
    // adds a full exchange of raw rows to parallelize two hash lookups
    val ev = t(spark, dir, "events")
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("cust_name"))
    val supp = t(spark, dir, "supplier")
      .select(col("s_suppkey").as("skey"), col("s_name").as("supp_name"))
    ev.join(broadcast(cust), ev("user_id") === cust("key"), "left")
      .join(broadcast(supp), ev("user_id") === supp("skey"), "left")
      .select(col("event_id"),
        coalesce(col("cust_name"), col("supp_name"), lit("unresolved")).as("resolved_name"),
        when(col("cust_name").isNotNull, "customer")
          .when(col("supp_name").isNotNull, "supplier")
          .otherwise("none").as("match_source"))
  }

  /** A7 first-wins dedup: earliest order per customer (deterministic
    * tiebreak on orderkey), via a window rank — the order-sensitive
    * `dropDuplicates` analog.
    */
  def dedupFirstWins(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
  }

  /** J5 fuzzy best-match argmax: for each probe (brand), the best
    * candidate (type) by the containment score with prefix bonus,
    * threshold-gated — re-expressed as a broadcast nested-loop join +
    * window rank 1. Scoring formula kept SQL-portable for the oracle.
    */
  def fuzzyBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val probes = p.select(element_at(split(lower(col("p_name")), " "), 1).as("probe")).distinct()
    val cands = p.select(lower(col("p_name")).as("cand")).distinct()
    val scored = probes.crossJoin(broadcast(cands))
      .withColumn("score",
        when(col("cand").contains(col("probe")),
          length(col("probe")).cast("double") / length(col("cand")) +
            when(col("cand").startsWith(col("probe")), 0.5).otherwise(0.0))
          .otherwise(0.0))
      .filter(col("score") >= 0.2)
    val w = Window.partitionBy(col("probe"))
      .orderBy(col("score").desc, col("cand").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("probe"), col("cand"), round(col("score"), 4).as("score"))
  }

  /** TPC-H Q1-style pricing summary — the headline shuffle/agg shape
    * (partial aggregation map-side, one shuffle).
    */
  /** Left-semi join: distinct event users that ARE known customers
    * (broadcast semi — the "seen set" shape of SURVEY §2.3).
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(col("user_id"))
      .join(broadcast(t(spark, dir, "customer")),
        col("user_id") === col("c_custkey"), "left_semi")
      .distinct()

  /** Left-anti join: distinct event users with NO supplier record —
    * the pending-work / not-yet-committed shape used by the resume
    * manifest (TableIO.pending) and dedup "unseen" filters.
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(col("user_id"))
      .join(broadcast(t(spark, dir, "supplier")),
        col("user_id") === col("s_suppkey"), "left_anti")
      .distinct()

  /** Tumbling-window aggregation over the event stream table — the
    * batch face of the streaming metrics query (same `window()` call
    * Structured Streaming uses, so the plan is identical under
    * `readStream`). One shuffle, map-side partial aggregation.
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    // NO Par.spread (r6 A/B, 0.19 s vs 0.42 s at sf0.1/32c): the
    // per-row work is trivial arithmetic folded into the map-side
    // partial aggregation, so only ~6 partial rows cross the exchange
    // (guide §2.3 "aggregate before you shuffle") — a spread would
    // shuffle every raw row, and its map side is the same single-split
    // scan task the spread was meant to relieve
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** Validation-stage relational analog (data_validator.py:18-138,
    * mirrored row-locally on the entity tree by
    * [[graft.mstr.Validator]]): a deterministic entity table is
    * synthesized from `documents` (ids md5-derived, slices deliberately
    * corrupted) and each Pydantic rule becomes a violation emitter —
    * id pattern `^[A-F0-9]{32}$`, tipo enum, simple-metric-without-fact,
    * composite-without-children. Pure column expressions; the scan is
    * pruned to (doc_id, text) and each emitter is a codegen'd filter.
    */
  def validateEntities(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val entities = d.select(
      col("doc_id"),
      when(col("doc_id") % 7 === 0, md5(col("text"))) // lowercase → violates
        .when(col("doc_id") % 7 === 1, substring(upper(md5(col("text"))), 1, 30)) // short
        .otherwise(upper(md5(col("text")))).as("entity_id"),
      element_at(
        array(lit("simples"), lit("composto"), lit("embedded"), lit("simples"), lit("composto")),
        (col("doc_id") % 5 + 1).cast("int")).as("tipo"),
      (col("doc_id") % 3 =!= 0).as("has_fact"),
      (col("doc_id") % 4).as("n_children"))
    def emit(cond: Column, rule: String, severity: String): DataFrame =
      entities.filter(cond)
        .select(col("doc_id"), lit(rule).as("rule"), lit(severity).as("severity"))
    emit(!col("entity_id").rlike("^[A-F0-9]{32}$"), "id_pattern", "error")
      .unionByName(emit(!col("tipo").isin("simples", "composto"), "tipo_enum", "error"))
      .unionByName(emit(col("tipo") === "simples" && !col("has_fact"),
        "simple_without_fact", "warning"))
      .unionByName(emit(col("tipo") === "composto" && col("n_children") === 0,
        "composite_without_children", "warning"))
  }

  /** Broadcast dim join + agg: revenue per nation (J1-style equi-join
    * against small dims, dims broadcast).
    */
  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    // NO Par.spread (r6 A/B, 0.57 s vs 0.62 s at sf0.1/32c): every join
    // is broadcast and the aggregation partials map-side, so a probe
    // spread only adds a raw-row exchange (guide §2.3/§2.4)
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Cache tag for a derived physical layout: source path PLUS the
    * source's file-status identity (total bytes + newest mtime), so a
    * regenerated corpus at the same path invalidates the derived copy
    * across JVMs instead of silently serving stale data.
    */
  private[ops] def layoutTag(spark: SparkSession, dir: String, name: String): String =
    // underscores only: the tag doubles as part of SQL table identifiers
    f"${dir.hashCode}%08x_${Tables.status(spark, s"$dir/$name.parquet").identity}"

  /** Partition-pruned scan (the physical-layer counterpart of
    * [[bucketedJoinAgg]]): events are written ONCE partitioned by
    * event_type; a filter on the partition column then prunes whole
    * directories at PLANNING time — the scan never opens a non-matching
    * file (PlanSpec asserts the PartitionFilters and that the pushed
    * data-filter set is empty — pruning happened above the reader). At
    * 100 TB this is the difference between reading one partition and
    * reading the table.
    */
  def partitionPrunedAgg(spark: SparkSession, dir: String): DataFrame = {
    val tag = layoutTag(spark, dir, "events")
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft-events-bytype-$tag").getAbsolutePath
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      // write to a private dir, publish by rename: two first-run JVMs
      // can't interleave files into the same layout; the loser discards
      val tmp = path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
      t(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("value")) // only what the query reads
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(path)))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // another JVM won
    }
    Tables.readPath(spark, path)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        // decimal accumulation: the partitioned rewrite changes row
        // add-order and double sums aren't order-independent
        round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6))), 2)
          .cast("double").as("sum_value"))
  }

  /** Bucketed co-located fact-fact join (the brief's "co-locate joins
    * via bucketing"): lineitem and orders are written ONCE as bucketed,
    * sorted tables on the join key; the join then reads the buckets
    * co-partitioned, so the query-time plan is a SortMergeJoin with NO
    * exchange on either side (PlanSpec asserts it; only the cheap
    * per-bucket sort remains — since SPARK-32859 the v1 bucketed scan
    * doesn't advertise its written order). That is the 100 TB shape for
    * repeated
    * fact-fact joins: the shuffle is paid once at ingest, never per
    * query — neither side is broadcastable at scale.
    *
    * The bucketed copies are session-cached catalog tables keyed by the
    * source dir (written under java.io.tmpdir); reruns in the same
    * session reuse them, so bench reps measure the query, not ingest.
    */
  def bucketedJoinAgg(spark: SparkSession, dir: String,
                      buckets: Int = 8): DataFrame = {
    // tag carries source identity + bucket count: a regenerated corpus
    // or a different bucket spec gets fresh tables, never a stale reuse
    val tag = s"${layoutTag(spark, dir, "lineitem")}_$buckets"
    val liName = s"li_bucketed_$tag"
    val oName = s"orders_bucketed_$tag"
    val warehouse = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft-bucketed-$tag").getAbsolutePath
    // guard on BOTH tables: a partial failure (first write committed,
    // second threw) must rewrite, not wedge the session
    if (!spark.catalog.tableExists(liName) || !spark.catalog.tableExists(oName)) {
      // repartition on the bucket key first => exactly ONE file per
      // bucket (bucket id and repartition share the same hash), keeping
      // the written layout aligned with the bucket spec
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(buckets, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$warehouse/$liName")
        .saveAsTable(liName)
      t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .repartition(buckets, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$warehouse/$oName")
        .saveAsTable(oName)
    }
    val li = spark.table(liName)
    val o = spark.table(oName)
    // decimal accumulation: bucketed layout changes the row add-order,
    // and double sums at the cent boundary aren't order-independent —
    // decimal addition is exact, so the oracle matches bit-for-bit
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderdate"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }
}
