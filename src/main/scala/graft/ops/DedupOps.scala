package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GramKeyFunctions.{gram_keys, md5_key}

/** Deduplication operators for web-scale corpora:
  *
  *  - exact: hash-groupBy on a content digest (one shuffle, map-side
  *    partial agg);
  *  - MinHash + LSH: shingle → k minhashes → band keys → bucket join —
  *    candidate generation is linear in corpus size, never all-pairs;
  *  - SimHash: per-token hash bit-votes → compact signature;
  *  - n-gram Jaccard: exact verification on LSH candidate pairs only.
  *
  * Hashes are derived from md5 hex substrings (lexicographic min of
  * fixed-width hex == numeric min), which keeps every formula portable
  * to the DuckDB oracle — no engine-specific hash() anywhere.
  */
object DedupOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")

  final val NumHashes = 8
  final val BandSize = 2 // → 4 bands

  /** Exact dedup: keep the lowest doc_id per md5(text) group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** k minhash values per doc: min over shingles of
    * substr(md5(k || ':' || shingle), 1, 16) — computed by the native
    * [[graft.functions.MinHashSigs]] expression in ONE pass per
    * document: a shuffle-free projection, versus the naive
    * explode(shingles) → k×md5 → hash-aggregate plan (full shuffle +
    * per-hash expression overhead). Byte-identical output by
    * construction (see the expression's scaladoc).
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(docs(spark, dir))

  /** [[minhashSignatures]] over a caller-supplied (doc_id, text) table —
    * the chained-pipeline hook ([[CorpusOps.corpusEndToEnd]] feeds the
    * EXTRACTED table here, not the source corpus).
    */
  private[graft] def minhashSignaturesOf(d: DataFrame): DataFrame = {
    val withSig = d.select(col("doc_id"),
      graft.functions.MinHashFunctions.minhash_sigs(col("text"), NumHashes).as("mh"))
    val sigCols = (0 until NumHashes).map(k => element_at(col("mh"), k + 1).as(s"mh$k"))
    withSig.select(col("doc_id") +: sigCols: _*)
  }

  /** (doc_id, band, band_key) in ONE projection: the k minhashes are
    * computed once per row and the bands exploded from an array —
    * keeping the plan identical on both sides of the self-join below so
    * Catalyst's exchange reuse evaluates the signatures exactly once
    * (the naive union-of-bands form costs 8 signature passes).
    */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    minhashBandsOf(docs(spark, dir))

  private[graft] def minhashBandsOf(d: DataFrame): DataFrame = {
    val sig = minhashSignaturesOf(d)
    val numBands = NumHashes / BandSize
    val bandStructs = (0 until numBands).map { b =>
      val cols = (0 until BandSize).map(j => col(s"mh${b * BandSize + j}"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** [[minhashLshPairs]], materialized once per documents table
    * ([[SessionMemo.persisted]]): `q_minhash_lsh`, `q_ngram_jaccard` and
    * `q_dedup_cc` all consume the SAME pair set, and the candidate pass
    * (signatures + band self-join) was each query's shared floor.
    * Purely physical: the pair SET is identical to an uncached call.
    */
  def minhashLshPairsShared(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(spark, "lshPairs", dir, "documents")(minhashLshPairs(spark, dir))

  /** LSH candidate pairs: docs sharing any band key, distinct, a < b.
    * The self-join is on the band key — shuffle is by band bucket,
    * never an all-pairs cross join (the scale path at 10^12 docs).
    */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairsOf(docs(spark, dir))

  private[graft] def minhashLshPairsOf(d: DataFrame): DataFrame = {
    val bands = minhashBandsOf(d)
    val l = bands.select(col("band"), col("band_key"), col("doc_id").as("a"))
    val r = bands.select(col("band"), col("band_key"), col("doc_id").as("b"))
    // merge hint: both sides shuffle on the same keys with identical
    // subplans → Catalyst ReusedExchange computes the signatures once
    // (a broadcast self-join would duplicate the whole signature pass)
    l.hint("merge").join(r, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** SimHash (16-bit, md5-hex-derived): bit i of a token's hash is
    * whether hex digit i of md5(token) is >= '8'; the signature bit is
    * the sign of the per-bit vote sum over the doc's tokens. Computed
    * by the native one-pass [[graft.functions.SimHash16]] expression —
    * a shuffle-free projection, versus the compositional explode(every
    * token) → md5 → hash-aggregate plan, which exchanges one row per
    * token occurrence corpus-wide (byte-identical output by
    * construction; parity pinned in VectorExprSpec against
    * [[simhashCompositional]]).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      graft.functions.SimHashFunctions.simhash16(col("text")).as("simhash"))

  /** The exploded/aggregated form [[simhash]] replaces — kept as the
    * parity reference for VectorExprSpec.
    */
  private[graft] def simhashCompositional(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val tokens = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (0 until 16).map { i =>
      sum(when(substring(col("h"), i + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"v$i")
    }
    val agg = tokens.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until 16).map(i => when(col(s"v$i") >= 0, "1").otherwise("0"))
    agg.select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** Exact word-3-gram Jaccard, verified ONLY on LSH candidate pairs
    * (the scale path: candidates ≪ all pairs). Output pairs with
    * jaccard >= 0.8.
    */
  def ngramJaccardDups(spark: SparkSession, dir: String,
                       threshold: Double = 0.8): DataFrame = {
    val d = docs(spark, dir)
    val texts = d.select(col("doc_id"), col("text"))
    val pairs = minhashLshPairsShared(spark, dir)
    // verification work is per candidate PAIR (≪ corpus): join the two
    // texts and compute the exact jaccard natively — no per-document
    // shingle-array column ever materializes or shuffles
    pairs
      .join(texts.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
      .join(texts.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
      .withColumn("jaccard",
        round(graft.functions.ShingleFunctions.shingle_jaccard(col("ta"), col("tb")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Connected components over the LSH duplicate graph: every doc that
    * appears in a candidate pair gets the MINIMUM doc_id reachable
    * through shared-band edges as its `component` (the canonical
    * representative of its duplicate cluster).
    *
    * Min-label propagation: labels start as self, each round takes the
    * min of own and neighbors' labels, until no label changes —
    * converges in O(cluster diameter) rounds (dup clusters are
    * near-cliques, so 2-3 rounds in practice). The loop runs under one
    * pinned hash partitioning (edges shuffled once; per round only the
    * compact neighbor-min messages move), each round materialized by
    * its own convergence probe. At 10^12 docs the same loop shape holds;
    * graphs that don't converge within the round budget switch to
    * alternating large-star / small-star contraction — see
    * [[connectedComponents]].
    */
  def lshConnectedComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLshPairsShared(spark, dir))

  /** Components of an undirected (a, b) pair list with the round budget
    * as the diameter heuristic: min-label propagation for up to
    * `labelRounds` rounds (dup graphs are near-cliques — 2-3 rounds in
    * practice), and if the budget is hit (a long-chain / adversarial
    * diameter graph), a switch to O(log^2 n) star contraction seeded
    * with the original pairs PLUS the partially propagated label links.
    * Every label is the id of some node reachable from its owner
    * (inductively: init takes min over self+neighbors; updates take min
    * over neighbors' labels), so the added links are intra-component —
    * the union preserves components exactly while shortcutting chains
    * by the already-propagated distance.
    */
  def connectedComponents(rawPairs: DataFrame, labelRounds: Int = 3): DataFrame = {
    // AQE materializes every exchange of every round as its own driver
    // job (plus broadcast-build jobs once a side's runtime stats look
    // small); in an iterative loop that fixed orchestration dominates —
    // the per-round tables are label/edge-scale and the shuffle width
    // is already the session's. Scope AQE off for the loop.
    //
    // The PAIR-TABLE SCAN is planned BEFORE the flags flip (round 6):
    // Dataset.rdd fixes the physical plan at call time, and at corpus
    // scale the pair projection is the one leg here whose bytes grow
    // with the corpus — it must keep whole-stage codegen rather than
    // inherit the loop's interpreted scope (an interpreted scan of a
    // billion-pair table is a multi-x CPU regression the loop flags
    // were never aimed at). Planning only — no job runs here; the
    // RDD-layer loop below never re-plans it. Top-level plan is
    // exchange-free (filter+cast over the shared pair cache), so AQE
    // adds no wrapper/jobs either way.
    val spark = rawPairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val integralIds = Seq("a", "b").forall(c => rawPairs.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0 && d.precision <= 18
      case _ => false
    })
    // self-loops carry no connectivity (and star contraction drops
    // them) — filter up front so both paths emit the same node set
    val pairs = rawPairs.filter(col("a") =!= col("b"))
    val prs: Option[org.apache.spark.rdd.RDD[(Long, Long)]] =
      if (integralIds)
        Some(pairs.select(col("a").cast("long"), col("b").cast("long"))
          .as[(Long, Long)].rdd)
      else None
    graft.obs.Scoped(spark, None,
        "spark.sql.adaptive.enabled" -> "false", "spark.sql.codegen.wholeStage" -> "false")(
      connectedComponentsImpl(pairs, prs, labelRounds))
  }

  /** @param pairs self-loop-filtered pair table (both paths)
    * @param prsOpt the compact (Long, Long) pair RDD, planned by the
    *   caller OUTSIDE the loop's codegen/AQE-off scope; None routes to
    *   star contraction. Only exactly-Long-representable ids can ride
    *   the Long-typed label loop: fractional types (double/float,
    *   decimal with scale) would truncate under cast("long"), silently
    *   merging distinct nodes like 1.2 and 1.7. Star contraction is
    *   type-generic over any ordered id and stays correct (just
    *   O(log^2 n) rounds instead of O(diameter)) — the caller routes
    *   strings AND non-integral numerics there.
    */
  private def connectedComponentsImpl(pairs: DataFrame,
                                      prsOpt: Option[org.apache.spark.rdd.RDD[(Long, Long)]],
                                      labelRounds: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    if (prsOpt.isEmpty) return connectedComponentsStar(pairs)

    // The bounded min-label loop runs on the RDD layer with ONE
    // explicit hash partitioning reused every round: edges are
    // partitioned by source ONCE; labels and neighbor-min tables live
    // in the same partitioner, so per round the only wide dependency is
    // the re-key of the compact (id, label) messages. Both per-round
    // "joins" are zipPartitions against a per-partition hash map of the
    // label table — the adjacency STREAMS through (no per-key
    // CompactBuffer, so a pathological hot node can't buffer its whole
    // edge list in memory), and per-partition label maps are bounded by
    // nodes/width. (The DataFrame form can't pin a partitioning across
    // iterations; Catalyst re-plans every round's exchanges, and its
    // per-round analysis dominated this entity-scale loop.)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val part = new org.apache.spark.HashPartitioner(width)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val prs = prsOpt.get // planned pre-scope by the caller (codegen'd scan)
    val edges = prs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist(sl)

    // boxed values, so a missing key reads as null rather than 0
    def asMap(it: Iterator[(Long, Long)]): java.util.HashMap[java.lang.Long, java.lang.Long] = {
      val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      it.foreach(kv => m.put(kv._1, kv._2))
      m
    }

    // round 0 folded into initialization: every node starts at the min
    // of itself and its direct neighbors (narrow — edges already
    // partitioned by source)
    var labels = edges.foldByKey(Long.MaxValue, part)(math.min)
      .mapPartitions(_.map { case (d, nmin) => (d, math.min(d, nmin)) },
        preservesPartitioning = true)
      .persist(sl)
    // labels decrease monotonically, so sum(component) strictly drops
    // until the fixpoint — an O(1)-row probe whose job is also the
    // materializing action for the round's cache; the node count rides
    // the same aggregation (empty input must converge immediately)
    def probe(): (Long, Long) = labels.aggregate((0L, 0L))(
      (acc, kv) => (acc._1 + kv._2, acc._2 + 1),
      (x, y) => (x._1 + y._1, x._2 + y._2))
    var (prevSum, n0) = probe()
    var converged = n0 == 0L
    var round = 0
    while (!converged && round < labelRounds) {
      round += 1
      // messages: each edge (s,t) sends comp(s) to t — streamed against
      // the partition's label map; reduceByKey combines map-side, so a
      // hot destination never buffers either. This re-key is the
      // round's single shuffle.
      val neighborMin = edges.zipPartitions(labels) { (eIt, lIt) =>
        val lm = asMap(lIt)
        eIt.map { case (s, t) =>
          val l = lm.get(s)
          if (l == null) throw new IllegalStateException(s"edge source $s has no label")
          (t, l.longValue())
        }
      }.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val prev = labels
      labels = prev.zipPartitions(neighborMin, preservesPartitioning = true) {
        (lIt, nIt) =>
          val nm = asMap(nIt)
          lIt.map { case (d, comp) =>
            val n = nm.get(d)
            (d, if (n == null) comp else math.min(comp, n.longValue()))
          }
      }.persist(sl)
      val (s, _) = probe()
      prev.unpersist(blocking = false)
      converged = s == prevSum
      prevSum = s
    }
    val labelsDf = spark.createDataset(labels).toDF("doc_id", "component")
    edges.unpersist(blocking = false)
    if (converged) labelsDf // cache lifetime = result lifetime (as before)
    else {
      // star contraction checkpoints its own input during its first
      // round, after which the label cache is dead weight — release it
      val out = connectedComponentsStar(
        pairs.select(col("a").cast("long"), col("b").cast("long"))
          .union(labelsDf.select(col("doc_id").as("a"), col("component").as("b"))))
      labels.unpersist(blocking = false)
      out
    }
  }

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the worst-case scale path for adversarial long-chain
    * graphs where plain min-label propagation needs O(diameter) rounds;
    * star contraction converges in O(log^2 n). Input: undirected edge
    * list (a, b); output: (doc_id, component=min reachable id).
    *
    * large-star: every node's LARGER neighbors link to its current
    * minimum neighbor (or itself); small-star: smaller-or-equal
    * neighbors link to the minimum. Both are one groupBy each; the
    * fixpoint test is the same monotone edge-sum probe as
    * [[lshConnectedComponents]].
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // canonical parent forest as an edge list (child, parent), child > parent
    var edges = pairs.select(
      greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)

    // lazy checkpoints again: the probe is the materializing action, so
    // each contraction round costs one job. hash() keeps the fixpoint
    // probe type-generic (string ids ride this path). A bare hash-sum
    // can collide between two DIFFERENT consecutive edge sets and exit
    // early with a non-star forest; pairing it with the edge COUNT in
    // the same aggregation makes equality imply the stronger invariant
    // (same count + same multiset hash-sum) at zero extra jobs, and
    // star contraction additionally never re-adds a removed edge, so a
    // stable (count, sum) pair over its monotone trajectory means a
    // stable edge set.
    def edgeSum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(hash(col("u"), col("v")).cast("long"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = (-1L, -1L)
    var cur = edgeSum(edges)
    var rounds = 0
    while (cur != prev && rounds < 64) {
      rounds += 1
      // large-star: for each u over BOTH orientations, attach strictly
      // larger neighbors to min(neighbors ∪ {u})
      val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy(col("x")).agg(least(min(col("y")), first(col("x"))).as("m"))
      val large = nbrs.join(mins, Seq("x"))
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: attach u and its smaller-or-equal neighbors to the min
      val nbrs2 = large.select(col("u").as("x"), col("v").as("y"))
      val mins2 = nbrs2.groupBy(col("x")).agg(min(col("y")).as("m"))
      val small = nbrs2.join(mins2, Seq("x"))
        .select(col("y").as("a"), col("m").as("b")) // link neighbor → min
        .union(nbrs2.join(mins2, Seq("x")).select(col("x").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct()
        .localCheckpoint(false)
      edges = small
      prev = cur
      cur = edgeSum(edges)
    }
    // the forest is now star-shaped: (u, v) with v the component min
    edges.select(col("u").as("doc_id"), col("v").as("component"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("component")))
      .distinct()
  }

  /** Embedding-cosine near-dup: banded SRP-LSH candidates (bare id
    * pairs — linear, never all-pairs, nothing but ids shuffled through
    * candidate dedup), then the embeddings table is re-joined ONLY for
    * the surviving candidates and exact cosine verified per pair. Each
    * duplicate is attributed to its lowest-id kept representative.
    * Output one row per dropped vector: (doc_id, dup_of).
    */
  def embeddingNearDups(spark: SparkSession, dir: String,
                        minCos: Double = 0.4): DataFrame = {
    val e = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        SimilarityOps.norm(col("embedding")).as("n"))
    SimilarityOps.bandedSrpPairsShared(spark, dir)
      .join(e.select(col("vec_id").as("a"), col("embedding").as("va"),
        col("n").as("na")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb"),
        col("n").as("nb")), Seq("b"))
      .withColumn("cos",
        round(SimilarityOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= minCos)
      .groupBy(col("b").as("doc_id"))
      .agg(min(col("a")).as("dup_of"))
  }

  /** Paragraph chunk width for [[paraDedup]]. */
  final val ParaTokens = 20
  /** Ordinal encoding base: ord = doc_id * ParaOrdBase + idx. Valid
    * while every document has fewer than ParaOrdBase paragraphs —
    * guaranteed here (docs are KB-scale) and checked by construction
    * (idx comes from a bounded sequence).
    */
  final val ParaOrdBase = 1000000L
  private val ParaFooter = "subscribe to the newsletter for updates"
  private val ParaHeader = "cookie policy applies to this site"

  /** Fail LOUDLY if a position would overflow the ordinal base and
    * silently alias into the next doc_id's ord space (a multi-MB
    * crawl document can reach 10^6 tokens) — corrupted first-wins
    * attribution must never be quiet.
    */
  private def checkedPos(pos: Column): Column =
    when(pos < ParaOrdBase, pos)
      .otherwise(raise_error(lit(
        s"position exceeds ord base $ParaOrdBase — widen ParaOrdBase")).cast("int"))

  /** Paragraph-level corpus dedup (CCNet-style boilerplate removal):
    * documents are segmented into paragraphs, every paragraph keeps
    * only its FIRST corpus-wide occurrence (document order, then
    * position order), and documents are reassembled from their
    * surviving paragraphs. Shared boilerplate — a footer every page
    * carries, a cookie banner on a subset — thus survives exactly once
    * corpus-wide and vanishes everywhere else, which is the actual
    * CCNet/RefinedWeb use of paragraph hashes.
    *
    * The synthetic corpus has no newlines, so segmentation is
    * deterministic re-chunking into [[ParaTokens]]-token windows, and
    * the boilerplate is injected as a fixture (footer on every doc,
    * header when doc_id % 7 == 0) — the injection IS the fixture, as
    * with [[CorpusOps.piiRedact]].
    *
    * Scale shape (the part that matters at 10^12 docs): paragraph TEXT
    * never crosses an exchange. Occurrences shuffle as bare
    * (md5, ord) pairs for the first-wins aggregation; the kept set
    * returns to each document as an int-array of paragraph indices
    * (one shuffle keyed on doc_id); the rebuild re-derives paragraph
    * text row-locally from the original scan. Both shuffles are
    * map-side-combinable aggregations.
    */
  def paraDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"),
      split(col("text"), " ").as("toks"))
    // paragraphs per doc, 1-based idx; header/footer injection
    val paras = d.select(col("doc_id"),
      concat(
        when(col("doc_id") % 7 === 0, array(lit(ParaHeader)))
          .otherwise(array().cast("array<string>")),
        transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / ParaTokens).cast("int")),
          i => array_join(slice(col("toks"), i * ParaTokens + 1, lit(ParaTokens)), " ")),
        array(lit(ParaFooter))).as("paras"))
    // occurrences as (hash, ord) — nothing else crosses the shuffle;
    // the md5 travels as two longs, not a 32-char hex string
    val occ = paras.select(col("doc_id"),
        posexplode(col("paras")).as(Seq("idx0", "para")))
      .select(md5_key(col("para")).as("h"),
        (col("doc_id") * ParaOrdBase + checkedPos(col("idx0") + 1)).as("ord"))
      .select(col("h.hi").as("h_hi"), col("h.lo").as("h_lo"), col("ord"))
    // ords are globally unique, so "this occurrence is its group's
    // first" ⟺ "its ord is in the keep_ord set" — the kept set needs
    // only a long-keyed join, no hash in the second shuffle.
    // Decode with integer `div`: `/` is double division in Spark SQL
    // and loses exactness past 2^53, i.e. doc_id ≳ 9e9 — inside the
    // 10^12-doc contract.
    val firsts = occ.groupBy(col("h_hi"), col("h_lo")).agg(min(col("ord")).as("keep_ord"))
      .select(col("keep_ord"))
    val kept = firsts
      .select(expr(s"keep_ord div $ParaOrdBase").as("doc_id"),
        (col("keep_ord") % ParaOrdBase).cast("int").as("idx"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
    // rebuild row-locally: paragraph text is re-derived from the scan,
    // only the int index array arrived via shuffle. The doc-side of
    // this join needs no exchange when the kept side broadcasts (test
    // scale, plan-asserted) or the corpus table is bucketed by doc_id
    // (the 10^12-doc layout — TableIO's bucketed tables); either way
    // nothing text-bearing shuffles. LEFT join: a document whose every
    // paragraph is a corpus-wide duplicate still emits, with n_kept=0
    // and the empty-string digest — silent row loss is not dedup.
    paras.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("paras"),
        coalesce(col("kept_idx"), array().cast("array<int>")).as("kept_idx"))
      .select(col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        size(col("kept_idx")).cast("long").as("n_kept"),
        md5(array_join(
          filter(col("paras"), (_, i) => array_contains(col("kept_idx"), i + 1)),
          "\n")).as("digest"))
  }

  /** Span-gram width for [[spanDedup]]. */
  final val SpanK = 8

  /** Repeated-span exact dedup (the "deduplicating training data"
    * substring pass): every [[SpanK]]-token gram keeps only its FIRST
    * corpus-wide occurrence (document order, then position); every
    * other occurrence marks its k token positions for removal, and
    * documents are rewritten with marked tokens cut. Overlapping
    * repeated grams merge into maximal removed spans via the position
    * mask — the distributed approximation of the suffix-array pass,
    * with one hash-keyed shuffle instead of a global sort.
    *
    * Shuffle inventory (10^12-doc shape): ONE occurrence pass —
    * [[graft.functions.GramKeys]] hashes every gram straight from the
    * text's bytes — feeds ONE first-wins hash aggregate whose rows are
    * three longs (the md5 as hi/lo, and ord). Its winners decode to
    * (doc_id, pos) and return per doc as an int array of first
    * positions (one doc_id-keyed shuffle); a document's removal starts
    * are its gram positions minus those. The final stitch joins that
    * array back to the scan on doc_id — exchange-free on the text side
    * under broadcast (test scale, plan-asserted) or a doc_id-bucketed
    * corpus layout (production scale).
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = SpanK
    val d = docs(spark, dir)
    // gram occurrences: (h_hi, h_lo, ord); docs shorter than k emit none
    val occ = d.select(col("doc_id"),
        posexplode(gram_keys(col("text"), k)).as(Seq("pos0", "h")))
      .select(col("h.hi").as("h_hi"), col("h.lo").as("h_lo"),
        (col("doc_id") * ParaOrdBase + checkedPos(col("pos0") + 1)).as("ord"))
    // integer `div`, not `/`: double division loses exactness past 2^53
    val firsts = occ.groupBy(col("h_hi"), col("h_lo")).agg(min(col("ord")).as("first_ord"))
      .select(expr(s"first_ord div $ParaOrdBase").as("doc_id"),
        (col("first_ord") % ParaOrdBase).cast("int").as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("first_pos"))
    // removal starts = gram positions that are not a first occurrence
    // (sequence(1, n-k+1) would count DOWN for n < k — guard it).
    // The `when` below reads `starts` twice, so CollapseProject keeps it in
    // its own projection: array_except runs once per DOCUMENT, not once
    // per token inside the filter lambda below. It is also the fast
    // path for the documents with nothing to remove.
    val n = size(col("toks"))
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(firsts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        when(n >= k, array_except(sequence(lit(1), n - (k - 1)),
            coalesce(col("first_pos"), array().cast("array<int>"))))
          .otherwise(array().cast("array<int>")).as("starts"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("starts")) === 0, col("toks"))
          .otherwise(filter(col("toks"), (_, i) =>
            !exists(col("starts"), s => s <= i + 1 && i + 1 < s + k))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        md5(array_join(col("kept"), " ")).as("digest"))
  }
}
