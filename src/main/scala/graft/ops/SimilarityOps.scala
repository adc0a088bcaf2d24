package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - `bruteForceTopK`: exact cosine top-k per query via a broadcast
  *    nested-loop join (queries broadcast, corpus streams) — the
  *    correctness baseline;
  *  - `lshBucketedNeighbors`: sign-random-projection buckets (hash
  *    planes derived deterministically from md5, no RNG) — the scale
  *    path: the join is on bucket key, linear not quadratic.
  *
  * Dot products use `aggregate`/`zip_with` higher-order functions —
  * codegen-friendly column expressions, no UDFs.
  */
object SimilarityOps {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "embeddings")

  /** Row count of the embeddings table, once per table identity
    * ([[SessionMemo]]): it only parameterizes PLAN SHAPE —
    * [[planesPerBand]] and the centroid stride — yet six declared
    * queries each paid their own count job over the same table.
    */
  private def embCount(spark: SparkSession, dir: String): Long =
    SessionMemo(spark, s"embCount:$dir", RelationalOps.layoutTag(spark, dir, "embeddings"))(
      emb(spark, dir).count())

  /** Left-to-right double-precision dot product of two float arrays —
    * the fold order is fixed so results are bit-reproducible (and match
    * the DuckDB oracle's list fold). Implemented as a native codegen'd
    * Catalyst expression ([[graft.functions.VecDot]]): ~50x the
    * interpreted `aggregate(zip_with(...))` form on 64-dim vectors.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for query vectors (vec_id < nQueries),
    * deterministic tiebreak on neighbor id.
    */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 5,
                     nQueries: Int = 10): DataFrame = {
    val e = emb(spark, dir)
    // norms are computed ONCE per vector before the join — the join body
    // then does a single dot per pair (cos = dot / (na*nb) is the exact
    // same float op sequence as the inline form, so oracle-identical)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        norm(col("embedding")).as("qn"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"),
      norm(col("embedding")).as("cn"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qvec"), col("cvec")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn"))
  }

  /** [[bruteForceTopK]], materialized once per (embeddings table, k,
    * nQueries) ([[SessionMemo.persisted]]): BOTH recall gauges
    * (`q_ann_recall`, `q_srp_recall`) score their approximate leg
    * against the SAME exact reference, which uncached re-derived the
    * O(nQueries × corpus) cross-join + window per gauge. Purely
    * physical — the row set is identical to an uncached call (PlanSpec
    * pins it).
    */
  def bruteForceTopKShared(spark: SparkSession, dir: String, k: Int = 5,
                           nQueries: Int = 10): DataFrame =
    SessionMemo.persisted(spark, s"exactTopK:$k:$nQueries", dir, "embeddings")(
      bruteForceTopK(spark, dir, k, nQueries))

  /** Planes per SRP band as a function of corpus size: the smallest p
    * with 2^p >= n / targetOccupancy (floor 4). Bucket count then grows
    * WITH the corpus, so expected bucket occupancy stays bounded and
    * within-bucket pair generation stays linear — a fixed bucket count
    * is an all-pairs join in disguise at 10^12 rows (each bucket's
    * population, hence its pair count, grows quadratically with n).
    *
    * The tiny epsilon keeps `ceil` stable against the 1-ulp difference
    * between JVM `log(x)/log(2)` and the oracle's native `log2(x)`:
    * n/8.0 is exact in binary, and log2 of it only lands within 1e-9 of
    * an integer at exact powers of two, where both engines are exact.
    */
  def planesPerBand(n: Long, targetOccupancy: Int = 8): Int = {
    val raw = math.log(n.toDouble / targetOccupancy) / math.log(2.0)
    math.max(4, math.ceil(raw - 1e-9).toInt)
  }

  /** Sign-random-projection bucket column over `nPlanes` hyperplanes
    * with plane indices [firstPlane, firstPlane + nPlanes) — the fused
    * one-pass native expression ([[graft.functions.SrpSigs]]): reads
    * the embedding once for ALL planes instead of once per plane, same
    * bit-exact arithmetic as the compositional vec_dot form (parity
    * asserted in VectorExprSpec).
    */
  private def srpBucket(nPlanes: Int, firstPlane: Int = 0): Column =
    graft.functions.SrpSigs.srp_sigs(col("embedding"), firstPlane, nPlanes)

  /** The compositional per-plane form srpBucket replaces — kept as the
    * parity reference for VectorExprSpec.
    */
  private[graft] def srpBucketCompositional(nPlanes: Int, firstPlane: Int = 0): Column = {
    val dim = 64
    val planes: Array[Array[Double]] =
      Array.tabulate(nPlanes, dim)((p, j) =>
        graft.functions.SrpSigs.planeSign(firstPlane + p, j).toDouble)
    val planesLit = typedLit(planes.map(_.toSeq).toSeq)
    concat((0 until nPlanes).map { p =>
      val proj = dot(col("embedding"), element_at(planesLit, p + 1))
      when(proj >= 0, "1").otherwise("0")
    }: _*)
  }

  /** Bucket key: for each of `nPlanes` hyperplanes, the sign bit of
    * dot(embedding, plane). Vectors in the same bucket are candidate
    * neighbors; exact cosine is computed within buckets only.
    * `nPlanes` scales with corpus size (floor 8) so bucket occupancy —
    * and with it the within-bucket pair count — stays bounded as the
    * corpus grows (see [[planesPerBand]]).
    */
  def lshBucketedNeighbors(spark: SparkSession, dir: String,
                           minCos: Double = 0.2): DataFrame = {
    val e = emb(spark, dir)
    val nPlanes = math.max(8, planesPerBand(embCount(spark, dir)))
    // candidate generation on BARE (bucket, id) rows: no embedding array
    // ever crosses the self-join's exchange (the banded variant's shape,
    // [[bandedSrpPairs]] — PlanSpec-asserted). Single band ⇒ a pair
    // collides in at most one bucket, so no distinct is needed.
    val buckets = e.select(col("vec_id"), srpBucket(nPlanes).as("bucket"))
    val l = buckets.select(col("bucket"), col("vec_id").as("a"))
    val r = buckets.select(col("bucket"), col("vec_id").as("b"))
    val pairs = l.hint("merge").join(r, Seq("bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    // exact cosine is per surviving CANDIDATE (≪ corpus): re-join the
    // embeddings table for both endpoints, norms computed once per side
    val withN = e.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("n"))
    pairs
      .join(withN.select(col("vec_id").as("a"), col("embedding").as("va"),
        col("n").as("na")), Seq("a"))
      .join(withN.select(col("vec_id").as("b"), col("embedding").as("vb"),
        col("n").as("nb")), Seq("b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Banded SRP-LSH candidate pairs: `nBands` independent bucket tables
    * of [[planesPerBand]] planes each (derived from corpus size so
    * expected bucket occupancy stays bounded — the scale path); a pair
    * is a candidate if it collides in ANY band.
    *
    * Returns BARE id pairs (a, b): the self-join and the distinct both
    * run on (band, bucket, id) rows only — no embedding arrays are ever
    * shuffled here. Callers that need exact similarity re-join the
    * embeddings table for the surviving candidates (per-candidate work,
    * ≪ corpus; see [[graft.ops.DedupOps.embeddingNearDups]]).
    */
  def bandedSrpPairs(spark: SparkSession, dir: String,
                     nBands: Int = 4, targetOccupancy: Int = 8): DataFrame = {
    val e = emb(spark, dir)
    val ppb = planesPerBand(embCount(spark, dir), targetOccupancy)
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"), srpBucket(ppb, b * ppb).as("bucket"))
    }
    val banded = e.select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val l = banded.select(col("band"), col("bucket"), col("vec_id").as("a"))
    val r = banded.select(col("band"), col("bucket"), col("vec_id").as("b"))
    // identical subplans on both sides → one ReusedExchange bucket pass
    l.hint("merge").join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** DEFAULT-parameter [[bandedSrpPairs]], materialized once per
    * embeddings table ([[SessionMemo.persisted]]): `q_embed_neardup`
    * and `q_srp_recall` consume the SAME pair set, and srpRecall
    * references it TWICE (the query-side orientation union). Purely
    * physical — the pair SET is identical to an uncached call.
    */
  def bandedSrpPairsShared(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(spark, "srpPairs", dir, "embeddings")(bandedSrpPairs(spark, dir))

  /** IVF-style ANN with a FIXED centroid count: `nCentroids` vectors
    * sampled deterministically by id stride (stride = n / nCentroids, so
    * K stays constant as the corpus grows — K growing with n would make
    * the assignment cross-join quadratic and the centroid broadcast
    * unbounded). Each vector is assigned to its nearest centroid via a
    * `max_by` aggregation — map-side partial agg, no window shuffle+sort
    * of the N×K scored rows. Queries probe their `nProbe` nearest cells
    * (a separate nQueries×K cross-join — tiny) and search exactly within
    * them. At cluster scale the assignment shuffle partitions the corpus
    * by cell, so each probe touches ~nProbe/K of the data.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10,
              nCentroids: Int = 16, nProbe: Int = 2): DataFrame = {
    val e = emb(spark, dir).withColumn("en", norm(col("embedding")))
    val stride = math.max(1L, embCount(spark, dir) / nCentroids)
    val centroids = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        col("en").as("cn"))
    // norms precomputed per side — one dot per (vector, centroid)
    val ccos = round(dot(col("embedding"), col("cvec")) / (col("en") * col("cn")), 6)
    // nearest-centroid assignment: max ccos, ties to the smallest
    // cent_id — same result as rank-1 over (ccos desc, cent_id asc) but
    // with map-side partial aggregation instead of a full shuffle+sort
    val assigned = e.crossJoin(broadcast(centroids))
      .withColumn("ccos", ccos)
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"), struct(col("ccos"), (-col("cent_id")).as("nc"))).as("cent_id"),
        first(col("embedding")).as("embedding"),
        first(col("en")).as("en"))
    // probes: only the query rows cross the centroids (nQueries×K rows);
    // the window here sorts that tiny set, never the full corpus
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = e.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", ccos)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("en").as("qn"), col("cent_id"))
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos",
        round(dot(col("qvec"), col("embedding")) / (col("qn") * col("en")), 6))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        col("rn").cast("int").as("rn"))
  }

  /** Recall@k of the IVF index against the exact brute-force answer,
    * one row per query — the approximation-QUALITY gauge the pair/top-k
    * queries can't express: a bad `nProbe`/`nCentroids` regression
    * shows up as a recall drop even while the IVF output itself stays
    * internally consistent. Both sides use the identical rounded-cosine
    * + neighbor-id tiebreak, so the comparison is deterministic.
    *
    * On the SYNTHETIC embeddings table the absolute number is modest by
    * construction (mean ≈ 0.3 at sf0.01): 64-dim isotropic vectors have
    * no cluster structure, so nearest-centroid cells approach random
    * assignment and nProbe=2 of 16 cells bounds recall near the
    * probe-fraction baseline — IVF earns its keep only on clustered
    * real corpora. The query's value is the NUMBER: a parameter
    * regression (nProbe, nCentroids, stride) now moves an
    * oracle-checked value instead of silently degrading.
    *
    * The gauge recomputes the exact brute-force top-k for its `nQueries`
    * probes — right for an oracle-gated fixture gauge, but at production
    * scale keep `nQueries` a small SAMPLE of the corpus (the exact leg
    * is O(nQueries × corpus)); never point it at every vector.
    */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5,
                nQueries: Int = 10, nCentroids: Int = 16,
                nProbe: Int = 2): DataFrame = {
    val exact = bruteForceTopKShared(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(spark, dir, k, nQueries, nCentroids, nProbe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / lit(k), 4).as("recall_at_k"))
  }

  /** Candidate-generation recall@k of the banded SRP-LSH leg — the
    * approximation-quality gauge for [[bandedSrpPairs]] (the path
    * [[graft.ops.DedupOps.embeddingNearDups]] uses), mirroring
    * [[annRecall]] for the IVF leg: per query (vec_id < nQueries), the
    * fraction of the exact top-k neighbors at cosine >= `minCos` that
    * the banding surfaced as a candidate pair AT ALL. Verification
    * downstream of candidate generation is exact, so a missed true
    * neighbor here is exactly a missed output — this number IS the
    * leg's end-to-end recall.
    *
    * Expected value derives from the SRP collision model: two vectors
    * at angle θ collide on one hyperplane with p = 1 − θ/π, on a band
    * of `ppb` planes with p^ppb, and in ≥1 of `nBands` bands with
    * 1 − (1 − p^ppb)^nBands. With corpus-size-derived ppb
    * ([[planesPerBand]], ppb = 10 at n = 5000) a cos-0.5 neighbor
    * (p ≈ 0.667) collides with probability ≈ 1−(1−0.667^10)^4 ≈ 0.07:
    * occupancy-bounded SRP banding is built to catch NEAR-DUPLICATES
    * (cos → 1 ⇒ p → 1 ⇒ recall → 1), not moderate-angle neighbors, so
    * on the isotropic synthetic embeddings the honest fixture recall is
    * near zero. The gauge's value is the NUMBER: a ppb/nBands/seed
    * regression (e.g. bands accidentally sharing planes, or ppb no
    * longer scaling with n) moves an oracle-checked value instead of
    * silently shifting the candidate set.
    *
    * Queries whose thresholded exact top-k is empty contribute no row
    * (recall of an empty set is undefined) — row count is
    * deterministic per fixture. Like `q_ann_recall`, the gauge
    * recomputes the exact answer — at production scale run it over a
    * SAMPLE of queries, never the corpus.
    */
  def srpRecall(spark: SparkSession, dir: String, k: Int = 5,
                nQueries: Int = 10, minCos: Double = 0.2): DataFrame = {
    val exact = bruteForceTopKShared(spark, dir, k, nQueries)
      .filter(col("cos") >= minCos)
      .select(col("query_id"), col("neighbor_id"))
    val pairs = bandedSrpPairsShared(spark, dir)
    // orient candidate pairs around the query endpoint (either side of
    // the a<b pair can be a query); hit rows are ids only
    val cand = pairs.filter(col("a") < nQueries)
      .select(col("a").as("query_id"), col("b").as("neighbor_id"))
      .union(pairs.filter(col("b") < nQueries)
        .select(col("b").as("query_id"), col("a").as("neighbor_id")))
      .distinct()
      .withColumn("hit", lit(1L))
    exact.join(cand, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 4)
        .as("recall_at_k"))
  }

  /** Left-to-right double dot product for the k-means rounds — the
    * iteration dots run against DERIVED centroids (array<double> from
    * the update step) as well as the float corpus vectors;
    * [[graft.functions.VecDot]] natively takes array<float|double> on
    * either side with the identical per-element to-double fold, so
    * this is the same codegen'd loop the other similarity ops use
    * (~50× the interpreted `aggregate(zip_with(...))` form) and the
    * same arithmetic as the oracle's
    * `CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)` fold.
    */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  /** Lloyd k-means over the embedding column — the codebook-training /
    * topic-balancing primitive (SemDeDup-style cluster-then-dedup
    * pipelines train exactly this): `iters` rounds of
    * assign-to-nearest-centroid (cosine) + per-dimension mean update,
    * then the final assignment. Init is the deterministic id-stride
    * sample [[ivfTopK]] uses, so k stays FIXED as the corpus grows.
    *
    * Scale shape: each assignment is a broadcast cross join against k
    * centroids reduced by a `max_by` partial aggregation (map-side
    * combine — never a window over the n×k scored rows); each update
    * shuffles (cent_id, dim) keyed partial sums — map-side combinable,
    * k×64 result rows; centroids never exceed k×64 doubles, so the
    * broadcast is bounded. Lloyd at 10^12 rows is exactly this per
    * round; `iters` bounds the rounds.
    *
    * Determinism: assignment ties break to the smallest cent_id on a
    * 6-dp-rounded cosine; the update mean accumulates 7-dp-rounded
    * member values in DECIMAL (order-independent) and rounds the mean
    * to 6 dp — so shuffle order can move nothing, and an md5-free
    * engine (the DuckDB oracle) replays every round bit-exactly.
    * Clusters that lose all members drop out of the next round on both
    * sides (GROUP BY emits no row for them).
    */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 16,
                   iters: Int = 2): DataFrame = {
    val e = emb(spark, dir)
    val stride = math.max(1L, embCount(spark, dir) / k)
    val withN = e.select(col("vec_id"), col("embedding"),
      sqrt(dotD(col("embedding"), col("embedding"))).as("en"))

    def assigned(cents: DataFrame): DataFrame = {
      val cc = cents.select(col("cent_id"), col("cvec"),
        sqrt(dotD(col("cvec"), col("cvec"))).as("cn"))
      withN.crossJoin(broadcast(cc))
        .withColumn("ccos",
          round(dotD(col("embedding"), col("cvec")) / (col("en") * col("cn")), 6))
        .groupBy(col("vec_id"))
        .agg(
          max(struct(col("ccos"), (-col("cent_id")).as("nc"))).as("best"),
          first(col("embedding")).as("embedding"))
        .select(col("vec_id"), col("embedding"),
          (-col("best.nc")).cast("long").as("cent_id"), col("best.ccos").as("ccos"))
    }

    var cents: DataFrame = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
    for (_ <- 1 to iters) {
      cents = assigned(cents)
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("p", "v")))
        .groupBy(col("cent_id"), col("p"))
        .agg(round(
          sum(round(col("v").cast("double"), 7).cast("decimal(18,10)")).cast("double")
            / count(lit(1)), 6).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
          s => s.getField("m")).as("cvec"))
    }
    assigned(cents).select(col("vec_id"), col("cent_id"), col("ccos"))
  }
}
