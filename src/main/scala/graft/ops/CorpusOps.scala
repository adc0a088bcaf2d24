package graft.ops

import graft.obs.Scoped
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-hygiene operators a large-scale training-data pipeline runs
  * between crawl and tokenizer — beyond the reference's own surface
  * (task brief): PII redaction, test-set decontamination, per-domain
  * caps, and repetition-based quality filters (Gopher/MassiveText-style
  * rules). Everything is codegen'd column expressions — regex, windows,
  * explode + hash aggregation — with md5-portable derivations so the
  * DuckDB oracle can restate each op exactly.
  */
object CorpusOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{4}"

  /** PII scrub: deterministic emails/phones are injected (the corpus is
    * synthetic and clean — the injection IS the fixture), then redacted
    * with the anchored regexes above. Row-local projection: redaction
    * at 10^12 docs is a map-only pass, no shuffle.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val injected = docs(spark, dir).select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or admin"), col("doc_id").cast("string"),
            lit("@mail.test")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(" phone "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"), lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("p"))
    injected.select(
      col("doc_id"),
      regexp_count(col("p"), lit(EmailRe)).as("n_emails"),
      regexp_count(col("p"), lit(PhoneRe)).as("n_phones"),
      md5(regexp_replace(regexp_replace(col("p"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>")).as("redacted_digest"))
  }

  /** URL canonicalization — the normalize-before-dedup pass every crawl
    * pipeline runs so the same page under cosmetic URL variants (case,
    * default ports, fragments, tracking params, param order, trailing
    * slash) collapses to one key. The corpus has no URL column, so a
    * deterministic MESSY url is injected per doc_id exercising every
    * rule — the injection IS the fixture, as with [[piiRedact]].
    * Row-local projection: pure regex/array column expressions, no
    * shuffle — a map-only pass at 10^12 docs.
    *
    * Rules: lowercase scheme+host; strip :80/http and :443/https; drop
    * the fragment; drop utm_* / fbclid / gclid params; byte-sort the
    * surviving params; trim one trailing slash (never below "/").
    * Registered domain: last two host labels, or three when the
    * second-level label is a public-suffix-style prefix (co, com, org,
    * net, gov, ac) — the co.uk / com.br class.
    */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val messy = concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(id % 3 === 0, lit("WWW.Example"))
        .otherwise(concat(lit("cdn.Site"), (id % 5).cast("string"))),
      when(id % 4 === 0, lit(".CO.UK")).otherwise(lit(".COM")),
      when(id % 7 === 3, lit(":8080"))
        .when(id % 2 === 0, lit(":80")).otherwise(lit(":443")),
      lit("/Articles/item"), id.cast("string"),
      when(id % 3 === 1, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed"),
      when(id % 2 === 0, lit("&ref=Home&a=1"))
        .otherwise(concat(lit("&b="), (id % 9).cast("string"), lit("&A=2"))),
      lit("&fbclid=x"), id.cast("string"),
      when(id % 2 === 1, concat(lit("#Sec"), (id % 4).cast("string")))
        .otherwise(lit("")))

    val raw = col("raw_url")
    val scheme = lower(regexp_extract(raw, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(raw, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_replace(auth, ":[0-9]+$", ""))
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val rest = regexp_extract(raw, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val path = regexp_extract(rest, "^([^?#]*)", 1)
    val pathN = when(regexp_replace(path, "/$", "") === "", lit("/"))
      .otherwise(regexp_replace(path, "/$", ""))
    val query = regexp_extract(rest, "\\?([^#]*)", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_|fbclid=|gclid=)"))
    val qN = array_join(array_sort(params), "&")
    val portN = when(port === "", lit(""))
      .when(scheme === "http" && port === "80", lit(""))
      .when(scheme === "https" && port === "443", lit(""))
      .otherwise(concat(lit(":"), port))
    val canon = concat(scheme, lit("://"), host, portN, pathN,
      when(qN === "", lit("")).otherwise(concat(lit("?"), qN)))
    val labels = split(host, "\\.")
    val rd = when(size(labels) >= 3 &&
        element_at(labels, -2).isin("co", "com", "org", "net", "gov", "ac"),
        concat_ws(".", element_at(labels, -3), element_at(labels, -2),
          element_at(labels, -1)))
      .otherwise(concat_ws(".", element_at(labels, -2), element_at(labels, -1)))

    docs(spark, dir).select(col("doc_id"), messy.as("raw_url"))
      .select(col("doc_id"), raw,
        canon.as("canon_url"), rd.as("registered_domain"))
  }

  /** Blocklist words for [[blocklistFilter]] — literal on both sides. */
  final val Blocklist: Seq[String] = Seq("slow", "junk", "spam")

  /** C4-style blocklist filter: count whole-word blocklist hits per
    * document and flag documents whose hit count or hit ratio crosses
    * the policy threshold (C4 dropped any page with a single "bad
    * word"; production pipelines usually rate-limit instead — both
    * verdicts emitted). Whole-word matching via the padded
    * length-difference trick shared with the language-ID scorer: pure
    * column expressions, map-only, zero shuffles at any corpus size.
    */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    // internal spaces are DOUBLED before padding so adjacent hits don't
    // share a boundary space — the non-overlapping length-difference
    // count would otherwise see "spam spam spam" as 2 hits, not 3
    val padded = concat(lit(" "),
      regexp_replace(lower(col("text")), " ", "  "), lit(" "))
    val nHits = Blocklist.map(w => TextAnalysisOps.markerCount(padded, s" $w "))
      .reduce(_ + _)
    val nTokens = size(split(col("text"), " ")).cast("long")
    docs(spark, dir).select(col("doc_id"),
      nHits.as("n_hits"),
      nTokens.as("n_tokens"),
      (nHits > 0).as("c4_blocked"),
      (nHits.cast("double") / nTokens > 0.05).as("ratio_blocked"))
  }

  /** Per-domain document cap — crawl pipelines bound any single
    * domain's contribution. Keep the `cap` largest docs per source
    * (n_chars desc, doc_id tiebreak). The rank-filter shape lets
    * Spark's WindowGroupLimit push the top-k below the sort at scale.
    */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("source"), col("rn").cast("int").as("rn"))
  }

  /** Deterministic stratified sampling — the training-mixture op: each
    * language stratum keeps a fixed fraction of documents, chosen by an
    * md5-derived uniform (first 8 hex chars of md5("samp:" || doc_id)).
    * The per-stratum rate is a HEX STRING threshold (floor(rate·2^32)
    * in fixed-width hex): lexicographic compare of equal-width hex
    * equals numeric compare, so the sample is reproducible in any
    * engine with md5 — no RNG, no seed drift, map-only at any scale.
    * Rates: en 0.5, pt 0.9, es 0.2, everything else kept.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = substring(md5(concat(lit("samp:"), col("doc_id").cast("string"))), 1, 8)
    val thr = when(col("lang") === "en", lit("80000000"))
      .when(col("lang") === "pt", lit("e6666666"))
      .when(col("lang") === "es", lit("33333333"))
      .otherwise(lit("ffffffff"))
    docs(spark, dir).filter(u < thr).select(col("doc_id"), col("lang"))
  }

  /** Target language shares for [[mixtureSample]] — literal on both
    * the Spark and oracle sides.
    */
  final val MixtureTargets: Seq[(String, Double)] =
    Seq("en" -> 0.5, "es" -> 0.3, "de" -> 0.2)

  /** Token-budget mixture sampling — the data-MIXING op: given target
    * language shares, measure each stratum's token mass, take the
    * largest total budget B the corpus can serve at those shares
    * (B = min over strata of tokens/share — the binding stratum keeps
    * everything), and keep each document with probability
    * rate = share·B / stratumTokens via an md5-derived uniform. Unlike
    * [[stratifiedSample]] (static rates), the rates here are COMPUTED
    * from the data, which is what a real mixture-balancing pass does.
    *
    * Engine portability of a data-dependent float threshold: the
    * uniform is the first 8 hex chars of md5("mix:" || doc_id); the
    * threshold is floor(rate·2^32) rendered as 8-digit lower-hex, so
    * the comparison is lexicographic on equal-width hex again. The
    * binding stratum's rate is 1 up to floating-point rounding —
    * share·(T/share)/T goes through three roundings and can land at
    * 1−ulp, which would floor to the "ffffffff" threshold and silently
    * drop ~n/2^32 of the stratum documented to keep everything — so
    * the always-keep sentinel "g" (> every hex digit) engages at
    * rate ≥ 1−1e-9 (the epsilon absorbs ulps, as in
    * [[SimilarityOps.planesPerBand]]; a GENUINE rate that close to 1
    * keeps everything semantically anyway). rate is a
    * product/quotient of exactly-representable longs and literal
    * shares — both engines compute the identical double, hence the
    * identical threshold.
    *
    * Scale shape: stratum masses are one map-side-combinable
    * aggregation; the ≤|langs| rate table broadcasts; the keep
    * decision is then map-only. Document-level thresholding
    * approximates token-level mass (docs are KB-scale and rates apply
    * within a stratum, so the expected token error is O(1/√docs)).
    *
    * Non-target languages are excluded from the output (share 0); a
    * TARGET language absent from the corpus would make its share
    * unservable — this op treats missing strata as non-binding (the
    * budget minimizes over PRESENT strata only), which both engines
    * compute identically; all [[MixtureTargets]] languages exist at
    * every test SF, so the fixture never exercises that edge.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val targetCol = MixtureTargets.foldLeft(lit(null).cast("double")) {
      case (acc, (l, s)) => when(col("lang") === l, lit(s)).otherwise(acc)
    }
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val strata = d.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("stratum_tokens"))
      .withColumn("share", targetCol)
      .filter(col("share").isNotNull)
    val budget = strata
      .agg(min(col("stratum_tokens") / col("share")).as("budget"))
    val rates = strata.crossJoin(broadcast(budget))
      .select(col("lang"),
        (col("share") * col("budget") / col("stratum_tokens")).as("rate"))
    val thr = when(col("rate") >= 1.0 - 1e-9, lit("g"))
      .otherwise(lpad(lower(hex(floor(col("rate") * 4294967296.0).cast("bigint"))),
        8, "0"))
    val u = substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8)
    d.join(broadcast(rates.select(col("lang"), thr.as("thr"))), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (u < col("thr")).as("kept"))
  }

  /** Top-k size for [[weightedSample]] — literal on both the Spark and
    * oracle sides.
    */
  final val WeightedSampleK = 100

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-Res,
    * the quality-weighted corpus-selection op): each document draws a
    * sample key and the global top-[[WeightedSampleK]] keys win, which
    * is exactly weighted sampling without replacement — the probability
    * a document enters the sample is proportional to its weight at
    * every step.
    *
    * The classic key is u^(1/w) with u uniform; for INTEGER weights
    * that distribution equals max of w independent uniforms, so the key
    * here is max over j in 1..w of md5("wsamp:doc_id:j") — equal-width
    * hex strings whose lexicographic order IS numeric order. No floats,
    * no pow/ln, so any md5-capable engine reproduces the sample
    * bit-exactly (the same trick as [[stratifiedSample]]'s hex
    * thresholds). Weights are length-derived quality buckets 1..8
    * (1 + min(7, n_chars/200)) — the stand-in for a real quality score.
    *
    * Scale shape: the key is a map-only projection (w ≤ 8 md5 calls per
    * row, no explode); the global top-k is orderBy+limit, which Spark
    * plans as TakeOrderedAndProject — per-partition top-k heaps then a
    * k·partitions driver merge, never a global sort. Ties cannot occur
    * in practice (128-bit md5) but the deterministic tiebreak is
    * doc_id.
    */
  def weightedSample(spark: SparkSession, dir: String,
                     k: Int = WeightedSampleK): DataFrame = {
    val w = (lit(1) + least(lit(7), floor(col("n_chars") / 200))).cast("int")
    val skey = array_max(transform(
      sequence(lit(1), col("w")),
      j => md5(concat(lit("wsamp:"), col("doc_id").cast("string"),
        lit(":"), j.cast("string")))))
    docs(spark, dir)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"), skey.as("skey"))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Sequence packing for pretraining — chunked-concat model: within
    * each doc_id-range bucket, documents concatenate in id order and the
    * token stream is cut into fixed-capacity packs; each doc gets its
    * (bucket, pack_id, pack_offset). Buckets are INDEPENDENT, so the
    * cumulative-sum window partitions by bucket — no global sort, and at
    * 10^12 docs the shuffle is an ordinary hash exchange on bucket with
    * per-bucket sorts of bounded size (bucketSize docs). All integer
    * arithmetic → engine-portable.
    */
  def packSequences(spark: SparkSession, dir: String, capacity: Int = 4096,
                    bucketSize: Int = 256): DataFrame =
    packSequencesOf(docs(spark, dir), capacity, bucketSize)

  /** [[packSequences]] over a caller-supplied (doc_id, text) table (the
    * chained-pipeline hook).
    */
  private def packSequencesOf(docsDf: DataFrame, capacity: Int = 4096,
                              bucketSize: Int = 256): DataFrame = {
    val d = docsDf.select(
      col("doc_id"),
      (col("doc_id") / bucketSize).cast("long").as("bucket"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        floor(col("start_tok") / capacity).as("pack_id"),
        (col("start_tok") % capacity).as("pack_offset"))
  }

  /** Word k-grams from a pre-split words column (document-local).
    * `ws` MUST be a projected attribute, not an inline `split(...)`
    * expression: the lambda references it k times and higher-order
    * functions evaluate interpreted without common-subexpression
    * elimination — an inline split would re-tokenize the document k
    * times per gram.
    */
  private def wordGrams(ws: Column, text: Column, k: Int): Column = {
    val gram = (i: Column) =>
      concat_ws(" ", (0 until k).map(j => element_at(ws, i + j + 1)): _*)
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k), gram))
      .otherwise(array(text))
  }

  /** Test-set decontamination: flag corpus documents sharing any word
    * 5-gram with the benchmark slice (doc_id % 11 == 0 in this synthetic
    * corpus). Benchmark grams are the SMALL side (test sets are tiny
    * next to a crawl) — distinct'd and broadcast; the corpus side is one
    * explode + broadcast semi-join + hash aggregation, linear in corpus
    * size. Output: (doc_id, n_shared) per contaminated doc.
    */
  def decontaminate(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // NO Par.spread on either side in the standalone query (r6 A/B,
    // 0.61/0.63 s vs 0.68/0.83 s across two calm sessions at
    // sf0.1/32c): the explode feeds a map-side partial aggregation and
    // the broadcast-joined gram probe is cheap per row, so the two
    // added exchanges cost more than the parallelism buys here. The
    // chained pipeline path (filterPipelineOver) still spreads its
    // training side — there the scan fans out into langid/quality/
    // bigram work where the A/B favors the spread.
    decontaminateOf(spark, dir,
      docs(spark, dir).filter(col("doc_id") % 11 =!= 0), k)

  /** [[decontaminate]] with the TRAINING side supplied by the caller
    * (the incremental-resume hook); the benchmark reference slice is
    * always the full `doc_id % 11 == 0` cut of the corpus at `dir`.
    */
  private def decontaminateOf(spark: SparkSession, dir: String,
                              training: DataFrame, k: Int = 5): DataFrame = {
    // filter BEFORE explode on both sides: the benchmark slice explodes
    // ~1/11 of the corpus, and neither side shingles the other's docs
    def grams(d: DataFrame) = d
      .select(col("doc_id"), split(col("text"), " ").as("ws"), col("text"))
      .select(col("doc_id"), explode(wordGrams(col("ws"), col("text"), k)).as("gram"))
    // benchmark slice UNspread (r6 A/B): it explodes only ~1/11 of the
    // corpus ahead of a distinct partial agg — the exchange outweighed
    // the parallelism in both calm sessions
    val bench = grams(docs(spark, dir).filter(col("doc_id") % 11 === 0))
      .select(col("gram")).distinct()
    grams(training)
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** Repetition-based quality stats (Gopher-style): duplicate-word
    * fraction and most-frequent-bigram fraction per document; a doc is
    * `repetition_ok` when the top bigram is <= 18% of all bigrams (the
    * published Gopher top-2-gram rule). Explode + two hash aggregations
    * with map-side partials — no windows, no per-doc collect.
    */
  def repetitionStats(spark: SparkSession, dir: String,
                      docFilter: Column = lit(true)): DataFrame =
    // spread before the bigram explode (Par.spread, guide §2.5): the
    // explode + gram hashing is the per-row cost and a single-file
    // corpus scans as one split (no-op at production split counts)
    repetitionStatsOf(Par.spread(docs(spark, dir).filter(docFilter), dir))

  /** [[repetitionStats]] over a caller-supplied docs table (the
    * incremental-resume hook).
    */
  private def repetitionStatsOf(d: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    // the 2M-row bigram aggregation keys on (doc_id, bg) only; the cheap
    // per-doc word stats (one row per doc) join back afterwards instead
    // of riding through both aggregation exchanges
    val wordStats = d.filter(size(ws) >= 2)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"))
    val bigramStats = d.filter(size(ws) >= 2)
      .select(col("doc_id"), ws.as("ws"), col("text"))
      .select(col("doc_id"), explode(wordGrams(col("ws"), col("text"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    bigramStats.join(wordStats, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4)
          .as("dup_word_frac"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_frac"),
        (round(col("top_bigram_n").cast("double") / col("n_bigrams"), 4) <= 0.18)
          .as("repetition_ok"))
  }

  /** Composite keep/drop decision — the full FineWeb/Gopher-style
    * training-data filter assembled from the individual signals: one
    * row per TRAINING doc (the `doc_id % 11 == 0` slice is the held-out
    * benchmark split, see [[decontaminate]]) with per-rule booleans and
    * the final `keep`.
    *
    * Shuffle shape: language-ID and quality are pure column
    * expressions, so they ride the SAME documents scan (no join); only
    * the two aggregation-based signals join back, both keyed on doc_id
    * (co-partitioned at scale) — repetition as a left join (a doc under
    * two words cannot be repetitive), contamination as presence in the
    * decontaminate output.
    */
  def filterPipeline(spark: SparkSession, dir: String): DataFrame =
    filterPipelineOver(spark, dir, trainingDocs(spark, dir))

  /** The source corpus' TRAINING-side docs, the input every
    * standalone filter run decides. The benchmark slice never survives
    * the join with `base` — it is filtered BEFORE the bigram explode
    * instead of discarding its aggregated rows afterwards
    * (decontaminateOf already takes the training cut).
    */
  private[graft] def trainingDocs(spark: SparkSession, dir: String): DataFrame =
    Par.spread(docs(spark, dir).filter(col("doc_id") % 11 =!= 0), dir)

  /** Filter signals over a caller-supplied TRAINING-side (doc_id, text)
    * table — the chained-pipeline hook: [[corpusEndToEnd]] feeds the
    * dedup-surviving slice of the EXTRACTED table here. The benchmark
    * reference slice for decontamination always reads the source corpus
    * at `dir` (the held-out split is upstream data, never part of the
    * produced corpus).
    */
  private def filterPipelineOver(spark: SparkSession, dir: String,
                                 training: DataFrame): DataFrame = {
    val base = training
      .select(col("doc_id"),
        (TextAnalysisOps.predictedLangCol(col("text")) === "en").as("lang_ok"),
        TextAnalysisOps.qualityOkCol(col("text")).as("quality_ok"))
    val rep = repetitionStatsOf(training)
      .select(col("doc_id"), col("repetition_ok"))
    val cont = decontaminateOf(spark, dir, training)
      .select(col("doc_id"), lit(true).as("contaminated"))
    base
      .join(rep, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_ok"), col("quality_ok"),
        coalesce(col("repetition_ok"), lit(true)).as("repetition_ok"),
        col("contaminated").isNull.as("decontam_ok"))
      .withColumn("keep",
        col("lang_ok") && col("quality_ok") && col("repetition_ok") &&
          col("decontam_ok"))
  }

  /** End-to-end RESUMABLE filtered-corpus materialization — the batch
    * face of the streaming incremental extract and the same snapshot +
    * manifest resume contract as [[graft.pipeline.TableIO.resumeExtract]]
    * (north rule): the keep/drop DECISION table (one row per training
    * doc, kept or not — committing drops too is what lets a resume skip
    * them) is appended as a snapshot, and a re-run anti-joins the
    * committed doc_ids BEFORE any signal computes, so only new
    * documents pay the pipeline, and a run with nothing pending
    * computes no signal ([[graft.pipeline.TableIO.appendPending]]).
    * Returns the rows committed by THIS run; the filtered corpus is
    * `readTable(...).filter(col("keep"))`. Only the training docs are
    * narrowed to the pending ones: decontamination always compares
    * against the full held-out set.
    */
  def filterPipelineIncremental(spark: SparkSession, dir: String,
                                tableRoot: String): Long =
    new graft.pipeline.TableIO(tableRoot)
      .appendPending(trainingDocs(spark, dir), "doc_id")(filterPipelineOver(spark, dir, _))

  /** The brief's LLM-training-data pipeline as ONE resumable artifact:
    * extract → exact dedup → near-dup dedup (MinHash-LSH connected
    * components) → quality/decontamination filter → sequence pack, every
    * stage committed through [[graft.pipeline.TableIO]] snapshots under
    * `tableRoot`, so a killed run resumes from its last commit instead
    * of restarting (verdict r4 task 7). Stage resume granularity matches
    * each stage's data dependence:
    *
    *  - `extracted/` — per-URL incremental (the resumeExtract contract):
    *    only pages whose url is uncommitted are parsed;
    *  - `survivors/` — corpus-global (dedup sees every doc), so it is
    *    stage-level: reused verbatim when its recorded input key (the
    *    extracted table's manifest digest — metadata-only, no probe
    *    job) matches the live extracted table, recomputed otherwise;
    *  - `decisions/` — per-doc incremental (the
    *    [[filterPipelineIncremental]] contract): committed keep/drop
    *    decisions are skipped by an anti-join BEFORE any signal
    *    computes. Committed decisions are facts — a later corpus growth
    *    does not re-decide them (same published contract as the
    *    standalone incremental filter);
    *  - `packed/` — pack offsets are cumulative within a bucket, so
    *    stage-level like survivors, keyed by the kept-set fingerprint.
    *
    * Dedup semantics: exact keeps the min doc_id per md5(text) group;
    * near-dup drops every doc whose LSH connected component has a
    * smaller member (components computed over the WHOLE extracted
    * corpus — dedup runs before the train/held-out split, so a
    * benchmark doc can evict its training twin). The filter stage then
    * decides only dedup-surviving training docs (doc_id % 11 != 0), and
    * packing runs over kept docs in doc_id order per bucket.
    *
    * Every downstream stage consumes the upstream COMMITTED table (the
    * extracted text, not the source corpus) — the DuckDB oracle can
    * still restate the whole chain against `documents` because
    * extraction is byte-identical per url (pinned by
    * `q_extract_roundtrip`). Returns the packed table:
    * (doc_id, bucket, n_tokens, pack_id, pack_offset).
    */
  def corpusEndToEnd(spark: SparkSession, dir: String, tableRoot: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._

    // label each phase's jobs (guide §1.5) — the resume path is many
    // small driver actions and an unlabeled UI/timeline is unreadable;
    // jobs outside a named phase run as "e2e: setup"
    Scoped(spark, Some("e2e: setup")) {

    // ---- stage E: extraction, per-url incremental ----
    val extractIo = new graft.pipeline.TableIO(s"$tableRoot/extracted")
    // the pending anti-join runs over a urls-only projection (doc_id →
    // ExtractOps.docUrlCol, the documentsAsPages url rule) so committed docs
    // never pay page synthesis and no page body rides the anti-join —
    // only the pending ids' pages are ever built, and none when nothing
    // is pending
    val livePages = docs(spark, dir).select(col("doc_id"),
      ExtractOps.docUrlCol(col("doc_id")).as("url"))
    Scoped(spark, Some("e2e: extract append"))(
      extractIo.appendPending(livePages, "url") { todo =>
        val todoPages = ExtractOps.documentsAsPagesOf(
          docs(spark, dir).join(todo.select(col("doc_id")), Seq("doc_id")))
        graft.pipeline.ExtractPipeline.run(todoPages, "utf-8").toDF()
      })
    val extracted = extractIo.readTable(spark).get
      .select(
        ExtractOps.docIdCol(col("url")).as("doc_id"),
        col("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // metadata-only input key for the downstream stage-freshness checks
      // (r6, guide §1.2): snapshot dirs are immutable and the manifest
      // names exactly the visible set, so equal manifest ⟺ equal
      // extracted content — the content-fingerprint AGGREGATION JOB the
      // steady-state resume used to pay every run is gone. Strictly
      // finer than a content fingerprint (a rewrite with identical
      // content recomputes downstream — the safe direction).
      val extractedKey = extractIo.manifestDigest()

      // ---- stage D: dedup survivors, stage-level freshness with
      // INCREMENTAL recompute on corpus growth (verdict r5 next #1) ----
      val survivors = stageTable(spark, s"$tableRoot/survivors", extractedKey) {
        val exactKept = extracted
          .groupBy(md5(col("text")).as("digest"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val cc = incrementalComponents(spark, tableRoot, extracted)
        exactKept.join(cc, Seq("doc_id"), "left")
          .filter(col("component").isNull || col("component") === col("doc_id"))
          .select(col("doc_id"))
      }

      // ---- stage F: filter decisions, per-doc incremental ----
      val decisionsIo = new graft.pipeline.TableIO(s"$tableRoot/decisions")
      val training = extracted.join(survivors, Seq("doc_id"))
        .filter(col("doc_id") % 11 =!= 0)
      // gated as in stage E: with nothing pending, the doc_id anti-join
      // (text pruned out of both scans) is the only work
      Scoped(spark, Some("e2e: decisions append"))(
        decisionsIo.appendPending(training, "doc_id")(filterPipelineOver(spark, dir, _)))
      // decisions may carry docs that stopped surviving after a corpus
      // grew (dedup found a smaller twin) — the survivors join drops
      // them. `def`, not `val`: resolving the decisions relation costs a
      // driver job, and the fresh-packed path never needs it
      def kept = decisionsIo.readTable(spark).get
        .filter(col("keep")).select(col("doc_id"))
        .join(survivors, Seq("doc_id"))

      // ---- stage P: pack, stage-level ----
      // keyed by the UPSTREAM STATE (the extracted and the decisions
      // manifest keys), not by a kept-set fingerprint:
      // kept is a deterministic function of the extracted content
      // (survivors recompute deterministically from it) and the
      // decisions table content (immutable snapshots, exactly named by
      // the manifest), so equal key ⟹ equal kept set — and the key is
      // pure METADATA, removing the kept-set aggregation job the
      // no-op resume used to pay every run (r6; guide §1.2). The key is
      // strictly FINER than the kept set (a decisions append that
      // changes no decision recomputes packed — the safe direction;
      // a count-keyed reuse of a stale table remains impossible).
      stageTable(spark, s"$tableRoot/packed",
        s"$extractedKey.${decisionsIo.manifestDigest()}") {
        packSequencesOf(extracted.join(kept, Seq("doc_id")))
      }
    } finally extracted.unpersist(blocking = false)
    }
  }

  /** Connected-component labels over the extracted corpus' LSH band
    * graph, maintained INCREMENTALLY across corpus growth (verdict r5
    * next #1): the (doc_id, band, band_key) table commits per doc under
    * `tableRoot/bands` and the labels under `tableRoot/cc`. On PURE
    * GROWTH (the banded set is a subset of the live extracted set) only
    * the NEW docs are banded — the CPU-heavy shingle/minhash pass never
    * re-reads old text — candidate pairs are generated new-vs-all via
    * the committed band table, and components re-solve from the new
    * pairs UNION the prior labels-as-edges: every label is an id
    * reachable from its owner, so label edges reproduce old
    * connectivity exactly while old pairs never re-derive (the same
    * seeding trick [[DedupOps.connectedComponentsImpl]] uses for its
    * star fallback), and a new doc bridging two old components merges
    * them to the true minimum. A shrunken or shifted corpus rebuilds
    * both tables from scratch — append-only reuse would leak deleted
    * docs' bands into candidate generation. Labels are byte-identical
    * to the one-shot computation by construction.
    *
    * At a 100 TB corpus ingesting daily, this turns the dedup stage's
    * recurring cost from O(corpus) re-banding + full pair self-join
    * into O(increment) banding + a (new × all) keyed join + a component
    * re-solve seeded by compact label edges. Called only on the
    * survivors stage's STALE path — a no-op resume runs none of it.
    */
  private def incrementalComponents(spark: SparkSession, tableRoot: String,
                                    extracted: DataFrame): DataFrame = {
    val bandsIo = new graft.pipeline.TableIO(s"$tableRoot/bands")
    val ccIo = new graft.pipeline.TableIO(s"$tableRoot/cc")
    val extractedIds = extracted.select(col("doc_id"))
    val committed = bandsIo.readTable(spark)
    // commit ORDER is cc first, bands second, in BOTH branches: labels
    // always cover at least the committed band set, so a crash between
    // the two commits leaves a rerun that re-derives the (idempotent)
    // missing increment against the already-correct labels and
    // converges — the reverse order would leave bands claiming docs the
    // labels never solved, which a rerun cannot detect (the "new docs"
    // probe would come up empty against the grown band table).
    // bands hold 4 rows per doc: the partial distinct cuts the shuffled key rows 4x
    val pureGrowth = committed.exists(c =>
      c.select(col("doc_id")).distinct()
        .join(extractedIds, Seq("doc_id"), "left_anti").isEmpty)
    val priorEdges = ccIo.readTable(spark)
      .map(_.select(col("doc_id").as("a"), col("component").as("b")))
    if (!pureGrowth || priorEdges.isEmpty) {
      // full rebuild (first run, shrink/shift, or bands without labels
      // — a legacy-order crash remnant): band everything, pairs by the
      // keyed self-join (identical subplans → one ReusedExchange band
      // pass), fresh component solve
      val bands = DedupOps.minhashBandsOf(extracted)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val l = bands.select(col("band"), col("band_key"), col("doc_id").as("a"))
        val r = bands.select(col("band"), col("band_key"), col("doc_id").as("b"))
        val pairs = l.hint("merge").join(r, Seq("band", "band_key"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"))
          .distinct()
        ccIo.replaceWith(DedupOps.connectedComponents(pairs))
        bandsIo.replaceWith(bands)
      } finally bands.unpersist(blocking = false)
    } else {
      // bands hold 4 rows per doc: the partial distinct cuts the shuffled key rows 4x
      val newDocs = extracted.join(
        committed.get.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      if (!newDocs.isEmpty) {
        // the increment's bands stay a DataFrame until cc commits: pairs
        // derive from (new bands ⋈ committed ∪ new), labels re-solve
        // seeded by the prior labels, and only then do the new band rows
        // append — see the commit-order note above
        val newBands = DedupOps.minhashBandsOf(newDocs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val allBands = committed.get.unionByName(newBands)
          val l = newBands.select(col("band"), col("band_key"), col("doc_id").as("a"))
          val r = allBands.select(col("band"), col("band_key"), col("doc_id").as("b"))
          val newPairs = l.join(r, Seq("band", "band_key"))
            .filter(col("a") =!= col("b"))
            .select(least(col("a"), col("b")).as("a"),
              greatest(col("a"), col("b")).as("b"))
            .distinct()
          ccIo.replaceWith(DedupOps.connectedComponents(
            newPairs.unionByName(priorEdges.get)))
          bandsIo.appendSnapshot(newBands)
        } finally newBands.unpersist(blocking = false)
      }
    }
    ccIo.readTable(spark).get
  }

  /** [[corpusEndToEnd]] with the table root derived from the corpus
    * file-status tag (the derived-layout rule): the same corpus resumes
    * its committed tables across JVMs; a regenerated corpus at the same
    * path gets a fresh root instead of stale tables. The root is
    * additionally scoped by user (advisor r5): two users benchmarking
    * the same corpus on one machine must not collide on one /tmp root
    * (permission failures, or silently resuming the other user's
    * tables). NOTE for benchmarking: after the first run against a
    * corpus, this measures the steady-state RESUME path (pending
    * probes + freshness checks over committed tables) — the documented
    * contract cost — not the cold pipeline; clear the root to time the
    * cold path.
    */
  def corpusEndToEndAuto(spark: SparkSession, dir: String): DataFrame = {
    val tag = RelationalOps.layoutTag(spark, dir, "documents")
    val user = sys.props.getOrElse("user.name", "nouser")
      .replaceAll("[^A-Za-z0-9_.-]", "_")
    val root = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft-e2e-$user-$tag").getAbsolutePath
    corpusEndToEnd(spark, dir, root)
  }

  /** Stage-level resume for corpus-global stages: the committed table is
    * reused verbatim iff its live snapshots carry `inputKey` as their
    * manifest tag; any mismatch — missing table, partial upstream
    * state, grown or shifted input set — recomputes and replaces under
    * the new key. The key is committed in the same atomic manifest
    * install as the data, so freshness is answered from metadata alone
    * (no Spark job) and a crash mid-write leaves the previous (or no)
    * commit, which the rerun sees as stale and recomputes.
    */
  private def stageTable(spark: SparkSession, root: String, inputKey: String)
                        (compute: => DataFrame): DataFrame = {
    val io = new graft.pipeline.TableIO(root)
    val snaps = io.snapshots()
    if (snaps.isEmpty || snaps.exists(_.tag != inputKey)) {
      val stage = root.substring(root.lastIndexOf('/') + 1)
      Scoped(spark, Some(s"e2e: $stage compute"))(io.replaceWith(compute, inputKey))
    }
    io.readTable(spark).get
  }
}
