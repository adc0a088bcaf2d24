package graft.mstr

import graft.pipeline.PageRow
import graft.text.TextOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.reflect.ClassTag
import MstrSteps.{basename, splitPath}

/** Join-based MSTR extraction for corpora too big to broadcast — the
  * documented escape hatch of [[MstrPipeline]] (which broadcasts the
  * whole content corpus, a bounded-documentation-export assumption).
  *
  * Shape: BOTH big dimensions stay distributed. The content pages are
  * laid out by basename ONCE (one corpus-wide `reduceByKey` under the
  * run's one [[SaltedPartitioner]], which also applies the greatest-url
  * duplicate rule uniformly at any duplication cardinality), and every
  * staged pass is ONE co-partitioned `zipPartitions` join between that
  * layout and the stage's REQUEST table — itself a distributed RDD
  * derived from the previous stage's output, shuffled ONCE at entity
  * scale into the same partitioner. Hot files' salted page replicas
  * live in the same partitions (planning-time ones in the layout's own
  * shuffle, measured ones in a partitioner-aware union), so skew
  * routing adds no leg or task to a pass. Matched pages are
  * decoded and parsed once per stage; requests NEVER transit the
  * driver (the round-3 shape collected + re-broadcast every stage's
  * request list, a driver-serial term measured at ≈60 s per 50k
  * reports — linear in entities but serial, the one dimension that
  * didn't scale with executors). Only the 9 locale index files (small
  * dims by construction) and the final [[ReportJsonRow]]s ever reach
  * the driver.
  *
  * The whole run costs 4 + recursion-depth Spark jobs: one bounded
  * index collect, one O(1) aggregate probe per staged pass (R, D and
  * each metric level; the probe doubles as the materializing action
  * for the stage cache; the pages shuffle rides the first of them and
  * is reused by all later stages), one assembly. Each job carries a
  * `mstr join: <pass>` job description, and the caller's description
  * is restored afterwards. Composite-metric recursion (A3) is an
  * iterative stage loop carrying the visited PATH per branch, exactly
  * the engine's per-branch `visited.copy()` semantics. Fragments are
  * assembled into the nested tree per report in one
  * `groupBy(report_id)` pass.
  *
  * Missing-file semantics match the engine: report/dataset/metric
  * requests whose file is absent simply drop out of the join (engine
  * returns None); fact tables default to empty (the engine keeps the
  * FactRef with no logic tables), overridden when the fact page is
  * found.
  *
  * Same entity steps ([[MstrSteps]]), same broadcast indexes, same
  * output: byte-identical report JSON via both paths (MstrJoinSpec).
  * Request order within a (file, stage) group is shuffle-order — legal
  * because every stage applies its requests independently and every
  * fragment carries its ordinal/position key, so assembly's sorts make
  * the output order-invariant (partition-invariance is asserted in
  * MstrJoinSpec).
  */
object MstrJoinPipeline {

  /** Hot-file request routing: `Adaptive` salts the files either
    * detector finds hot (planning-time link counts, probe-measured
    * request counts), `Off` none (the A/B baseline). Output is
    * identical under both.
    */
  private[graft] sealed trait Routing
  private[graft] object Routing {
    case object Adaptive extends Routing
    case object Off extends Routing
  }

  // ---- stage records (all non-recursive → Catalyst-encodable) ----

  final case class ReportReq(file: String, name: String, href: String, ord: Int)

  /** [[ReportJsonRow]] plus the per-link resume key (report id + NUL +
    * documento-link ordinal — the same injective group key assembly
    * uses, so duplicate index links of one report id stay distinct
    * rows). This is the row shape the resumable TableIO sink commits
    * ([[resumeExtract]]); [[run]] projects the key away.
    */
  final case class KeyedReportJsonRow(resume_key: String, report_id: String,
                                      name: String, file_path: String, json: String)

  /** The resume/group key of one documento-index link request. Ordinals
    * are positions in the FULL documento index (not the selected list),
    * so keys are stable across ANY selection: an interrupted `--filter`
    * run can resume unfiltered (or vice versa) without a committed key
    * aliasing a different link or a pending link re-extracting.
    */
  def resumeKeyOf(req: ReportReq): String =
    MstrSteps.reportIdOf(req.href) + "\u0000" + req.ord

  /** The work list `run`/`resumeExtract` derive from the documento
    * index: one request per index link, `select` being the CLI's
    * narrowing. Ordinals are the link's position in the FULL index —
    * selection-independent (see [[resumeKeyOf]]); duplicate identical
    * links claim successive positions in selection order, and a
    * selection returning a link the index does not contain (contract
    * violation) fails loudly.
    */
  def defaultWork(idx: LinkIndex,
                  select: Option[LinkIndex => Seq[LinkResult]]): Seq[ReportReq] =
    select match {
      case None =>
        idx.links.zipWithIndex.map { case (l, i) =>
          ReportReq(l.file, l.name, l.href, i)
        }
      case Some(f) =>
        val positions = mutable.Map.empty[LinkResult, mutable.Queue[Int]]
        idx.links.zipWithIndex.foreach { case (l, i) =>
          positions.getOrElseUpdate(l, mutable.Queue.empty) += i
        }
        f(idx).map { l =>
          val q = positions.getOrElse(l, mutable.Queue.empty)
          require(q.nonEmpty,
            s"selection returned a link not present (at this multiplicity) in " +
              s"the documento index: $l")
          ReportReq(l.file, l.name, l.href, q.dequeue())
        }.toSeq
    }
  final case class DsReq(report_id: String, ds_ord: Int, ds_name: String,
                         ds_id: String, ds_file: String, file: String, source: String)
  final case class AttrReq(report_id: String, ds_ord: Int, ord: Int, official: String,
                           name_on_ds: String, file: String, anchor: String, ds_id: String)
  final case class MetricReq(report_id: String, ds_ord: Int, pos: Seq[Int], ds_id: String,
                             name: String, file: String, anchor: String,
                             id_opt: Option[String], path: Seq[String])
  final case class FactReq(report_id: String, ds_ord: Int, pos: Seq[Int],
                           file: String, anchor: String)

  final case class SkelFrag(name: String, file_path: String,
                            owner: Option[Owner], acl: Seq[AccessControlEntry])
  final case class DsFrag(ds_ord: Int, name: String, id: String, file_path: String,
                          application_object: Option[String], graphic: Option[String])
  final case class AttrFrag(ds_ord: Int, ord: Int, attr: Atributo)
  final case class MetricNodeFrag(ds_ord: Int, pos: Seq[Int], name: String, id: String,
                                  file_path: String, tipo: String,
                                  application_object: Option[String], formula: Option[String],
                                  function: Option[FunctionRef], fact: Option[FactRef])
  final case class FactFrag(ds_ord: Int, pos: Seq[Int], tables: Seq[LogicTable])

  /** Universal stage envelope: every stage output — assembled-tree
    * fragment or follow-up request — rides as a compact java-serialized
    * blob tagged by `kind`. The payloads are internal to this pipeline,
    * never queried columnar, and the recursive tree they feed can't be
    * a Catalyst schema anyway (SURVEY.md §7.4.2). `report_id` is the
    * assembly group key for fragments; for requests the same slot
    * carries the TARGET FILE instead, so the probe aggregate (and the
    * next stage's routing key) can read it without deserializing the
    * payload — per-file request counting rides the probe for free.
    */
  final case class Frag(report_id: String, kind: Int, blob: Array[Byte])

  object Frag {
    val KFrag = 0   // assembly fragment (SkelFrag/DsFrag/AttrFrag/MetricNodeFrag/FactFrag)
    val KDs = 1     // DsReq
    val KAttr = 2   // AttrReq
    val KMetric = 3 // MetricReq
    val KFact = 4   // FactReq

    // Payload wire format: a hand-rolled DataOutput codec over the
    // NINE payload types (r6). java.io.ObjectOutputStream wrote a
    // stream header + full class descriptors PER FRAGMENT, and a run
    // moves ~500k fragment/request payloads through of()/read() — the
    // per-object setup cost was a measurable slice of every stage and
    // of the assembly phase (A/B in OPTIMIZATION_r06.md). A reflective
    // framework replacement (Spark KryoSerializer) matched the speed
    // but produced a rare, unreproducible blob corruption under the
    // 50k-report load; this codec has NO shared mutable state, no
    // class names in the stream, no reflection — every blob is
    // self-contained bytes, auditable field by field. The blob is
    // intra-run wire data only (never persisted, never hashed), so
    // the format is free to change. An unknown payload type fails
    // LOUDLY at write time.
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
      DataInputStream, DataOutputStream}
    import java.nio.charset.StandardCharsets.UTF_8

    private def ws(o: DataOutputStream, s: String): Unit =
      if (s == null) o.writeInt(-1)
      else {
        val b = s.getBytes(UTF_8)
        o.writeInt(b.length); o.write(b)
      }
    private def rs(i: DataInputStream): String = {
      val n = i.readInt()
      if (n < 0) null
      else {
        val b = new Array[Byte](n); i.readFully(b); new String(b, UTF_8)
      }
    }
    private def wo(o: DataOutputStream, s: Option[String]): Unit = s match {
      case Some(v) => o.writeBoolean(true); ws(o, v)
      case None    => o.writeBoolean(false)
    }
    private def ro(i: DataInputStream): Option[String] =
      if (i.readBoolean()) Some(rs(i)) else None
    private def wis(o: DataOutputStream, xs: Seq[Int]): Unit = {
      o.writeInt(xs.length); xs.foreach(o.writeInt)
    }
    private def ris(i: DataInputStream): List[Int] =
      List.fill(i.readInt())(i.readInt())
    private def wss(o: DataOutputStream, xs: Seq[String]): Unit = {
      o.writeInt(xs.length); xs.foreach(ws(o, _))
    }
    private def rss(i: DataInputStream): List[String] =
      List.fill(i.readInt())(rs(i))
    private def wlt(o: DataOutputStream, lt: LogicTable): Unit = {
      ws(o, lt.name); ws(o, lt.id); wo(o, lt.filePath); wo(o, lt.columnName)
    }
    private def rlt(i: DataInputStream): LogicTable =
      LogicTable(rs(i), rs(i), ro(i), ro(i))
    private def wlts(o: DataOutputStream, xs: Seq[LogicTable]): Unit = {
      o.writeInt(xs.length); xs.foreach(wlt(o, _))
    }
    private def rlts(i: DataInputStream): List[LogicTable] =
      List.fill(i.readInt())(rlt(i))

    private def encode(o: DataOutputStream, p: AnyRef): Unit = p match {
      case DsReq(rid, ord, nm, id, dsf, f, src) =>
        o.writeByte(1); ws(o, rid); o.writeInt(ord); ws(o, nm); ws(o, id)
        ws(o, dsf); ws(o, f); ws(o, src)
      case AttrReq(rid, dso, ord, off, nds, f, a, id) =>
        o.writeByte(2); ws(o, rid); o.writeInt(dso); o.writeInt(ord)
        ws(o, off); ws(o, nds); ws(o, f); ws(o, a); ws(o, id)
      case MetricReq(rid, dso, pos, id, nm, f, a, idOpt, path) =>
        o.writeByte(3); ws(o, rid); o.writeInt(dso); wis(o, pos); ws(o, id)
        ws(o, nm); ws(o, f); ws(o, a); wo(o, idOpt); wss(o, path)
      case FactReq(rid, dso, pos, f, a) =>
        o.writeByte(4); ws(o, rid); o.writeInt(dso); wis(o, pos); ws(o, f); ws(o, a)
      case SkelFrag(nm, fp, owner, acl) =>
        o.writeByte(5); ws(o, nm); ws(o, fp)
        owner match {
          case Some(ow) =>
            o.writeBoolean(true)
            ws(o, ow.name); ws(o, ow.id); ws(o, ow.filePath)
            wo(o, ow.fullname); wo(o, ow.access)
          case None => o.writeBoolean(false)
        }
        o.writeInt(acl.length)
        acl.foreach { e =>
          ws(o, e.name); ws(o, e.access); wo(o, e.fullname); wo(o, e.id)
          wo(o, e.filePath)
        }
      case DsFrag(dso, nm, id, fp, ao, g) =>
        o.writeByte(6); o.writeInt(dso); ws(o, nm); ws(o, id); ws(o, fp)
        wo(o, ao); wo(o, g)
      case AttrFrag(dso, ord, at) =>
        o.writeByte(7); o.writeInt(dso); o.writeInt(ord)
        ws(o, at.name); ws(o, at.nameOnDataset); ws(o, at.id); ws(o, at.filePath)
        ws(o, at.datasetId); wo(o, at.applicationSchema)
        o.writeInt(at.formularios.length)
        at.formularios.foreach { fm =>
          ws(o, fm.id); ws(o, fm.name); wlts(o, fm.logicTables)
        }
      case MetricNodeFrag(dso, pos, nm, id, fp, tipo, ao, formula, fn, fact) =>
        o.writeByte(8); o.writeInt(dso); wis(o, pos); ws(o, nm); ws(o, id)
        ws(o, fp); ws(o, tipo); wo(o, ao); wo(o, formula)
        fn match {
          case Some(fr) =>
            o.writeBoolean(true); ws(o, fr.name); ws(o, fr.id); ws(o, fr.filePath)
          case None => o.writeBoolean(false)
        }
        fact match {
          case Some(fr) =>
            o.writeBoolean(true); ws(o, fr.name); ws(o, fr.id); ws(o, fr.filePath)
            wlts(o, fr.logicTables)
          case None => o.writeBoolean(false)
        }
      case FactFrag(dso, pos, tables) =>
        o.writeByte(9); o.writeInt(dso); wis(o, pos); wlts(o, tables)
      case other =>
        throw new IllegalArgumentException(
          s"Frag payload type not in the wire codec: ${other.getClass.getName}")
    }

    private def decode(i: DataInputStream): AnyRef = i.readByte() match {
      case 1 => DsReq(rs(i), i.readInt(), rs(i), rs(i), rs(i), rs(i), rs(i))
      case 2 => AttrReq(rs(i), i.readInt(), i.readInt(), rs(i), rs(i), rs(i),
        rs(i), rs(i))
      case 3 => MetricReq(rs(i), i.readInt(), ris(i), rs(i), rs(i), rs(i),
        rs(i), ro(i), rss(i))
      case 4 => FactReq(rs(i), i.readInt(), ris(i), rs(i), rs(i))
      case 5 =>
        val nm = rs(i); val fp = rs(i)
        val owner =
          if (i.readBoolean()) Some(Owner(rs(i), rs(i), rs(i), ro(i), ro(i)))
          else None
        val acl = List.fill(i.readInt())(
          AccessControlEntry(rs(i), rs(i), ro(i), ro(i), ro(i)))
        SkelFrag(nm, fp, owner, acl)
      case 6 => DsFrag(i.readInt(), rs(i), rs(i), rs(i), ro(i), ro(i))
      case 7 =>
        val dso = i.readInt(); val ord = i.readInt()
        val nm = rs(i); val nds = rs(i); val id = rs(i); val fp = rs(i)
        val dsId = rs(i); val as = ro(i)
        val fms = List.fill(i.readInt())(Formulario(rs(i), rs(i), rlts(i)))
        AttrFrag(dso, ord, Atributo(nm, nds, id, fp, dsId, as, fms))
      case 8 =>
        val dso = i.readInt(); val pos = ris(i); val nm = rs(i); val id = rs(i)
        val fp = rs(i); val tipo = rs(i); val ao = ro(i); val formula = ro(i)
        val fn = if (i.readBoolean()) Some(FunctionRef(rs(i), rs(i), rs(i))) else None
        val fact = if (i.readBoolean()) Some(FactRef(rs(i), rs(i), rs(i), rlts(i)))
                   else None
        MetricNodeFrag(dso, pos, nm, id, fp, tipo, ao, formula, fn, fact)
      case 9 => FactFrag(i.readInt(), ris(i), rlts(i))
      case t => throw new IllegalStateException(s"unknown Frag payload tag $t")
    }

    def of(reportId: String, payload: Serializable): Frag =
      tagged(reportId, KFrag, payload)
    def req(kind: Int, file: String, payload: Serializable): Frag =
      tagged(file, kind, payload)
    private def tagged(key: String, kind: Int, payload: Serializable): Frag = {
      val bos = new ByteArrayOutputStream(64)
      val o = new DataOutputStream(bos)
      encode(o, payload.asInstanceOf[AnyRef])
      o.flush()
      Frag(key, kind, bos.toByteArray)
    }
    def read(f: Frag): AnyRef =
      decode(new DataInputStream(new ByteArrayInputStream(f.blob)))
  }

  /** Executor-side index handle: ships the raw index HTML and parses
    * it once per executor JVM on first use (@transient lazy — the
    * broadcast caches one deserialized instance per executor, so the
    * parse runs once there and never again).
    */
  final class IndexHandle(indexHtml: Map[String, String], lang: String)
      extends Serializable {
    @transient lazy val indexes: MstrIndexes =
      MstrPipeline.buildIndexes(indexHtml, MstrLocale.forLang(lang))
  }

  /** Batched Misra-Gries heavy-hitter counter (space-saving family):
    * the map may grow to 2×`cap`; past that, the (cap+1)-th largest
    * count is subtracted from every entry and ≤0 entries drop, so each
    * compaction frees >cap slots at O(entries) cost — amortized O(1)
    * per add. `shed` tracks the total subtracted, which upper-bounds
    * any key's undercount (Σsᵢ ≤ n/cap since ≥cap entries carry each
    * sᵢ): a key's true count is ≤ est + shed, so testing
    * `est + shed > threshold` NEVER misses a genuinely hot key, and
    * with cap ≥ 8×width the false-positive inflation is ≤ threshold/16
    * (a near-threshold file split unnecessarily costs only its tiny
    * salted replication, never correctness). The n in both bounds is
    * THIS sketch's own add count — which is why ProbeStats keeps one
    * sketch per request kind: a kind queried against its own total must
    * not absorb another kind's compaction pressure or shed.
    */
  final class HeavyHitters(val cap: Int) extends Serializable {
    private val m = new java.util.HashMap[String, Long]()
    private var shedTotal = 0L
    def shed: Long = shedTotal

    def add(key: String): this.type = {
      m.merge(key, 1L, (a: Long, b: Long) => a + b)
      if (m.size > 2 * cap) compact()
      this
    }
    def merge(o: HeavyHitters): this.type = {
      o.m.forEach { (k: String, v: Long) =>
        m.merge(k, v, (a: Long, b: Long) => a + b)
      }
      shedTotal += o.shedTotal
      if (m.size > 2 * cap) compact()
      this
    }
    /** est(key); 0 when untracked (true count still ≤ shed then). */
    def est(key: String): Long = m.getOrDefault(key, 0L)
    def foreachEntry(f: (String, Long) => Unit): Unit = m.forEach {
      (k: String, v: Long) => f(k, v)
    }
    private def compact(): Unit = {
      val vals = new Array[Long](m.size())
      var i = 0
      m.forEach { (_: String, v: Long) => vals(i) = v; i += 1 }
      java.util.Arrays.sort(vals)
      // s = (cap+1)-th largest: at most `cap` entries survive (> s),
      // so each compaction frees > cap slots
      val s = vals(math.max(0, vals.length - 1 - cap))
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= s) it.remove() else e.setValue(e.getValue - s)
      }
      shedTotal += s
    }
  }

  /** Probe accumulator: per-kind row counts (the O(1) stage gauges)
    * plus per-file request heavy hitters, ONE SKETCH PER REQUEST KIND —
    * eviction pressure and shed slack for a kind then come only from
    * that kind's own adds, so the no-false-negative bound holds per
    * kind even when one kind dwarfs another in the same accumulator
    * (stage F's stats accumulate a little KFact across metric-dominated
    * levels). The request frag's `report_id` slot carries the target
    * file, so this rides the probe's existing pass with no payload
    * deserialization and no extra job. `trackFiles=false` (routing
    * `Off`) skips the sketches entirely so an A/B "before" leg carries
    * none of the detector's cost.
    */
  final class ProbeStats(val cap: Int, val trackFiles: Boolean = true)
      extends Serializable {
    var kinds: Map[Int, Long] = Map.empty
    val files = new java.util.HashMap[Int, HeavyHitters]()
    def add(f: Frag): this.type = {
      kinds = kinds.updated(f.kind, kinds.getOrElse(f.kind, 0L) + 1L)
      if (trackFiles && f.kind != Frag.KFrag && f.report_id.nonEmpty)
        files.computeIfAbsent(f.kind, _ => new HeavyHitters(cap)).add(f.report_id)
      this
    }
    def merge(o: ProbeStats): this.type = {
      kinds = o.kinds.foldLeft(kinds) { case (m, (k, v)) =>
        m.updated(k, m.getOrElse(k, 0L) + v) }
      o.files.forEach { (k: Int, hh: HeavyHitters) =>
        val mine = files.get(k)
        // copy on first sight (only then — the common existing-kind
        // path merges in place): aliasing o's sketch would let a later
        // merge into THIS accumulator silently mutate o (stage F merges
        // level stats that the level loop also keeps as frontierStats)
        if (mine == null) files.put(k, new HeavyHitters(cap).merge(hh))
        else mine.merge(hh)
      }
      this
    }
    def count(kind: Int): Long = kinds.getOrElse(kind, 0L)

    /** Files measured hot for a stage consuming the given request
      * kinds, with each hot file's ADAPTIVE salt count
      * ([[MstrJoinPipeline.saltCountOf]]): same fair-share rule as
      * [[MstrJoinPipeline.hotFilesOf]]
      * ([[MstrJoinPipeline.fairShareThreshold]]), over MEASURED counts
      * with the per-kind no-false-negative slack folded in. The
      * threshold is the COMBINED workload's fair share: a file holding
      * all of a tiny kind inside a stage dominated by another kind is
      * not a straggler and is not split.
      */
    def hotFiles(reqKinds: Seq[Int], width: Int): Map[String, Int] = {
      val threshold = fairShareThreshold(reqKinds.map(count).sum, width)
      val perFile = mutable.Map.empty[String, Long]
      var slack = 0L
      reqKinds.foreach { k =>
        val hh = files.get(k)
        if (hh != null) {
          slack += hh.shed
          hh.foreachEntry { (f, est) =>
            perFile.update(f, perFile.getOrElse(f, 0L) + est)
          }
        }
      }
      perFile.iterator.filter(_._2 + slack > threshold)
        .map { case (f, est) => f -> saltCountOf(est + slack, threshold, width) }
        .toMap
    }
  }

  /** `internalShufflePartitions` sizes ONLY the assembly shuffle (the
    * fragment groupBy — entity-scale rows, so a narrow width collapses
    * orchestration latency on small corpora; raise it when the entity
    * count warrants). Request-side stage shuffles are co-partitioned
    * with the pages layout and take its width (= the input scan's
    * parallelism). The pages scan shuffles exactly once, up front.
    * `routing` picks the hot-file detectors ([[Routing]]; adaptive by
    * default).
    *
    * The returned Dataset is PERSISTED (run() materializes eagerly so
    * all internal jobs execute under the scoped conf); a long-lived
    * session issuing many runs should `unpersist()` results it is done
    * with.
    */
  def run(spark: SparkSession, pagesDs: Dataset[PageRow],
          lang: String = "pt-BR",
          internalShufflePartitions: Int = 4,
          select: Option[LinkIndex => Seq[LinkResult]] = None,
          routing: Routing = Routing.Adaptive): Dataset[ReportJsonRow] =
    // the resume key is projected away BEFORE the single materializing
    // persist (projecting after it would cache the full JSON payload
    // twice and scan it one extra time per run)
    runProjected(spark, pagesDs, lang, internalShufflePartitions,
      idx => defaultWork(idx, select), routing)(
      k => ReportJsonRow(k.report_id, k.name, k.file_path, k.json))(
      scala.reflect.classTag[ReportJsonRow],
      org.apache.spark.sql.Encoders.product[ReportJsonRow])

  /** Resume-key ordinal scheme identifier, the tag of every snapshot
    * [[resumeExtract]] commits.
    */
  private val KeyScheme = "full-index-ordinals-v2"

  /** Resumable join-plan extraction through a [[graft.pipeline.TableIO]]
    * sink — the same snapshot/anti-join contract as the extraction and
    * filter pipelines, so an interrupted 100k-report run completes only
    * the remainder on re-run instead of restarting from zero:
    *
    *  - committed work = the table's `resume_key` column (report id +
    *    link ordinal — [[resumeKeyOf]]); reading it is work-list-bounded,
    *    the same driver-memory class as the documento work list itself;
    *  - pending work = the selected work list minus committed keys,
    *    ordinals from the FULL documento index so keys are stable across
    *    attempts under ANY selection (an interrupted `--filter` run may
    *    resume unfiltered and vice versa — [[resumeKeyOf]]); every
    *    snapshot is tagged with the scheme in the table manifest, so a
    *    table holding a snapshot committed under a different scheme, or
    *    under none (an older build's selection-relative ordinals), fails
    *    loudly instead of aliasing keys;
    *  - nothing pending runs no pass and commits NO snapshot (an
    *    empty work list returns before the pages layout, and an empty
    *    append commits nothing), and the union of snapshots after any
    *    interrupt/resume sequence equals a cold one-shot run's rows
    *    (MstrJoinSpec).
    *
    * Returns the number of newly committed report rows.
    */
  def resumeExtract(spark: SparkSession, pagesDs: Dataset[PageRow],
                    io: graft.pipeline.TableIO,
                    lang: String = "pt-BR",
                    internalShufflePartitions: Int = 4,
                    select: Option[LinkIndex => Seq[LinkResult]] = None): Long = {
    val foreign = io.snapshots().filter(_.tag != KeyScheme)
    require(foreign.isEmpty,
      s"resume table ${io.root} holds ${foreign.head.dir} committed under key scheme " +
        s"'${foreign.head.tag}' but this build writes '$KeyScheme' — resuming would " +
        "alias committed keys; export the old table and start a fresh root")
    // committed keys are NEVER collected to the driver (verdict r5 next
    // #5): the work list's keys ship to executors — the already-
    // justified driver-order footprint, ~0.4 GiB/million reports — and
    // anti-join the committed table distributively; only the surviving
    // ORDINALS return (4 bytes per PENDING item), so the driver's
    // resume footprint stays flat as the committed table matures
    // instead of doubling with it. Past the documented >10M-report
    // escape hatch the work list itself goes distributed and this
    // anti-join rides along unchanged.
    def pendingOnly(work: Seq[ReportReq]): Seq[ReportReq] =
      io.readTable(spark) match {
        case None => work
        case Some(t) =>
          import spark.implicits._
          val keysDf = spark.createDataset(
            work.iterator.zipWithIndex
              .map { case (r, i) => (resumeKeyOf(r), i) }.toSeq)
            .toDF("resume_key", "ord")
          val pending = keysDf
            .join(t.select(col("resume_key")), Seq("resume_key"), "left_anti")
            .select(col("ord")).collect().map(_.getInt(0)).toSet
          work.iterator.zipWithIndex
            .collect { case (r, i) if pending(i) => r }.toSeq
      }
    val keyed = runKeyed(spark, pagesDs, lang, internalShufflePartitions,
      idx => pendingOnly(defaultWork(idx, select)))
    try io.appendSnapshot(keyed.toDF(), KeyScheme).rows
    finally keyed.unpersist(blocking = false)
  }

  /** [[runProjected]] keeping the resume key ([[resumeExtract]]'s shape). */
  def runKeyed(spark: SparkSession, pagesDs: Dataset[PageRow],
               lang: String,
               internalShufflePartitions: Int,
               workOf: LinkIndex => Seq[ReportReq]): Dataset[KeyedReportJsonRow] =
    runProjected(spark, pagesDs, lang, internalShufflePartitions, workOf)(identity)(
      scala.reflect.classTag[KeyedReportJsonRow],
      org.apache.spark.sql.Encoders.product[KeyedReportJsonRow])

  /** The staged pipeline proper, parameterized by the work-list builder
    * and the final row projection — applied BEFORE the one materializing
    * persist, so the pipeline caches exactly the rows its caller keeps
    * ([[run]] drops the resume key, [[resumeExtract]] commits it).
    */
  def runProjected[T: ClassTag](spark: SparkSession, pagesDs: Dataset[PageRow],
                      lang: String,
                      internalShufflePartitions: Int,
                      workOf: LinkIndex => Seq[ReportReq],
                      routing: Routing = Routing.Adaptive)(
                      project: KeyedReportJsonRow => T)(
                      implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val indexFiles = indexFileSet(MstrLocale.forLang(lang))
    // AQE's stage-by-stage materialization adds a driver job every time
    // the pages Dataset-to-RDD lineage is re-executed, and the staged
    // passes shuffle outside Catalyst, so there is nothing for it to
    // re-plan — scope it off for the whole run (shuffle WIDTH is left
    // untouched); the caller's setting and job description come back
    graft.obs.Scoped(spark, None, "spark.sql.adaptive.enabled" -> "false") {
      // ONE pruned conversion of the pages table feeds everything: the
      // index collect below and the basename layout (url + html only —
      // the column pruning survives into the RDD because the projection
      // happens on the Dataset side of the boundary)
      import spark.implicits._
      val urlHtml: RDD[(String, Array[Byte])] =
        pagesDs.select(col("url"), col("html")).as[(String, Array[Byte])].rdd

      // the 9 locale index files are the ONLY page content that ever
      // reaches the driver: non-index html drops before the exchange,
      // duplicates resolve map-side by the greatest-url rule (the
      // corpusFromPages rule), ≤10 rows return
      pass(spark, "indexes")
      val idxRows = urlHtml
        .filter { case (url, _) => indexFiles.contains(basename(url)) }
        .map { case (url, html) => (basename(url), (url, html)) }
        .reduceByKey((a, b) => if (a._1 >= b._1) a else b)
        .collect()
      val indexHtml: Map[String, String] =
        idxRows.iterator.map { case (f, (_, h)) => f -> TextOps.decodeLatin1(h) }.toMap

      runScoped(spark, urlHtml, lang, workOf, indexHtml,
        internalShufflePartitions, routing)(project)(implicitly, enc)
    }
  }

  /** Names the jobs of one pass; [[runProjected]] restores the
    * caller's description when the run ends.
    */
  private def pass(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setJobDescription(s"mstr join: $name")

  private def indexFileSet(loc: MstrLocale): Set[String] =
    Set(loc.documento, loc.relatorio, loc.cuboInteligente,
      loc.atalho, loc.metrica, loc.fato, loc.funcao, loc.atributo, loc.tabelaLogica,
      loc.pasta)

  private def runScoped[T: ClassTag](spark: SparkSession,
                           urlHtml: RDD[(String, Array[Byte])],
                           lang: String,
                           workOf: LinkIndex => Seq[ReportReq],
                           indexHtml: Map[String, String],
                           internalShufflePartitions: Int,
                           routing: Routing)(
                           project: KeyedReportJsonRow => T)(
                           implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val loc = MstrLocale.forLang(lang)
    val indexFiles: Set[String] = indexFileSet(loc)

    // the driver parses the indexes once for PLANNING (the documento
    // work list + selection); executors get the RAW index html instead:
    // strings java-serialize ~20× faster than the parsed half-million
    // LinkResult objects (measured 2.0 s vs 0.1 s broadcast write at
    // 50k reports), and each executor JVM parses once, lazily, on its
    // first stage task — trading ~0.3 s of parallel per-executor parse
    // for ~2 s of serial driver serialization
    // planning reads THROUGH the handle: in local mode the broadcast
    // returns this same instance, so its lazy parse serves both the
    // driver's planning and every stage task — one parse, not two
    val handle = new IndexHandle(indexHtml, lang)
    val indexes = handle.indexes

    // The staged passes run on the RDD layer deliberately: every stage
    // is per-partition imperative logic over OPAQUE java-serialized
    // payloads (the recursive entity tree has no Catalyst schema —
    // SURVEY.md §7.4.2), so Catalyst had nothing to optimize here, and
    // its per-job analysis was the dominant orchestration cost (~0.1 s
    // per internal job). Dataset stays the boundary type: pages in,
    // ReportJsonRow out.
    //
    // ONE partitioner serves the whole run: the salted partitioner
    // places a plain key exactly where HashPartitioner would and salt s
    // of file f at (hash(f) + s) mod width, so the pages layout, every
    // hot replica layout and every request table agree on placement.
    val sl = StorageLevel.MEMORY_AND_DISK
    val width = math.max(urlHtml.getNumPartitions, 1)
    val part = new SaltedPartitioner(width)

    // ---- stage R work list (also the hot-file planning input) ----
    // one request PER INDEX LINK (`workOf` applies the CLI's
    // --filter/--report/--report-id narrowing and, on resume, the
    // committed-key anti-filter): a report id listed twice in the
    // documento index must yield one output row per link, exactly like
    // the broadcast engine's per-link flatMap — so the internal group
    // key is (report_id, link ordinal), folded into one string that all
    // downstream request/fragment rows carry opaquely. This list is the
    // single driver-born work table (the documento index is parsed on
    // the driver — bounded by index-file size); everything after it is
    // distributed.
    val reportReqs: Seq[ReportReq] = workOf(indexes.documento)
    // nothing to extract (a no-op resume, a selection matching no
    // report): no pages layout, no broadcast, no pass
    if (reportReqs.isEmpty) {
      lastRouting.set(RoutingTrace(Set.empty, Set.empty, 0))
      return spark.emptyDataset[T](enc)
    }
    val bIdx = spark.sparkContext.broadcast(handle)

    // ---- hot-basename skew routing ----
    // The by-file partitioner serializes each file's whole request list
    // into one task — correct for the even layouts real exports mostly
    // have, a straggler when one content file serves most requests (all
    // datasets exported into one file: measured 106 s wall / 69 s max
    // task vs 22 s wall on the even layout, 20k reports @ 8 cores —
    // MstrHotSkewBench). Files above a fair-share threshold get their
    // request lists split across up to `width` salted keys, with the
    // (already greatest-url-deduped) page row replicated to each salt —
    // so the page parse runs once per salt in parallel and the request
    // work divides by the salt count instead of serializing. Replicas
    // share the pages layout's partitions, so a routed pass keeps the
    // unrouted pass's shuffle and task count.
    //
    // Hot files surface through TWO detectors, neither costing a job:
    //  - PLANNING time (here): a file's future request count proxied by
    //    its link count across the nine indexes plus the stage-R work
    //    list. Catches the link-visible shape (all datasets exported
    //    into one file).
    //  - MEASURED (per stage): a fan-in hot SECTION — one file, a
    //    normal handful of links, requested by nearly every report
    //    ("everything reads the corporate base cube") — is invisible to
    //    link counts (measured: 11.5 s max task vs 0.003 s median, 20k
    //    reports @ 8 cores). But every stage's requests are BORN in the
    //    previous stage's output, whose probe is already the cache-
    //    materializing action: request frags carry their target file in
    //    the key slot, the probe heavy-hitter-counts them per file
    //    (ProbeStats), and the consuming stage salts the measured-hot
    //    files exactly like the planning-time ones.
    val trackHot = routing == Routing.Adaptive
    val hotFiles: Map[String, Int] =
      if (routing == Routing.Off) Map.empty
      else hotFilesOf(
        Seq(indexes.documento, indexes.relatorio, indexes.cuboInteligente,
          indexes.atalho, indexes.metrica, indexes.fato, indexes.funcao,
          indexes.atributo, indexes.tabelaLogica, indexes.pasta)
          .map(_.links.iterator.map(_.file)) :+
          reportReqs.iterator.map(_.file),
        width)
    lastRouting.set(RoutingTrace(hotFiles.keySet, Set.empty, 0))

    // The basename layout is THE corpus-wide shuffle of the run: pages
    // keyed by file, duplicates resolved by greatest url in the same
    // reduce (map-side combine). The planning-time hot files' replicas
    // ride this shuffle, each salted key reduced over the same
    // duplicates. Decode is deferred to match time, so only pages some
    // stage requests ever pay Latin-1 decode + parse. Every stage
    // reuses this layout; nothing page-sized moves again.
    val pagesByFile: RDD[(String, (String, Array[Byte]))] = urlHtml
      .filter { case (url, _) => !indexFiles.contains(basename(url)) }
      .flatMap { case (url, html) =>
        val f = basename(url)
        Iterator.single((f, (url, html))) ++
          (0 until hotFiles.getOrElse(f, 0)).iterator.map(s => (saltKey(f, s), (url, html)))
      }
      .reduceByKey(part, (a: (String, Array[Byte]), b: (String, Array[Byte])) =>
        if (a._1 >= b._1) a else b)
      .persist(sl)

    /** Measured-hot (file → salt count) for a stage consuming
      * `reqKinds` requests from a probed predecessor.
      */
    def measuredHot(stats: ProbeStats, reqKinds: Int*): Map[String, Int] =
      if (!trackHot) Map.empty
      else {
        val hot = stats.hotFiles(reqKinds, width)
        if (hot.nonEmpty)
          lastRouting.updateAndGet(t => t.copy(measuredHot = t.measuredHot ++ hot.keySet))
        hot
      }
    // The pages a stage with hot map `hot` joins. Salts are 0..k-1
    // ([[saltKey]]); the pages layout holds those below each
    // planning-time count, and a MEASURED count above it adds a tiny
    // replica layout with the rest, joined by a partitioner-aware union
    // (still `width` partitions). Replica layouts cache by hot-file KEY
    // SET with a per-file high-water count; ANY cached layout covering
    // every requested count serves as-is (unsalted files' keys are never
    // looked up), so jittering estimates share one layout. An uncovered
    // stage builds one, widening its key set's high-water (the
    // superseded RDD stays persisted until run-end cleanup — a lazy
    // consumer like stage F may still hold it).
    val saltedLayouts = mutable.Map.empty[
      Set[String], (Map[String, Int], RDD[(String, (String, Array[Byte]))])]
    val supersededLayouts = mutable.ArrayBuffer.empty[RDD[_]]
    def pagesFor(hot: Map[String, Int]): RDD[(String, (String, Array[Byte]))] = {
      def covers(counts: Map[String, Int]): Boolean = hot.forall { case (f, k) =>
        math.max(hotFiles.getOrElse(f, 0), counts.getOrElse(f, 0)) >= k }
      if (covers(Map.empty)) pagesByFile
      else pagesByFile.union(saltedLayouts.valuesIterator.collectFirst {
        case (counts, rdd) if covers(counts) => rdd
      }.getOrElse {
        val prior = saltedLayouts.get(hot.keySet)
        val merged = prior.fold(hot)(p => hot.map { case (f, k) => f -> math.max(k, p._1(f)) })
        val rdd = pagesByFile
          .filter { case (fl, _) => merged.contains(fl) }
          .flatMap { case (fl, v) =>
            (hotFiles.getOrElse(fl, 0) until merged(fl)).iterator.map(s => (saltKey(fl, s), v)) }
          .partitionBy(part)
          .persist(sl)
        prior.foreach { case (_, old) => supersededLayouts += old }
        saltedLayouts.update(hot.keySet, (merged, rdd))
        lastRouting.updateAndGet(t => t.copy(layoutBuilds = t.layoutBuilds + 1))
        rdd
      })
    }

    /** One stage = ONE co-partitioned zipPartitions join: the request
      * table (entity-scale by design — the reference's work lists)
      * shuffles once into the run's partitioner, a hot file's requests
      * under salted keys, the rest under their plain file key. Each
      * partition builds a bounded (requests/width) per-key hash map of
      * its requests, and the pages side ([[pagesFor]]) STREAMS through —
      * each matched page decoded and parsed ONCE with all its requests
      * applied row-locally. A request meets exactly one page row, the
      * one under its own key (a file name cannot contain the NUL of a
      * salted key), so routing leaves output untouched. No driver
      * transit, no broadcast build, nothing page-sized moves.
      */
    def stage[R: ClassTag](reqs: RDD[(String, R)],
                           extraHot: Map[String, Int] = Map.empty)(
        f: (Soup, MstrIndexes, Seq[R]) => Seq[Frag]): RDD[Frag] = {
      // this stage's hot map: planning-time static ∪ measured
      // (predecessor-probe), a file hot in both keeping its widest
      // split — both detectors' files route identically
      val hot = extraHot.foldLeft(hotFiles) { case (m, (f, k)) =>
        m.updated(f, math.max(k, m.getOrElse(f, 0))) }
      // a hot request's salt is a deterministic hash of the request
      // itself, so any partitioning sees the same (request → salt)
      // assignment
      val keyed = if (hot.isEmpty) reqs else reqs.map { case (fl, r) =>
        hot.get(fl).fold((fl, r))(k => (saltKey(fl, math.floorMod(r.hashCode, k)), r))
      }
      pagesFor(hot).zipPartitions(keyed.partitionBy(part)) { (pIt, rIt) =>
        val byKey = new java.util.HashMap[String, mutable.ArrayBuffer[R]]()
        rIt.foreach { case (k, r) =>
          byKey.computeIfAbsent(k, _ => mutable.ArrayBuffer.empty[R]) += r
        }
        // a request-free partition must not even deserialize its pages
        if (byKey.isEmpty) Iterator.empty
        else pIt.flatMap { case (k, (_, html)) =>
          val rs = byKey.get(k)
          if (rs == null) Nil
          else f(Soup.parse(TextOps.decodeLatin1(html)), bIdx.value.indexes, rs.toSeq)
        }
      }
    }

    /** O(1)-row probe that doubles as the materializing action for a
      * stage's cache: counts follow-up requests by kind in one job.
      */
    // the sketch cap: ≥8× width keeps the no-false-negative slack
    // under threshold/16 (see HeavyHitters), and each per-kind map
    // under 2×cap entries regardless of distinct-file count
    val hhCap = math.max(64, 8 * width)
    def probe(out: RDD[Frag]): ProbeStats = out
      .aggregate(new ProbeStats(hhCap, trackHot))(
        (s, f) => s.add(f), (a, b) => a.merge(b))

    def reqRdd[R: ClassTag](out: RDD[Frag], kind: Int): RDD[(String, R)] =
      out.filter(_.kind == kind).map { f =>
        (f.report_id, Frag.read(f).asInstanceOf[R])
      }

    // ---- stage R: report skeletons + dataset routing (work list
    // `reportReqs` built above, before the hot-file planning) ----
    val reportReqRdd: RDD[(String, ReportReq)] =
      spark.sparkContext.parallelize(reportReqs, math.max(1, math.min(width, reportReqs.size)))
        .map(r => (r.file, r))

    val rOut = stage(reportReqRdd) { (soup, idx, rs) =>
      rs.flatMap { rq =>
        val reportId = MstrSteps.reportIdOf(rq.href)
        if (reportId.isEmpty) Nil
        else {
          val r = MstrSteps.report(soup, idx, loc, rq.file, rq.name, reportId)
          // fallback GUIDs seed from the PLAIN report id, while request
          // and fragment rows carry the per-link group key
          val groupKey = resumeKeyOf(rq)
          Frag.of(groupKey, SkelFrag(rq.name, r.filePath, r.owner, r.acl)) +:
            r.datasets.zipWithIndex.map { case ((dsName, dsId), ord) =>
              MstrSteps.routeDataset(idx, reportId, dsName, dsId) match {
                case Left(d) => Frag.of(groupKey,
                  DsFrag(ord, d.name, d.id, d.filePath, d.applicationObject, d.graphic))
                case Right(t) => Frag.req(Frag.KDs, t.file,
                  DsReq(groupKey, ord, t.name, t.id, t.path, t.file, t.source))
              }
            }
        }
      }
    }.persist(sl)

    // the probe is the materializing action for rOut's cache (and runs
    // the pages layout shuffle, reused by every later stage); dataset
    // requests stay distributed
    pass(spark, "stage R")
    val rStats = probe(rOut)
    val dsReqRdd = reqRdd[DsReq](rOut, Frag.KDs)

    def nodeFrag(rid: String, dsOrd: Int, pos: Seq[Int], m: Metrica): Frag =
      Frag.of(rid, MetricNodeFrag(dsOrd, pos, m.name, m.id, m.filePath, m.tipo,
        m.applicationObject, m.formula, m.function, m.fact))
    def metricReq(rid: String, dsOrd: Int, pos: Seq[Int], dsId: String,
                  t: MstrSteps.MetricTarget, path: Seq[String]): Frag = {
      val (f, a) = splitPath(t.path)
      Frag.req(Frag.KMetric, f, MetricReq(rid, dsOrd, pos, dsId, t.name, f, a, t.idOpt, path))
    }

    // ---- stage D: dataset pages → template objects → attr/metric reqs ----
    val dOut = stage(dsReqRdd, measuredHot(rStats, Frag.KDs)) { (soup, idx, rs) =>
      rs.flatMap { rq =>
        val d = MstrSteps.datasetPage(soup, idx, loc, rq.ds_name, rq.ds_id, rq.source)
        val attrs = d.attributes.zipWithIndex.map { case (at, i) =>
          val (f, a) = splitPath(at.path)
          Frag.req(Frag.KAttr, f, AttrReq(rq.report_id, rq.ds_ord, i, at.official,
            at.nameOnDataset, f, a, rq.ds_id))
        }
        val mets = d.metrics.zipWithIndex.map {
          case (Left(embedded), i) => nodeFrag(rq.report_id, rq.ds_ord, Seq(i), embedded)
          case (Right(t), i) => metricReq(rq.report_id, rq.ds_ord, Seq(i), rq.ds_id, t, Nil)
        }
        Frag.of(rq.report_id, DsFrag(rq.ds_ord, rq.ds_name, rq.ds_id, rq.ds_file,
          d.applicationObject, d.graphic)) +: (attrs ++ mets)
      }
    }.persist(sl)

    // one probe materializes dOut's cache and sizes the level-1
    // frontier (attribute + first-level metric requests ride together)
    pass(spark, "stage D")
    val dStats = probe(dOut)
    val nL1 = dStats.count(Frag.KAttr) + dStats.count(Frag.KMetric)

    // ---- fused level loop: level 1 serves attribute AND first-level
    // metric requests from one scan; deeper levels carry the recursion
    // frontier. One job per level (the probe); frontier and fact
    // requests stay distributed RDD views over the persisted level
    // caches — the driver only ever sees their COUNTS. A metric request
    // carries its branch path, the engine's per-branch `visited` copy.
    def levelStage(soup: Soup, idx: MstrIndexes,
                   rs: Seq[Either[AttrReq, MetricReq]]): Seq[Frag] =
      rs.flatMap {
        case Left(rq) =>
          Seq(Frag.of(rq.report_id, AttrFrag(rq.ds_ord, rq.ord, MstrSteps.attribute(soup,
            idx, loc, rq.official, rq.name_on_ds, rq.file, rq.anchor, rq.ds_id))))
        case Right(rq) =>
          val pathId = MstrSteps.pathId(rq.id_opt, rq.anchor)
          if (pathId.exists(rq.path.contains)) Nil
          else {
            val path = rq.path ++ pathId
            val s = MstrSteps.metric(soup, idx, loc, rq.name, rq.file, rq.anchor, rq.ds_id,
              path.contains)
            nodeFrag(rq.report_id, rq.ds_ord, rq.pos, s.node) +:
              (s.children.zipWithIndex.map { case (t, k) =>
                metricReq(rq.report_id, rq.ds_ord, rq.pos :+ k, rq.ds_id, t, path)
              } ++ s.fact.map { t =>
                Frag.req(Frag.KFact, t.file, FactReq(rq.report_id, rq.ds_ord, rq.pos, t.file,
                  t.anchor))
              })
          }
      }

    var frontier: RDD[(String, Either[AttrReq, MetricReq])] =
      dOut.filter(_.kind != Frag.KFrag).map { f =>
        Frag.read(f) match {
          case a: AttrReq   => (a.file, Left(a): Either[AttrReq, MetricReq])
          case m: MetricReq => (m.file, Right(m): Either[AttrReq, MetricReq])
        }
      }
    var nFrontier = nL1
    // the level about to run consumes the PREVIOUS probe's requests —
    // its measured-hot set comes from those stats (dOut's for level 1)
    var frontierStats: ProbeStats = dStats
    // fact requests from every level union into one stage-F input, so
    // its hot set accumulates across all the level probes
    val factStats = new ProbeStats(hhCap, trackHot)
    var mnodeFrags = spark.sparkContext.emptyRDD[Frag]
    var factReqRdd: RDD[(String, FactReq)] =
      spark.sparkContext.emptyRDD[(String, FactReq)]
    val persisted = mutable.ArrayBuffer[RDD[_]](rOut, dOut)
    var depth = 0
    while (nFrontier > 0 && depth < 64) {
      depth += 1
      val out = stage(frontier,
        measuredHot(frontierStats, Frag.KAttr, Frag.KMetric))(levelStage).persist(sl)
      persisted += out
      pass(spark, s"level $depth")
      val stats = probe(out)
      mnodeFrags = mnodeFrags.union(out)
      factReqRdd = factReqRdd.union(reqRdd[FactReq](out, Frag.KFact))
      frontier = reqRdd[MetricReq](out, Frag.KMetric)
        .mapValues(m => Right(m): Either[AttrReq, MetricReq])
      factStats.merge(stats)
      frontierStats = stats
      nFrontier = stats.count(Frag.KMetric)
    }
    // a >64-deep acyclic composite chain must fail LOUDLY, not emit a
    // silently truncated tree diverging from the broadcast-path engine
    if (nFrontier > 0)
      throw new IllegalStateException(
        s"composite-metric recursion exceeded depth 64 with $nFrontier pending requests")

    // ---- stage F: fact pages → logic tables (fact_parser.py); lazy —
    // its fragments are first (and only) computed inside the assembly
    // job, so it adds no orchestration job of its own ----
    val factFrags = stage(factReqRdd,
        measuredHot(factStats, Frag.KFact)) { (soup, idx, rs) =>
      rs.map { rq =>
        Frag.of(rq.report_id,
          FactFrag(rq.ds_ord, rq.pos, MstrSteps.factTables(soup, idx, loc, rq.anchor)))
      }
    }

    // ---- assembly: one group per report builds the nested tree ----
    // (request rows still sit in the stage caches; one filter drops them)
    val allFrags = spark.sparkContext
      .union(rOut, dOut, mnodeFrags, factFrags)
      .filter(_.kind == Frag.KFrag)

    val assembled = allFrags.groupBy(_.report_id, internalShufflePartitions)
      .flatMap { case (key, it) =>
      // the group key is report_id + NUL + link ordinal (one group —
      // hence one output row — per documento-index LINK, even when the
      // same report id is listed twice); strip the ordinal back off for
      // the emitted rows
      val rid = key.takeWhile(_ != '\u0000')
      val fs = it.map(Frag.read).toSeq
      fs.collectFirst { case s: SkelFrag => s }.map { sk =>
        val attrsByDs = fs.collect { case f: AttrFrag => f }.groupBy(_.ds_ord)
        val nodesByDs = fs.collect { case f: MetricNodeFrag => f }.groupBy(_.ds_ord)
        val factsByDs = fs.collect { case f: FactFrag => f }.groupBy(_.ds_ord)
        val datasets = fs.collect { case f: DsFrag => f }.sortBy(_.ds_ord).map { d =>
          val atributos = attrsByDs.getOrElse(d.ds_ord, Nil)
            .sortBy(_.ord).map(_.attr).toList
          val nodeByPos = nodesByDs.getOrElse(d.ds_ord, Nil)
            .map(n => n.pos.toList -> n).toMap
          val tablesByPos = factsByDs.getOrElse(d.ds_ord, Nil)
            .map(f => f.pos.toList -> f.tables).toMap
          val childPoses: Map[List[Int], Seq[List[Int]]] =
            nodeByPos.keys.toSeq.groupBy(_.dropRight(1))
          def build(p: List[Int]): Metrica = {
            val n = nodeByPos(p)
            val kids = childPoses.getOrElse(p, Nil).sortBy(_.last).map(build).toList
            val fact = n.fact.map { fr =>
              tablesByPos.get(p).map(ts => fr.copy(logicTables = ts.toList)).getOrElse(fr)
            }
            Metrica(n.name, n.id, n.file_path, d.id, n.tipo, n.application_object,
              n.formula, n.function, fact, kids)
          }
          val metricas = childPoses.getOrElse(Nil, Nil).sortBy(_.last).map(build).toList
          DataSet(d.name, d.id, d.file_path, rid, d.application_object, d.graphic,
            atributos, metricas)
        }.toList
        val r = Relatorio(sk.name, rid, sk.file_path, datasets, sk.owner, sk.acl.toList)
        KeyedReportJsonRow(key, rid, sk.name, sk.file_path, JsonExport.exportOne(r))
      }
    }
    // materialize eagerly; callers get the cached result
    val result = spark.createDataset(assembled.map(project))(enc).persist(sl)
    pass(spark, "assembly")
    result.count()
    // the intermediate caches served their purpose during assembly —
    // release them (and the pages layout + executor copies of the index
    // broadcast) so repeated run() calls don't pin blocks for the
    // session lifetime. The result itself stays cached disk-backed;
    // unpersist (not destroy) keeps the broadcast refetchable from the
    // driver should a lost block ever force lineage recompute.
    persisted.foreach(_.unpersist(blocking = false))
    pagesByFile.unpersist(blocking = false)
    saltedLayouts.valuesIterator.foreach(_._2.unpersist(blocking = false))
    supersededLayouts.foreach(_.unpersist(blocking = false))
    bIdx.unpersist(blocking = false)
    result
  }

  /** Hot-basename detection over request-count proxy populations: each
    * population (one index's link files, or the stage-R work list)
    * approximates one stage's request distribution, and a file is hot
    * when its count exceeds 2× a partition's fair share of THAT
    * population (floor 64 — a list a single task handles in
    * milliseconds is never worth splitting, and the even layouts real
    * exports produce stay far below it). Driver-side, zero Spark jobs.
    */
  private[graft] def hotFilesOf(populations: Seq[Iterator[String]],
                               width: Int): Map[String, Int] = {
    val out = mutable.Map.empty[String, Int]
    populations.foreach { files =>
      val counts = mutable.Map.empty[String, Long]
      var total = 0L
      files.foreach { f =>
        if (f.nonEmpty) { counts.update(f, counts.getOrElse(f, 0L) + 1L); total += 1L }
      }
      val threshold = fairShareThreshold(total, width)
      counts.foreach { case (f, c) =>
        if (c > threshold) {
          val k = saltCountOf(c, threshold, width)
          // a file hot in several populations keeps its widest split
          if (k > out.getOrElse(f, 0)) out.update(f, k)
        }
      }
    }
    out.toMap
  }

  /** Adaptive salt count for a hot file: enough salts that each
    * carries ~half-threshold (= max(32, fair share)) requests, capped
    * at `width`. A fan-in file holding nearly the whole stage splits
    * all the way to `width`; a file barely over threshold splits 2-3
    * ways — crucial at large widths, where replicating (and having
    * every salt task deserialize, and non-empty ones parse) a
    * marginally-hot page `width`× would cost more than the skew it
    * removes.
    */
  private[graft] def saltCountOf(est: Long, threshold: Long, width: Int): Int = {
    val perSalt = math.max(1L, threshold / 2)
    math.min(width.toLong, math.max(2L, (est + perSalt - 1) / perSalt)).toInt
  }

  /** The join plan's one partitioner (pages layout, hot replica
    * layouts, every request shuffle): salt s of file f goes to
    * partition (hash(f) + s) mod width, so a k-way split occupies k
    * DISTINCT partitions BY CONSTRUCTION. Hashing the composite string
    * instead (the naive choice) lets small-k splits collide into one
    * partition and quietly resurrect the straggler — String.hashCode
    * mod 2^m is structurally degenerate (31 ≡ −1 mod 32: the hash
    * collapses to an alternating char sum, and integer suffixes cannot
    * even REACH some residues). Plain-string keys (no NUL) follow the
    * HashPartitioner rule, so salt 0 lands with its plain key; salts
    * 0..k-1 make a lower-k key set a subset of any higher-k one, which
    * is what lets a persisted layout with a high-water salt count serve
    * lower-count stages. SaltedPartitionerPropSpec pins these properties.
    */
  private[graft] final class SaltedPartitioner(width: Int)
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = width
    def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[String]
      val i = k.lastIndexOf('\u0000')
      if (i < 0) math.floorMod(k.hashCode, width)
      else {
        // inverse of saltKey, allocation-free (this runs per record on
        // the salted request shuffle): prefix hash by char loop, salt
        // by digit loop. The sum is taken in LONG — Int overflow at a
        // non-power-of-two width would shift post-wrap salts by
        // (-2^32 mod width) instead of +1 and let two salts collide,
        // quietly weakening the k-distinct-partitions guarantee
        // (powers of two are immune, which is why only a
        // near-MaxValue-hash fixture catches it).
        var h = 0
        var j = 0
        while (j < i) { h = 31 * h + k.charAt(j); j += 1 }
        var salt = 0L
        j = i + 1
        while (j < k.length) { salt = salt * 10 + (k.charAt(j) - '0'); j += 1 }
        math.floorMod(h.toLong + salt, width.toLong).toInt
      }
    }
    override def equals(o: Any): Boolean = o match {
      case sp: SaltedPartitioner => sp.numPartitions == width
      case _                     => false
    }
    override def hashCode: Int = width
  }

  /** THE salted-key rule — the one builder every salted surface uses
    * (layout replication, request routing; [[SaltedPartitioner]]
    * implements its inverse): divergence between any two of them
    * silently breaks join matching or partition placement.
    */
  private[graft] def saltKey(file: String, salt: Int): String =
    file + "\u0000" + salt

  /** The one fair-share hot rule BOTH detectors (planning-time
    * [[hotFilesOf]], measured [[ProbeStats.hotFiles]]) judge against:
    * hot = more than 2× a partition's share of the population, floor 64
    * (a list one task handles in milliseconds is never worth
    * splitting).
    */
  private[graft] def fairShareThreshold(total: Long, width: Int): Long =
    math.max(64L, 2L * total / math.max(1, width))

  /** Test instrumentation for the most recent [[run]] on this JVM: the
    * files it found hot at planning time, the union of MEASURED hot
    * sets it routed, and the number of replica layouts it built for
    * measured counts. Lets specs assert each detector actually engaged
    * and bound a routed run's stage count — output bytes alone can't
    * (routing is output-invariant by design). Diagnostic only — the
    * pipeline never reads it, and under concurrent run() calls on one
    * driver the last writer wins (specs run extractions serially;
    * production output is unaffected either way).
    */
  private[graft] final case class RoutingTrace(staticHot: Set[String],
                                               measuredHot: Set[String], layoutBuilds: Int)
  private[graft] val lastRouting =
    new java.util.concurrent.atomic.AtomicReference(RoutingTrace(Set.empty, Set.empty, 0))
}
