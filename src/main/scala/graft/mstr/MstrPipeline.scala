package graft.mstr

import graft.pipeline.PageRow
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Flat graph rows — the Neo4j-loader analog (load_to_neo4j.py:223-869)
  * re-expressed as normalized node/edge tables (SURVEY.md §1.3).
  */
final case class NodeRow(label: String, id: String, name: String,
                         file_path: String, extra: String)
final case class EdgeRow(edge_type: String, src_label: String, src_id: String,
                         dst_label: String, dst_id: String, prop: String)
final case class ReportJsonRow(report_id: String, name: String,
                               file_path: String, json: String)

/** The distributed MSTR extraction job.
  *
  * Shape (SURVEY.md §3 "Spark shape"): one pass over the index pages
  * builds the broadcast dimension set (the reference's preloaded index
  * files, base_parser.py:307-342); the report work-list is then
  * distributed and each report assembled row-locally against the
  * broadcast dims — no shuffle in the core path. Content files are
  * broadcast as raw html and parsed lazily once per executor (the
  * scan-once analog of the reference's global parse cache, X1/X2).
  *
  * Scale note: index + content dims here are the small side by
  * construction (the reference's corpus is a bounded documentation
  * export); the 10^12-row side is the generic pages table handled by
  * ExtractPipeline. A corpus whose content files outgrow broadcast runs
  * the join-based plan ([[MstrJoinPipeline]]) instead. Both plans drive
  * the same entity steps ([[MstrSteps]]), so they share every
  * extraction decision and differ only in how pages meet requests.
  */
object MstrPipeline {

  /** Parse corpus pages (url "mstr://corpus/<fileName>") into
    * (fileName → html string) with the pinned Latin-1 decode (§1.2).
    * Duplicate base names keep the row with the GREATEST url — a
    * deterministic rule shared with the join-based plan
    * ([[MstrJoinPipeline]]) so both paths stay byte-identical on
    * corpora with repeated file names.
    */
  def corpusFromPages(pages: Seq[PageRow]): Map[String, String] =
    pages.sortBy(_.url).map(p => MstrSteps.basename(p.url) -> TextOps.decodeLatin1(p.html)).toMap

  def buildIndexes(corpus: Map[String, String], loc: MstrLocale): MstrIndexes = {
    def idx(file: String): LinkIndex =
      corpus.get(file).map(h => new LinkIndex(MstrParsers.extractIndexLinks(Soup.parse(h))))
        .getOrElse(MstrIndexes.empty)
    MstrIndexes(
      documento = idx(loc.documento), relatorio = idx(loc.relatorio),
      cuboInteligente = idx(loc.cuboInteligente), atalho = idx(loc.atalho),
      metrica = idx(loc.metrica), fato = idx(loc.fato), funcao = idx(loc.funcao),
      atributo = idx(loc.atributo), tabelaLogica = idx(loc.tabelaLogica),
      pasta = idx(loc.pasta))
  }

  /** Shared distribution scaffold for every per-report pass: broadcast
    * corpus + indexes once, spread the (possibly narrowed) work list,
    * and run `f` against a per-partition engine (per-partition parse
    * cache — the X1 global-cache analog).
    */
  private def mapReports[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, pages: Seq[PageRow], lang: String,
      numPartitions: Int, selection: Option[Seq[LinkResult]])(
      f: (MstrEngine, LinkResult) => IterableOnce[T]): Dataset[T] = {
    import spark.implicits._
    val loc = MstrLocale.forLang(lang)
    val corpus = corpusFromPages(pages)
    val indexes = buildIndexes(corpus, loc)
    val bCorpus = spark.sparkContext.broadcast(corpus)
    val bIndexes = spark.sparkContext.broadcast(indexes)
    // selection = the CLI's --filter/--report/--report-id narrowed
    // work-list (mstr-extractor.py:139-180); default = all reports
    val workList = selection.getOrElse(indexes.documento.links)
    val reports0 = spark.createDataset(workList.toSeq)
    val reports = if (numPartitions > 0) reports0.repartition(numPartitions) else reports0
    reports.mapPartitions { it =>
      val parseCache = scala.collection.mutable.Map.empty[String, Option[Soup]]
      val files: String => Option[Soup] = file =>
        parseCache.getOrElseUpdate(file, bCorpus.value.get(file).map(Soup.parse))
      val engine = new MstrEngine(bIndexes.value, files, loc)
      it.flatMap(info => f(engine, info))
    }
  }

  /** Distributed extraction: report work-list → Dataset[ReportJsonRow].
    * Dims + content broadcast; reports spread by hash of id.
    */
  def run(spark: SparkSession, pages: Seq[PageRow], lang: String = "pt-BR",
          numPartitions: Int = 0,
          envId: String = GraphFlatten.DefaultEnvId,
          envName: String = GraphFlatten.DefaultEnvName,
          selection: Option[Seq[LinkResult]] = None): (Dataset[ReportJsonRow], Dataset[NodeRow], Dataset[EdgeRow]) = {
    import spark.implicits._
    val extracted = mapReports(spark, pages, lang, numPartitions, selection) {
      (engine, info) =>
        engine.extractReport(info).map { r =>
          val (nodes, edges) = GraphFlatten.flatten(r, envId, envName)
          (ReportJsonRow(r.id, r.name, r.filePath, JsonExport.exportOne(r)),
            nodes.toArray, edges.toArray)
        }
    }
    val cached = extracted.cache()
    (cached.map(_._1),
      cached.flatMap(_._2.toSeq),
      cached.flatMap(_._3.toSeq))
  }

  /** Validation stage (data_validator.py:175-248 analog): re-walk each
    * extracted tree row-locally and emit one row per schema violation —
    * a queryable `violations` table instead of log lines. Same
    * distribution shape as [[run]] (broadcast dims, no shuffle).
    */
  def validation(spark: SparkSession, pages: Seq[PageRow], lang: String = "pt-BR",
                 numPartitions: Int = 0): Dataset[ViolationRow] = {
    import spark.implicits._
    mapReports(spark, pages, lang, numPartitions, None) { (engine, info) =>
      engine.extractReport(info).toSeq.flatMap(Validator.validate)
    }
  }

  /** A9 summary — distinct entity counts from the flattened tables. */
  def summary(nodes: Dataset[NodeRow], edges: Dataset[EdgeRow]): DataFrame = {
    val n = nodes.groupBy(col("label"))
      .agg(countDistinct(col("id")).as("n")).withColumnRenamed("label", "kind")
    val e = edges.groupBy(col("edge_type"))
      .agg(count(lit(1)).as("n")).withColumnRenamed("edge_type", "kind")
    n.unionByName(e)
  }

  /** A10 integrity — duplicate ids per label must be empty. */
  def duplicateIdCheck(nodes: Dataset[NodeRow]): DataFrame =
    nodes.groupBy(col("label"), col("id"), col("name"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("label"), col("id"))
      .agg(countDistinct(col("name")).as("variants"))
      .filter(col("variants") > 1)
}

/** Nested tree → node/edge rows. Uniqueness keys follow the loader's
  * MERGE keys (init_neo4j_schema.py:115-158): id for most labels,
  * (attribute_id, name)-derived md5 for Form, (name, file_path) for
  * Function, name for User.
  *
  * Every entity node additionally gets a BELONGS_TO edge to the run's
  * Environment node — the loader roots all data under an Environment
  * for versioning / multi-tenant isolation (create_environment,
  * load_to_neo4j.py:195-221; BELONGS_TO on every entity load,
  * load_to_neo4j.py:237-740; README.md:599-607,637).
  */
object GraphFlatten {

  final val DefaultEnvId = "default"
  final val DefaultEnvName = "Default"

  def flatten(r: Relatorio, envId: String = DefaultEnvId,
              envName: String = DefaultEnvName): (Seq[NodeRow], Seq[EdgeRow]) = {
    val nodes = scala.collection.mutable.ArrayBuffer.empty[NodeRow]
    val edges = scala.collection.mutable.ArrayBuffer.empty[EdgeRow]

    nodes += NodeRow("Report", r.id, r.name, r.filePath, "")

    r.owner.foreach { o =>
      nodes += NodeRow("User", o.name, o.fullname.getOrElse(o.name), o.filePath, o.id)
      edges += EdgeRow("OWNS", "User", o.name, "Report", r.id, "owner")
    }
    r.accessControl.foreach { ac =>
      nodes += NodeRow("User", ac.name, ac.fullname.getOrElse(ac.name),
        ac.filePath.getOrElse(""), ac.id.getOrElse(""))
      // dynamic edge type: access.upper().replace(' ', '_')
      // (load_to_neo4j.py:798,825)
      val et = ac.access.toUpperCase(java.util.Locale.ROOT).replace(' ', '_')
      edges += EdgeRow(et, "User", ac.name, "Report", r.id, ac.access)
    }

    def walkMetric(m: Metrica, parentLabel: String, parentId: String,
                   edgeType: String): Unit = {
      nodes += NodeRow("Metric", m.id, m.name, m.filePath,
        m.tipo + m.formula.map("|" + _).getOrElse(""))
      edges += EdgeRow(edgeType, parentLabel, parentId, "Metric", m.id, "")
      m.function.foreach { f =>
        nodes += NodeRow("Function", f.id, f.name, f.filePath, "")
        edges += EdgeRow("USES_FUNCTION", "Metric", m.id, "Function", f.id, "")
      }
      m.fact.foreach { f =>
        nodes += NodeRow("Fact", f.id, f.name, f.filePath, "")
        edges += EdgeRow("USES_FACT", "Metric", m.id, "Fact", f.id, "")
        f.logicTables.foreach { lt =>
          nodes += NodeRow("Table", lt.id, lt.name, lt.filePath.getOrElse(""), "")
          edges += EdgeRow("READS_FROM", "Fact", f.id, "Table", lt.id,
            lt.columnName.getOrElse(""))
        }
      }
      m.metricas.foreach(c => walkMetric(c, "Metric", m.id, "COMPOSED_OF"))
    }

    r.datasets.foreach { d =>
      nodes += NodeRow("Dataset", d.id, d.name, d.filePath,
        d.applicationObject.getOrElse(""))
      edges += EdgeRow("CONTAINS", "Report", r.id, "Dataset", d.id, "")
      d.atributos.foreach { a =>
        nodes += NodeRow("Attribute", a.id, a.name, a.filePath, a.nameOnDataset)
        edges += EdgeRow("HAS_ATTRIBUTE", "Dataset", d.id, "Attribute", a.id, "")
        a.formularios.foreach { f =>
          nodes += NodeRow("Form", f.id, f.name, "", "")
          edges += EdgeRow("HAS_FORM", "Attribute", a.id, "Form", f.id, "")
          f.logicTables.foreach { lt =>
            nodes += NodeRow("Table", lt.id, lt.name, lt.filePath.getOrElse(""), "")
            edges += EdgeRow("USES_TABLE", "Form", f.id, "Table", lt.id,
              lt.columnName.getOrElse(""))
          }
        }
      }
      d.metricas.foreach(m => walkMetric(m, "Dataset", d.id, "HAS_METRIC"))
    }

    // every entity node (NodeRow.id is already its MERGE key, incl. the
    // name-keyed User rows) roots under the Environment — one BELONGS_TO
    // per distinct (label, id) this report contributes
    val belongs = nodes.map(n => (n.label, n.id)).distinct.map { case (label, id) =>
      EdgeRow("BELONGS_TO", label, id, "Environment", envId, "")
    }
    nodes += NodeRow("Environment", envId, envName, "", "")
    edges ++= belongs

    (nodes.toSeq, edges.toSeq)
  }
}
