package graft.mstr

import graft.text.TextOps

/** The MSTR entity steps: every extraction decision of the reference's
  * report → dataset → attribute/metric → fact cascade
  * (report_extractor.py:155-297, dataset_extractor.py,
  * attribute_extractor.py, metric_extractor.py, extractor_helpers.py),
  * written once. A step is a pure function of one parsed page, the
  * indexes and the request's fields; it returns the entity values that
  * page decides plus the follow-up targets (the pages the cascade reads
  * next). Both physical plans only drive these steps: [[MstrEngine]]
  * recurses into the targets against a broadcast corpus, and
  * [[MstrJoinPipeline]] ships them as the next pass's requests. The
  * plans differ in how pages meet requests, never in what a page means.
  *
  * Deterministic divergence from the reference (documented, SURVEY.md
  * §7.4.4): datasets with no recoverable id get
  * `upper(md5(relatorioId + ":" + name))` instead of `uuid4()`.
  */
private[mstr] object MstrSteps {

  // ---- shared helpers ----

  /** The url-basename rule: a corpus page's file name is the last
    * segment of its url.
    */
  def basename(url: String): String = url.substring(url.lastIndexOf('/') + 1)

  private def joinPath(file: String, anchor: String): String =
    if (anchor.nonEmpty) s"$file#$anchor" else file

  private def pathOf(l: LinkResult): String = joinPath(l.file, l.anchor)

  def splitPath(p: String): (String, String) = {
    val parts = p.split("#", 2)
    (parts(0), if (parts.length > 1) parts(1) else "")
  }

  private def guid(seed: String): String = TextOps.md5HexUpper(seed)

  /** An attribute's or metric's id: its anchor, else its file's stem. */
  private def idOf(file: String, anchor: String): String =
    if (anchor.nonEmpty) anchor else file.replace(".html", "").replace("_1", "")

  private def anchorOpt(anchor: String): Option[String] = Some(anchor).filter(_.nonEmpty)

  /** A documento-index link's report id (its href anchor; empty = no report). */
  def reportIdOf(href: String): String = Soup.splitHref(href)._2

  // ---- report (report_extractor.py:155-297) ----

  final case class ReportStep(filePath: String, owner: Option[Owner],
                              acl: List[AccessControlEntry],
                              datasets: List[(String, Option[String])])

  /** Owner and ACL resolution plus the report's (name, id) dataset list. */
  def report(soup: Soup, idx: MstrIndexes, loc: MstrLocale, file: String,
             name: String, reportId: String): ReportStep = {
    val anchor = Some(reportId)
    val owner = MstrParsers.extractOwnerName(soup, loc, anchor).map { on =>
      idx.pasta.findByName(on) match {
        case Some(l) => Owner(on, l.anchor, pathOf(l), Some(l.name), Some("owner"))
        case None    => Owner(on, "", "", None, Some("owner"))
      }
    }
    val acl = MstrParsers.extractAccessRows(soup, loc, anchor).map { case (user, access) =>
      idx.pasta.findByName(user).orElse(idx.pasta.findUserByParenthesizedName(user)) match {
        case Some(l) =>
          AccessControlEntry(user, access, Some(l.name), Some(l.anchor), Some(pathOf(l)))
        case None => AccessControlEntry(user, access, None, None, None)
      }
    }
    val datasets = MstrParsers.extractDatasetsFromReport(soup, loc, name, anchor)
      .map { case (n, id, _) => (n, id) }
    ReportStep(s"$file#$reportId", owner, acl, datasets)
  }

  // ---- dataset (dataset_extractor.py:21-143) ----

  /** A dataset whose content page must be read: `path` is the resolved
    * `file#anchor`, `file` its page.
    */
  final case class DsTarget(name: String, id: String, path: String, file: String,
                            source: String)

  /** Index-only routing: an unresolved dataset is terminal (empty, with
    * the deterministic fallback id), so is a Shortcut; anything else
    * targets its content page.
    */
  def routeDataset(idx: MstrIndexes, reportId: String, name: String,
                   idOpt: Option[String]): Either[DataSet, DsTarget] = {
    val id0 = idOpt.getOrElse("")
    MstrIndexes.resolveDatasetLink(idx, anchorOpt(id0), Some(name)) match {
      case None =>
        val id = if (id0.nonEmpty) id0 else guid(s"$reportId:$name")
        Left(DataSet(name, id, "", reportId, Some(""), None, Nil, Nil))
      case Some((path, source)) =>
        val (file, anchor) = splitPath(path)
        val id =
          if (id0.nonEmpty) id0 else if (anchor.nonEmpty) anchor else guid(s"$reportId:$name")
        if (source == "Shortcut")
          Left(DataSet(name, id, path, reportId, Some("Shortcut"), None, Nil, Nil))
        else Right(DsTarget(name, id, path, file, source))
    }
  }

  final case class AttrTarget(official: String, nameOnDataset: String, path: String)
  final case class MetricTarget(name: String, path: String, idOpt: Option[String])

  /** A dataset page's own fields and its template objects: attribute
    * targets (unresolved links drop), and per metric link either a
    * target or, when the index lacks it, the embedded `DerivedMetric`
    * node (report_extractor.py:263-285).
    */
  final case class DatasetStep(applicationObject: Option[String], graphic: Option[String],
                               attributes: List[AttrTarget],
                               metrics: List[Either[Metrica, MetricTarget]])

  def datasetPage(soup: Soup, idx: MstrIndexes, loc: MstrLocale, name: String,
                  id: String, source: String): DatasetStep = {
    val (appObject, graphic, (attrs, metrics)) =
      if (MstrParsers.isReportDataset(soup, loc, id))
        (Some("Report"), MstrParsers.extractGraphicType(soup, loc, id),
          MstrParsers.extractTemplateObjectsReport(soup, loc, id))
      else
        (if (source == "CuboInteligente") Some("CuboInteligente") else None, None,
          MstrParsers.extractTemplateObjects(soup, loc, name, Some(id)))
    DatasetStep(appObject, graphic,
      attrs.flatMap { a =>
        idx.atributo.findLink(a.id, Some(a.nameOnDataset))
          .map(l => AttrTarget(l.name, a.nameOnDataset, pathOf(l)))
      },
      metrics.map { m =>
        idx.metrica.findMetricLink(m.nameOnDataset, m.id) match {
          case Some(l) =>
            val metricId = if (l.anchor.nonEmpty) Some(l.anchor) else m.id
            Right(MetricTarget(l.name, pathOf(l), metricId))
          case None =>
            Left(Metrica(m.nameOnDataset, m.id.getOrElse(""), m.href, id, "embedded",
              Some("DerivedMetric"), None, None, None, Nil))
        }
      })
  }

  // ---- attribute (attribute_extractor.py:20-115) ----

  def attribute(soup: Soup, idx: MstrIndexes, loc: MstrLocale, official: String,
                nameOnDataset: String, file: String, anchor: String,
                datasetId: String): Atributo = {
    val id = idOf(file, anchor)
    val forms = MstrParsers.extractAttributeForms(soup, loc, anchorOpt(anchor)).map {
      case (formName, lts) =>
        val resolved = lts.map { lt =>
          val link = idx.tabelaLogica.findLink(Some(lt.id), Some(lt.name))
          lt.copy(filePath = link.map(pathOf).orElse(lt.filePath))
        }
        Formulario(guid(s"${id}_$formName"), formName, resolved)
    }
    Atributo(official, nameOnDataset, id, joinPath(file, anchor), datasetId,
      Some("Atributo"), forms)
  }

  // ---- metric (metric_extractor.py:23-134, extractor_helpers.py) ----

  /** The id a metric request is cycle-checked and recorded on its branch
    * path under (extractor_helpers.py:19-38): the link's id, else the
    * path anchor; None when both are empty.
    */
  def pathId(idOpt: Option[String], anchor: String): Option[String] =
    Some(idOpt.getOrElse(anchor)).filter(_.nonEmpty)

  final case class FactTarget(file: String, anchor: String)

  /** `node` has no children; a composite's children are `children`, a
    * simple metric's fact page is `fact` (its `node.fact` holds the
    * FactRef with empty `logicTables` until that page is read — a
    * missing fact page keeps it so).
    */
  final case class MetricStep(node: Metrica, children: List[MetricTarget],
                              fact: Option[FactTarget])

  /** One metric page. A composite's children are its child ids that
    * resolve in the metric index, minus the ids on the branch path
    * (`onPath` includes this metric's own [[pathId]]). The ids arrive
    * first-wins deduplicated (the parser's order-preserving dedup,
    * metric_parser.py:239-304), so no id is expanded twice; a child
    * whose page is missing drops when its page is read.
    */
  def metric(soup: Soup, idx: MstrIndexes, loc: MstrLocale, name: String,
             file: String, anchor: String, datasetId: String,
             onPath: String => Boolean): MetricStep = {
    val defn = MstrParsers.extractMetricDefinition(soup, loc, name, anchorOpt(anchor))
    val tipo = if (defn.tipo.nonEmpty) defn.tipo else "simples"
    def node(function: Option[FunctionRef], fact: Option[FactRef]): Metrica =
      Metrica(name, idOf(file, anchor), joinPath(file, anchor), datasetId, tipo,
        Some("Metrica"), defn.formula, function, fact, Nil)
    if (tipo == "composto") {
      val children = defn.childMetricIds.filterNot(onPath).flatMap { cid =>
        idx.metrica.findMetricLink("", Some(cid))
          .map(l => MetricTarget(l.name, pathOf(l), Some(cid)))
      }
      MetricStep(node(None, None), children, None)
    } else {
      val function = defn.functionId.flatMap { fid =>
        idx.funcao.findById(fid).map(l => FunctionRef(l.name, fid, pathOf(l)))
      }
      val fact = defn.factId.flatMap { fid =>
        idx.fato.findLink(Some(fid), None).map { l =>
          val path = pathOf(l)
          val (factFile, factAnchor) = splitPath(path)
          (FactRef(l.name, if (path.contains("#")) factAnchor else fid, path, Nil),
            FactTarget(factFile, factAnchor))
        }
      }
      MetricStep(node(function, fact.map(_._1)), Nil, fact.map(_._2))
    }
  }

  // ---- fact (fact_parser.py) ----

  def factTables(soup: Soup, idx: MstrIndexes, loc: MstrLocale,
                 anchor: String): List[LogicTable] =
    MstrParsers.extractFactLogicTables(soup, loc, anchorOpt(anchor)).map { lt =>
      lt.copy(filePath = idx.tabelaLogica.findLink(Some(lt.id), Some(lt.name)).map(pathOf))
    }
}
