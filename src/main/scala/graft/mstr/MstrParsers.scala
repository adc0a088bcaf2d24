package graft.mstr

import graft.text.TextOps
import scala.collection.mutable.ArrayBuffer

/** Row-local section/table/entity parsers re-expressing the reference's
  * extraction semantics over the TagTree (SURVEY.md §2.4-2.7). Every
  * bounded scan, first-match break, and dedup order is preserved
  * exactly — they change results (SURVEY.md §4 "bounded scans").
  *
  * References (file:line) are to /root/reference/src/microstrategy_extractor.
  */
object MstrParsers {
  import Soup.{idFromPlaceholder, splitHref}

  /** Section handle: a node index within a Soup. */
  type Node = Int

  private def hasSectionHeaderClass(s: Soup, i: Node): Boolean = {
    // reference checks `SECTIONHEADER in str(tag.get('class', []))` — a
    // substring test on the class list's string form (metric_parser.py:84)
    val v = s.t.attr(i, "class")
    v != null && v.contains("SECTIONHEADER")
  }

  /** find_object_section (base_parser.py:85-128): anchor → enclosing tr;
    * else `[OBJECT: name]` comment → enclosing table's parent table (or
    * the table itself). Returns node index or -1.
    */
  def findObjectSection(s: Soup, objectName: String, anchor: Option[String]): Node = {
    anchor.filter(_.nonEmpty).foreach { a =>
      val at = s.findAnchor(a)
      if (at >= 0) {
        val tr = s.findParent(at, "tr")
        if (tr >= 0) return tr
        // no tr ancestor → fall through to comment search (parent walk
        // reaching None in the reference)
      }
    }
    val marker1 = s"[OBJECT: $objectName]"
    val marker2 = s"[OBJECT: $objectName "
    for (c <- s.comments()) {
      val text = s.t.text(c)
      if (text != null && (text.contains(marker1) || text.contains(marker2))) {
        val table = s.findParent(c, "table")
        if (table >= 0) {
          val outer = s.findParent(table, "table")
          return if (outer >= 0) outer else table
        }
      }
    }
    -1
  }

  /** extract_report_links (report_parser.py:19-48): all MAINBODY links. */
  def extractIndexLinks(s: Soup): IndexedSeq[LinkResult] = {
    val out = ArrayBuffer.empty[LinkResult]
    for (a <- s.findAllNext(-1, "a") if s.t.hasClass(a, "MAINBODY")) {
      val href = s.attr(a, "href")
      val text = s.textStrip(a)
      if (text.nonEmpty && href.nonEmpty) {
        val (file, anchor) = splitHref(href)
        val pid = idFromPlaceholder(href)
        out += LinkResult(text, file,
          if (anchor.nonEmpty) anchor else pid.getOrElse(""),
          href, pid.getOrElse(anchor))
      }
    }
    out.toIndexedSeq
  }

  /** extract_datasets_from_report (report_parser.py:131-205). */
  def extractDatasetsFromReport(s: Soup, loc: MstrLocale, objectName: String,
                                anchor: Option[String]): List[(String, Option[String], String)] = {
    val section = findObjectSection(s, objectName, anchor)
    if (section < 0) return Nil
    val datasets = ArrayBuffer.empty[(String, Option[String], String)]
    val tds = s.findAllIn(section, "td")
    var done = false
    for (td <- tds if !done) {
      if (s.textStrip(td).contains(loc.documentDefinition)) {
        val nextTable = s.findNext(td, "table")
        if (nextTable >= 0) {
          for (a <- s.findAllIn(nextTable, "a")) {
            val href = s.attr(a, "href")
            val name = s.textStrip(a)
            if (name.nonEmpty && href.nonEmpty) {
              datasets += ((TextOps.fixCommonAccents(name), idFromPlaceholder(href), href))
            }
          }
          if (datasets.isEmpty) {
            // "Datasets:" row with comma-separated names (no links)
            var rowDone = false
            for (tr <- s.findAllIn(nextTable, "tr") if !rowDone) {
              val cells = s.findAllIn(tr, "td")
              if (cells.length >= 2 &&
                s.textStrip(cells(0)).toLowerCase(java.util.Locale.ROOT) == "datasets:") {
                val raw = s.t.textRaw(cells(1))
                raw.split(",").map(TextOps.stripPy).filter(_.nonEmpty).foreach { nm =>
                  datasets += ((TextOps.fixCommonAccents(nm), None, ""))
                }
                rowDone = true
              }
            }
          }
        }
        done = true // only first DOCUMENT DEFINITION
      }
    }
    datasets.toList
  }

  /** is_report_dataset (report_parser.py:311-333). */
  def isReportDataset(s: Soup, loc: MstrLocale, anchor: String): Boolean = {
    val section = findObjectSection(s, "", Some(anchor))
    if (section < 0) return false
    s.findAllIn(section, "img").exists(img => s.attr(img, "src").contains(loc.viewReportImg))
  }

  /** extract_graphic_type (report_parser.py:336-397): bounded 2000-element
    * forward scan, stop at next anchor, 3<len(value)<50.
    */
  def extractGraphicType(s: Soup, loc: MstrLocale, anchor: String): Option[String] = {
    val anchorTag = s.findAnchor(anchor)
    if (anchorTag < 0) return None
    var found = false
    var current = anchorTag
    var steps = 0
    while (steps < 2000) {
      steps += 1
      current = nextElem(s, current)
      if (current < 0) return None
      if (s.t.name(current) == "a" && s.attr(current, "name").nonEmpty &&
        s.attr(current, "name") != anchor) return None
      if (s.t.name(current) == "td") {
        val text = s.textStrip(current)
        val textNorm = TextOps.forComparison(text)
        if (text == loc.opcoesGrafico || textNorm == loc.opcoesGraficoNorm) {
          found = true
        } else if (found || textNorm.contains(loc.opcoesGraficoNorm)) {
          val row = s.t.parent(current)
          if (row >= 0 && s.t.isElem(row) && s.t.name(row) == "tr") {
            val cells = s.findAllIn(row, "td")
            if (cells.length >= 2) {
              val headerNorm = TextOps.forComparison(s.textStrip(cells(0)))
                .toLowerCase(java.util.Locale.ROOT)
              // tipo+grafico replicates the reference's hardcoded check
              // (report_parser.py:389); the locale's tipoGrafico
              // token is honored as documented per-locale — the same
              // deliberate i18n divergence as the metric-type and
              // template-header matches above
              val tipoGraficoNorm = TextOps.forComparison(loc.tipoGrafico)
                .toLowerCase(java.util.Locale.ROOT)
              if ((headerNorm.contains("tipo") && headerNorm.contains("grafico")) ||
                headerNorm.contains(tipoGraficoNorm)) {
                val value = s.textStrip(cells(1))
                if (value.nonEmpty && value.length > 3 && value.length < 50) return Some(value)
              }
            }
          }
        }
      }
    }
    None
  }

  /** next element (tag) in parse order — BS `find_next()` no-args. */
  private def nextElem(s: Soup, i: Node): Node = {
    var j = i + 1
    while (j < s.n && !s.t.isElem(j)) j += 1
    if (j < s.n) j else -1
  }

  // --------------------------------------------------------------------
  // Template objects (metric_parser.py:367-552)
  // --------------------------------------------------------------------

  private def findTemplateTable(s: Soup, loc: MstrLocale, section: Node): Node = {
    for (td <- s.findAllIn(section, "td")) {
      val text = s.textStrip(td)
      if (text.contains(loc.objetosRelatorio) || text.contains("OBJETOS DE TEMPLATE")) {
        var current = td
        var idx = 0
        while (idx < 10) {
          val nextTable = s.findNext(current, "table")
          if (nextTable >= 0) {
            val headerRow = s.findIn(nextTable, "tr")
            if (headerRow >= 0) {
              val headers = s.findAllIn2(headerRow, "td", "th").map(s.textStrip)
              val headerText = headers.take(10).mkString(" ").toUpperCase(java.util.Locale.ROOT)
              // the reference hardcodes the Portuguese OBJETOS DO RELAT
              // here (metric_parser.py:394) even though its i18n module
              // defines objetos_relatorio per locale (i18n/en_us.py:48
              // "REPORT OBJECTS") — so its en-US template detection
              // never fires. We keep the Portuguese containment for
              // byte-identical pt-BR behavior AND honor the locale
              // token (documented divergence, same as the tipo row).
              val hasObjetos = headerText.contains("OBJETOS DO RELAT") ||
                headerText.contains("OBJETOS DO RELATORIO") ||
                headerText.contains(
                  loc.objetosRelatorio.toUpperCase(java.util.Locale.ROOT))
              if (hasObjetos && headerText.contains(loc.linhas) &&
                headerText.contains(loc.colunas)) return nextTable
            }
            current = nextTable
          }
          idx += 1
        }
      }
    }
    -1
  }

  private def linksFromTemplateCell(s: Soup, cell: Node,
                                    seen: scala.collection.mutable.Set[String]): List[TemplateObjectRef] = {
    val out = ArrayBuffer.empty[TemplateObjectRef]
    for (a <- s.findAllIn(cell, "a")) {
      val name = s.textStrip(a)
      val href = s.attr(a, "href")
      if (name.nonEmpty) {
        val id = idFromPlaceholder(href)
        id match {
          case Some(i) if !seen.contains(i) =>
            seen += i
            out += TemplateObjectRef(name, href, id)
          case None =>
            out += TemplateObjectRef(name, href, None)
          case _ => // seen duplicate: skip (metric_parser.py:434)
        }
      }
    }
    out.toList
  }

  /** extract_template_objects (metric_parser.py:495-552). */
  def extractTemplateObjects(s: Soup, loc: MstrLocale, objectName: String,
                             anchor: Option[String]): (List[TemplateObjectRef], List[TemplateObjectRef]) = {
    val section = findObjectSection(s, objectName, anchor)
    if (section < 0) return (Nil, Nil)
    val templateTable = findTemplateTable(s, loc, section)
    if (templateTable < 0) return (Nil, Nil)
    val headerRow = s.findIn(templateTable, "tr")
    if (headerRow < 0) return (Nil, Nil)
    var dataRow = s.nextSibling(headerRow, "tr")
    if (dataRow < 0) {
      for (row <- s.findAllIn(templateTable, "tr") if dataRow < 0 && row != headerRow) {
        val cells = s.childrenNamed(row, "td")
        if (cells.length == 4 &&
          (s.findAllIn(cells(1), "a").nonEmpty || s.findAllIn(cells(2), "a").nonEmpty))
          dataRow = row
      }
    }
    if (dataRow < 0) return (Nil, Nil)
    val cells = s.childrenNamed(dataRow, "td")
    if (cells.length < 4) return (Nil, Nil)
    val seenAttr = scala.collection.mutable.Set.empty[String]
    val seenMetric = scala.collection.mutable.Set.empty[String]
    (linksFromTemplateCell(s, cells(1), seenAttr),
      linksFromTemplateCell(s, cells(2), seenMetric))
  }

  /** extract_template_objects_report (report_parser.py:400-486):
    * [ROWS]/[COLUMNS] comment markers; links must carry `$$$$`.
    */
  def extractTemplateObjectsReport(s: Soup, loc: MstrLocale,
                                   anchor: String): (List[TemplateObjectRef], List[TemplateObjectRef]) = {
    val section = findObjectSection(s, "", Some(anchor))
    if (section < 0) return (Nil, Nil)

    def extractAfterMarker(marker: String): List[TemplateObjectRef] = {
      val out = ArrayBuffer.empty[TemplateObjectRef]
      val (start, end) = s.t.subtree(section)
      var done = false
      for (c <- s.t.findAll(start, end)(s.t.isComment) if !done) {
        if (s.t.text(c) != null && s.t.text(c).contains(marker)) {
          // walk up to 10 elements forward to the first td
          var cur = c
          var steps = 0
          var tdDone = false
          while (steps < 10 && !tdDone) {
            cur = nextElem(s, cur)
            steps += 1
            if (cur < 0) tdDone = true
            else if (s.t.name(cur) == "td") {
              for (a <- s.findAllIn(cur, "a")) {
                val name = s.textStrip(a)
                val href = s.attr(a, "href")
                if (name.nonEmpty && href.nonEmpty && href.contains("$$$$"))
                  out += TemplateObjectRef(name, href, idFromPlaceholder(href))
              }
              tdDone = true
            }
          }
          done = true
        }
      }
      out.toList
    }

    (extractAfterMarker(loc.rowsMarker), extractAfterMarker(loc.columnsMarker))
  }

  // --------------------------------------------------------------------
  // Owner / access control (report_parser.py:489-678)
  // --------------------------------------------------------------------

  /** extract_owner (report_parser.py:489-564). Returns the raw owner name
    * found in the Proprietário row; index lookup happens in the caller.
    */
  def extractOwnerName(s: Soup, loc: MstrLocale, anchor: Option[String]): Option[String] = {
    val rows = ownerRows(s, anchor)
    for (row <- rows) {
      val cells = s.findAllIn(row, "td")
      if (cells.length >= 2 && s.textStrip(cells(0)).contains(loc.proprietario)) {
        val ownerText = s.textStrip(cells(1))
        if (ownerText.nonEmpty) return Some(TextOps.stripPy(ownerText))
        // empty value: the reference keeps scanning subsequent rows
      }
    }
    None
  }

  private def ownerRows(s: Soup, anchor: Option[String]): IndexedSeq[Node] =
    anchor.flatMap(a => Some(s.findAnchor(a)).filter(_ >= 0)) match {
      case Some(at) => s.findAllNext(at, "tr", "valign", "TOP", limit = 100)
      case None => s.findAllNext(-1, "tr", "valign", "TOP")
    }

  /** extract_access_control rows (report_parser.py:567-678): returns
    * (userName, accessLevel) pairs from the first Controle de Acesso
    * nested table; lookups happen in the caller.
    */
  def extractAccessRows(s: Soup, loc: MstrLocale, anchor: Option[String]): List[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    val rows = ownerRows(s, anchor)
    var done = false
    for (row <- rows if !done) {
      val cells = s.findAllIn(row, "td")
      if (cells.length >= 2 && s.textStrip(cells(0)).contains(loc.controleAcesso)) {
        val nested = s.findIn(cells(1), "table")
        if (nested >= 0) {
          val trs = s.findAllIn(nested, "tr")
          for (dataRow <- trs.drop(1)) {
            val dc = s.findAllIn(dataRow, "td")
            if (dc.length >= 2) {
              val userText = s.textStrip(dc(0))
              val parts = userText.split(java.util.regex.Pattern.quote("&nbsp;"))
              val userName = TextOps.stripPy(if (parts.length > 1) parts(1) else userText)
              val access = s.textStrip(dc(1))
              if (userName.nonEmpty && access.nonEmpty) out += ((userName, access))
            }
          }
        }
        done = true
      }
    }
    out.toList
  }

  // --------------------------------------------------------------------
  // Metric definition (metric_parser.py:23-360) — the trickiest parser
  // --------------------------------------------------------------------

  private def findDefinitionSection(s: Soup, loc: MstrLocale, objectName: String,
                                    anchor: Option[String]): Node = {
    val section = findObjectSection(s, objectName, anchor)
    val (saStart, saEnd) =
      if (section >= 0) s.t.subtree(section) else (0, s.n)

    var anchorTag = -1
    anchor.filter(_.nonEmpty).foreach { a =>
      anchorTag = s.t.findFirst(saStart, saEnd)(i =>
        s.t.isElem(i) && s.t.name(i) == "a" && s.t.attr(i, "name") == a)
      if (anchorTag < 0) anchorTag = s.findAnchor(a)
    }

    def defSectionsIn(from: Int, until: Int): IndexedSeq[Node] =
      s.t.findAll(from, until)(i => s.t.isElem(i) && s.t.name(i) == "table" &&
        s.t.hasClass(i, "SECTIONHEADER") &&
        TextOps.forComparison(s.textStrip(i)).contains(loc.definicaoNorm))

    var defs = defSectionsIn(saStart, saEnd)
    if (defs.isEmpty) defs = defSectionsIn(0, s.n)

    if (anchorTag >= 0 && defs.nonEmpty) {
      // first DEFINIÇÃO (SECTIONHEADER substring-class) after the anchor
      var current = anchorTag
      var going = true
      while (going) {
        current = nextElem(s, current)
        if (current < 0) going = false
        else if (s.t.name(current) == "table" && hasSectionHeaderClass(s, current) &&
          TextOps.forComparison(s.textStrip(current)).contains(loc.definicaoNorm))
          return current
      }
    }
    if (defs.nonEmpty) defs.head else -1
  }

  /** Metric-type row match is locale-aware: the Portuguese
    * TIPO+MÉTRICA containment check replicates the reference
    * (metric_parser.py:122), and the locale's own tipo_metrica token
    * (i18n/en_us.py:41 "Metric Type") is honored as the i18n module
    * documents — the reference hardcodes only the Portuguese tokens in
    * this code path despite defining tipo_metrica per locale, so its
    * en-US composite detection silently falls back to 'simples'; we
    * follow the documented i18n intent (deliberate divergence,
    * pt-BR behavior byte-identical either way).
    */
  private def extractMetricType(s: Soup, loc: MstrLocale, section: Node): Option[String] = {
    val tipoToken = loc.tipoMetrica.toUpperCase(java.util.Locale.ROOT)
    def isTipoLabel(label: String): Boolean =
      (label.contains("TIPO") &&
        (label.contains("MÉTRICA") || label.contains("METRICA"))) ||
        label.contains(tipoToken)
    var current = s.findNext(section, "table")
    while (current >= 0) {
      val rows = s.findAllIn(current, "tr")
      if (rows.nonEmpty) {
        for (row <- rows) {
          val cells = s.findAllIn2(row, "td", "th")
          if (cells.length >= 2) {
            val label = s.textStrip(cells(0)).toUpperCase(java.util.Locale.ROOT)
            val value = s.textStrip(cells(1)).toLowerCase(java.util.Locale.ROOT)
            if (isTipoLabel(label)) {
              return Some(
                if (value.contains("composto") || value.contains("composite")) "composto"
                else "simples")
            }
          }
        }
        val firstRowHasTipo = s.findAllIn2(rows.head, "td", "th")
          .exists { c =>
            val l = s.textStrip(c).toUpperCase(java.util.Locale.ROOT)
            l.contains("TIPO") || l.contains(tipoToken)
          }
        if (firstRowHasTipo) return None
      }
      val ne = nextElem(s, current)
      if (ne >= 0 && s.t.name(ne) == "table" && hasSectionHeaderClass(s, ne)) return None
      current = s.findNext(current, "table")
    }
    None
  }

  /** _extract_formula_components (metric_parser.py:143-236): formula text
    * reconstruction with seen-set dedup + paren handling + id
    * classification by preceding img.
    */
  private def extractFormulaComponents(s: Soup, loc: MstrLocale,
                                       section: Node): (Option[String], Option[String], Option[String]) = {
    var formula: Option[String] = None
    var functionId: Option[String] = None
    var factId: Option[String] = None

    var current = s.findNext(section, "table")
    var going = true
    while (going && current >= 0) {
      for (row <- s.findAllIn(current, "tr")) {
        val cells = s.findAllIn2(row, "td", "th")
        if (cells.length >= 2) {
          val labelUpper = s.textStrip(cells(0)).toUpperCase(java.util.Locale.ROOT)
          if (labelUpper.contains(loc.formula) || labelUpper.contains("FORMULA")) {
            val formulaCell = cells(1)
            val parts = ArrayBuffer.empty[String]
            val seen = scala.collection.mutable.Set.empty[String]
            var lastImg: Node = -1
            val (cs, ce) = s.t.subtree(formulaCell)
            var k = cs
            while (k < ce) {
              if (s.t.isText(k) || s.t.isComment(k)) {
                val text = TextOps.stripPy(s.t.text(k))
                if (text.nonEmpty && !seen.contains(text)) {
                  if (text == "(" || text == ")") parts += text
                  else { parts += text; seen += text }
                }
              } else if (s.t.isElem(k)) {
                val nm = s.t.name(k)
                if (nm == "img") lastImg = k
                else if (nm == "a") {
                  val linkText = s.textStrip(k)
                  if (linkText.nonEmpty && !seen.contains(linkText)) {
                    parts += linkText; seen += linkText
                  }
                  val href = s.attr(k, "href")
                  idFromPlaceholder(href).foreach { id =>
                    if (lastImg >= 0) {
                      val src = s.attr(lastImg, "src").toLowerCase(java.util.Locale.ROOT)
                      if (src.contains("function")) {
                        if (functionId.isEmpty) functionId = Some(id)
                      } else if (src.contains("fact")) {
                        if (factId.isEmpty) factId = Some(id)
                      }
                    } else {
                      if (functionId.isEmpty) functionId = Some(id)
                      else if (factId.isEmpty) factId = Some(id)
                    }
                  }
                }
              }
              k += 1
            }
            if (parts.nonEmpty) {
              val keepOps = Set("(", ")", "/", "+", "-", "*")
              val cleaned = ArrayBuffer.empty[String]
              var prev: String = null
              for (p <- parts) {
                if (p != prev || keepOps.contains(p)) cleaned += p
                prev = p
              }
              formula = Some(TextOps.cleanFormulaWhitespace(cleaned.mkString(" ")))
            }
          }
        }
      }
      val ne = nextElem(s, current)
      if (ne >= 0 && s.t.name(ne) == "table" && hasSectionHeaderClass(s, ne)) going = false
      else current = s.findNext(current, "table")
    }
    (formula, functionId, factId)
  }

  /** _extract_child_metric_ids (metric_parser.py:239-304): Metric-image
    * links in the first formula row, order-preserving dedup.
    */
  private def extractChildMetricIds(s: Soup, loc: MstrLocale, section: Node): List[String] = {
    val out = ArrayBuffer.empty[String]
    var current = s.findNext(section, "table")
    var formulaProcessed = false
    while (current >= 0 && !formulaProcessed) {
      var rowDone = false
      for (row <- s.findAllIn(current, "tr") if !rowDone) {
        val cells = s.findAllIn2(row, "td", "th")
        if (cells.length >= 2) {
          val labelUpper = s.textStrip(cells(0)).toUpperCase(java.util.Locale.ROOT)
          if (labelUpper.contains(loc.formula) || labelUpper.contains("FORMULA")) {
            for (a <- s.findAllIn(cells(1), "a")) {
              val href = s.attr(a, "href")
              if (href.contains("[$$$$")) {
                val prevImg = s.previousSiblings(a)
                  .find(p => s.t.isElem(p) && s.t.name(p) == "img")
                prevImg.foreach { img =>
                  val src = s.attr(img, "src").toLowerCase(java.util.Locale.ROOT)
                  if (src.contains(loc.metricImg.toLowerCase(java.util.Locale.ROOT))) {
                    idFromPlaceholder(href).foreach { id =>
                      if (!out.contains(id)) out += id
                    }
                  }
                }
              }
            }
            formulaProcessed = true
            rowDone = true
          }
        }
      }
      if (!formulaProcessed) {
        current = s.findNext(current, "table")
        if (current >= 0) {
          val ne = nextElem(s, current)
          if (ne >= 0 && s.t.name(ne) == "table" && hasSectionHeaderClass(s, ne)) {
            formulaProcessed = true // break (metric_parser.py:299-300)
          }
        }
      }
    }
    out.toList
  }

  /** extract_metric_definition (metric_parser.py:307-360). */
  def extractMetricDefinition(s: Soup, loc: MstrLocale, objectName: String,
                              anchor: Option[String]): MetricDefinition = {
    val section = findDefinitionSection(s, loc, objectName, anchor)
    if (section < 0)
      return MetricDefinition("simples", None, None, None, Nil)
    val tipo = extractMetricType(s, loc, section).getOrElse("simples")
    val (formula, functionId, factId) = extractFormulaComponents(s, loc, section)
    val children =
      if (tipo == "composto") extractChildMetricIds(s, loc, section) else Nil
    MetricDefinition(tipo, formula, functionId, factId, children)
  }

  // --------------------------------------------------------------------
  // Attribute forms (attribute_parser.py:19-268)
  // --------------------------------------------------------------------

  /** extract_attribute_forms: forms between this attribute's anchor and
    * the next 32-hex anchor; form anchors carry '_'.
    */
  def extractAttributeForms(s: Soup, loc: MstrLocale,
                            anchor: Option[String]): List[(String, List[LogicTable])] = {
    val anchorTag = anchor.filter(_.nonEmpty).map(s.findAnchor).getOrElse(-1)
    if (anchor.exists(_.nonEmpty) && anchorTag < 0) return Nil

    // all attribute anchors: name is 32 hex chars, no underscore
    val allAttrAnchors = s.findAllNext(-1, "a").filter { a =>
      val nm = s.attr(a, "name")
      nm.length == 32 && !nm.contains("_") && Soup.Hex32.findFirstIn(nm).isDefined
    }
    val nextAnchor: Node = {
      val idx = allAttrAnchors.indexOf(anchorTag)
      if (idx >= 0 && idx + 1 < allAttrAnchors.length) allAttrAnchors(idx + 1) else -1
    }

    // DETALHES DOS FORMULÁRIOS section within 20 SECTIONHEADER tables
    var sectionTable: Node = -1
    if (anchorTag >= 0) {
      var current = s.findNextTableWithClass(anchorTag, "SECTIONHEADER")
      var attempts = 0
      val target = TextOps.forComparison(loc.detalhesFormularios)
      while (current >= 0 && attempts < 20 && sectionTable < 0) {
        if (nextAnchor >= 0 && current >= nextAnchor) {
          current = -1 // stop: passed next attribute
        } else {
          if (TextOps.forComparison(s.textStrip(current)).contains(target))
            sectionTable = current
          else {
            current = s.findNextTableWithClass(current, "SECTIONHEADER")
            attempts += 1
          }
        }
      }
    }
    if (sectionTable < 0) return Nil

    // form anchors (name contains '_') after the section table
    val formAnchors = ArrayBuffer.empty[Node]
    var cur = s.findNext(sectionTable, "a")
    var going = cur >= 0
    while (going) {
      if (nextAnchor >= 0 && cur == nextAnchor) going = false
      else {
        val nm = s.attr(cur, "name")
        if (nm.nonEmpty && nm.contains("_")) formAnchors += cur
        cur = s.findNext(cur, "a")
        if (cur < 0) going = false
        else if (nextAnchor >= 0 && cur >= nextAnchor) going = false
      }
    }

    formAnchors.flatMap(fa => extractSingleForm(s, loc, fa)).toList
  }

  private def extractSingleForm(s: Soup, loc: MstrLocale,
                                formAnchor: Node): Option[(String, List[LogicTable])] = {
    val formNameTable = s.findNext(formAnchor, "table")
    if (formNameTable < 0) return None
    val rows = s.findAllIn(formNameTable, "tr")
    if (rows.isEmpty) return None
    val firstTd = s.findIn(rows.head, "td")
    if (firstTd < 0) return None
    val bold = s.findIn(firstTd, "b")
    val formName = if (bold >= 0) s.textStrip(bold) else s.textStrip(firstTd)
    if (formName.isEmpty) return None

    val propTable = s.findNext(formNameTable, "table")
    if (propTable < 0) return None
    // nested table with EXPRESSÃO/EXPRESSION header
    var nested: Node = -1
    for (cell <- s.findAllIn(propTable, "td") if nested < 0) {
      val inner = s.findIn(cell, "table")
      if (inner >= 0) {
        val innerRows = s.findAllIn(inner, "tr")
        if (innerRows.nonEmpty) {
          val headerText = s.findAllIn2(innerRows.head, "td", "th")
            .map(s.textStrip).mkString(" ").toUpperCase(java.util.Locale.ROOT)
          if (headerText.contains(loc.expressao) || headerText.contains(loc.expression))
            nested = inner
        }
      }
    }
    if (nested < 0) return None
    Some((formName, extractLogicTablesFromForm(s, loc, nested)))
  }

  /** _extract_logic_tables_from_form (attribute_parser.py:205-268). */
  def extractLogicTablesFromForm(s: Soup, loc: MstrLocale, nested: Node): List[LogicTable] = {
    val rows = s.findAllIn(nested, "tr")
    if (rows.isEmpty) return Nil
    val headers = s.findAllIn2(rows.head, "td", "th").map(s.textStrip)
    var exprCol = -1
    var tableCol = -1
    val exprNorm = TextOps.forComparison(loc.expressao)
    val expressionNorm = TextOps.forComparison(loc.expression)
    for ((h, i) <- headers.zipWithIndex) {
      val hNorm = TextOps.forComparison(h)
      if (hNorm.contains(exprNorm) || hNorm.contains(expressionNorm)) exprCol = i
      val hu = h.toUpperCase(java.util.Locale.ROOT)
      if (hu.contains(loc.tabelasFonte) ||
        (hu.contains(loc.tabela) && hu.contains(loc.fonte))) tableCol = i
    }
    val out = ArrayBuffer.empty[LogicTable]
    for (row <- rows.drop(1)) {
      val cells = s.findAllIn2(row, "td", "th")
      val columnName: Option[String] =
        if (exprCol >= 0 && cells.length > exprCol) {
          val c = s.textStrip(cells(exprCol))
          if (c.isEmpty) None else Some(c)
        } else None
      if (tableCol >= 0 && cells.length > tableCol) {
        for (a <- s.findAllIn(cells(tableCol), "a")) {
          val name = s.textStrip(a)
          val href = s.attr(a, "href")
          if (name.nonEmpty && href.nonEmpty) {
            idFromPlaceholder(href).foreach { id =>
              out += LogicTable(name, id, None, columnName)
            }
          }
        }
      }
    }
    out.toList
  }

  // --------------------------------------------------------------------
  // Fact logic tables (fact_parser.py:23-218) + expressions (285-337)
  // --------------------------------------------------------------------

  def extractFactLogicTables(s: Soup, loc: MstrLocale, anchor: Option[String]): List[LogicTable] = {
    val anchorTag = anchor.filter(_.nonEmpty).map(s.findAnchor).getOrElse(-1)
    if (anchor.exists(_.nonEmpty) && anchorTag < 0) return Nil
    if (anchorTag < 0) return Nil
    // EXPRESSÕES section: ≤20 SECTIONHEADER tables forward
    var sectionTable = -1
    var current = s.findNextTableWithClass(anchorTag, "SECTIONHEADER")
    var attempts = 0
    while (current >= 0 && attempts < 20 && sectionTable < 0) {
      val headerNorm = TextOps.forComparison(
        s.textStrip(current).toUpperCase(java.util.Locale.ROOT))
      if (headerNorm.contains("EXPRESS")) sectionTable = current
      else {
        current = s.findNextTableWithClass(current, "SECTIONHEADER")
        attempts += 1
      }
    }
    if (sectionTable < 0) return Nil

    // data table with EXPRESSÃO + TABELAS FONTE headers
    var dataTable = -1
    var cur = s.findNext(sectionTable, "table")
    var going = cur >= 0
    while (going && dataTable < 0) {
      val rows = s.findAllIn(cur, "tr")
      if (rows.nonEmpty) {
        val headerTexts = s.findAllIn2(rows.head, "td", "th")
          .map(c => s.textStrip(c).toUpperCase(java.util.Locale.ROOT))
        var hasExpr = false
        var hasTf = false
        for (h <- headerTexts) {
          val hNorm = TextOps.forComparison(h)
          if (h.contains(loc.expressao.toUpperCase(java.util.Locale.ROOT)) ||
            hNorm.contains("EXPRESS")) hasExpr = true
          if (h.contains(loc.tabelasFonte) ||
            (h.contains(loc.tabela) && h.contains(loc.fonte))) hasTf = true
        }
        if (hasExpr && hasTf) dataTable = cur
      }
      if (dataTable < 0) {
        cur = s.findNext(cur, "table")
        if (cur < 0) going = false
        else if (hasSectionHeaderClass(s, cur)) going = false
      }
    }
    if (dataTable < 0) return Nil
    extractTableReferences(s, loc, dataTable)
  }

  /** _extract_table_references (fact_parser.py:110-178): first-wins dedup
    * by table id.
    */
  def extractTableReferences(s: Soup, loc: MstrLocale, dataTable: Node): List[LogicTable] = {
    val headerRow = s.findIn(dataTable, "tr")
    if (headerRow < 0) return Nil
    val headers = s.findAllIn2(headerRow, "td", "th").map(s.textStrip)
    var exprCol = -1
    var tableCol = -1
    for ((h, i) <- headers.zipWithIndex) {
      val hNorm = TextOps.forComparison(h)
      val hu = h.toUpperCase(java.util.Locale.ROOT)
      if (hu.contains(loc.expressao.toUpperCase(java.util.Locale.ROOT)) ||
        hNorm.contains("EXPRESS")) exprCol = i
      if (hu.contains(loc.tabelasFonte) ||
        (hu.contains(loc.tabela) && hu.contains(loc.fonte))) tableCol = i
    }
    if (tableCol < 0) return Nil
    val out = ArrayBuffer.empty[LogicTable]
    for (row <- s.findAllIn(dataTable, "tr").drop(1)) {
      val cells = s.findAllIn2(row, "td", "th")
      if (cells.length > tableCol) {
        val columnName: Option[String] =
          if (exprCol >= 0 && cells.length > exprCol) Some(s.textStrip(cells(exprCol)))
          else None
        for (a <- s.findAllIn(cells(tableCol), "a")) {
          val name = s.textStrip(a)
          val href = s.attr(a, "href")
          if (name.nonEmpty && href.nonEmpty) {
            idFromPlaceholder(href).foreach { id =>
              if (!out.exists(_.id == id))
                out += LogicTable(name, id, None, columnName)
            }
          }
        }
      }
    }
    out.toList
  }
}
