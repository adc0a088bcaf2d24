package graft.mstr

import scala.collection.mutable

/** Row-local entity assembly mirroring the reference's extractor
  * orchestration (report_extractor.py:155-297, dataset_extractor.py,
  * metric_extractor.py, attribute_extractor.py, extractor_helpers.py):
  * a recursive driver over the [[MstrSteps]], which hold every entity
  * decision.
  *
  * Runs inside `mapPartitions` on the executors: `indexes` is the
  * broadcast dimension set, `files` resolves content-file names to
  * parsed trees (broadcast html + per-executor lazy parse cache — the
  * analog of the reference's global parse cache, which Spark makes
  * unnecessary as shared mutable state).
  */
final class MstrEngine(indexes: MstrIndexes, files: String => Option[Soup],
                       locale: MstrLocale) extends Serializable {

  /** Caches are strictly recompute-equivalent: a hit returns exactly
    * what recomputation would, so output is independent of partitioning
    * and of which report populated the cache, and the broadcast plan
    * stays byte-identical to the per-request join plan
    * ([[MstrJoinPipeline]]).
    *
    * Documented divergence from the reference: its global caches are
    * extraction-ORDER-dependent — attribute_extractor.py:35 keys only
    * `dataset_id:name`, so a re-aliased attribute is served the first
    * alias's `name_on_dataset`; metric_extractor.py:128 caches
    * composites that were cycle-truncated under the CALLER's visited
    * set and serves them in unrelated contexts. We key attributes on
    * the full input tuple and only cache/serve metrics computed from an
    * empty visited context (i.e. full expansions), which is what the
    * reference produces when extraction order doesn't happen to
    * interleave aliases/cycles.
    */
  private val metricCache = mutable.Map.empty[String, Metrica]
  private val attributeCache = mutable.Map.empty[String, Atributo]

  def extractAllReports(): List[Relatorio] =
    indexes.documento.links.flatMap(extractReport).toList

  def extractReport(info: LinkResult): Option[Relatorio] = {
    val reportId = MstrSteps.reportIdOf(info.href)
    if (reportId.isEmpty) None
    else files(info.file).map { soup =>
      val r = MstrSteps.report(soup, indexes, locale, info.file, info.name, reportId)
      val datasets = r.datasets.flatMap { case (dsName, dsId) =>
        extractDataset(dsName, dsId, reportId)
      }
      Relatorio(info.name, reportId, r.filePath, datasets, r.owner, r.acl)
    }
  }

  def extractDataset(dsName: String, dsIdOpt: Option[String],
                     relatorioId: String): Option[DataSet] =
    MstrSteps.routeDataset(indexes, relatorioId, dsName, dsIdOpt) match {
      case Left(terminal) => Some(terminal)
      case Right(t) =>
        // a missing dataset file drops the dataset (the reference returns None)
        files(t.file).map { soup =>
          val d = MstrSteps.datasetPage(soup, indexes, locale, t.name, t.id, t.source)
          val atributos = d.attributes.flatMap { a =>
            extractAttribute(a.official, a.nameOnDataset, a.path, t.id)
          }
          val metricas = d.metrics.flatMap {
            case Left(embedded) => Some(embedded)
            case Right(m) => extractMetric(m.name, m.path, t.id, m.idOpt, mutable.Set.empty)
          }
          DataSet(t.name, t.id, t.path, relatorioId, d.applicationObject, d.graphic,
            atributos, metricas)
        }
    }

  def extractAttribute(officialName: String, nameOnDataset: String,
                       attrFilePath: String, datasetId: String): Option[Atributo] = {
    val cacheKey = s"$datasetId:$officialName:$nameOnDataset:$attrFilePath"
    attributeCache.get(cacheKey).orElse {
      val (fileName, anchor) = MstrSteps.splitPath(attrFilePath)
      files(fileName).map { soup =>
        val a = MstrSteps.attribute(soup, indexes, locale, officialName, nameOnDataset,
          fileName, anchor, datasetId)
        attributeCache(cacheKey) = a
        a
      }
    }
  }

  private def rebindDataset(m: Metrica, dsId: String): Metrica =
    m.copy(datasetId = dsId, metricas = m.metricas.map(rebindDataset(_, dsId)))

  /** `visited` is the branch path: each composite child expands under
    * its own copy (extractor_helpers.py:202-252).
    */
  def extractMetric(metricName: String, metricFilePath: String, datasetId: String,
                    metricIdOpt: Option[String],
                    visited: mutable.Set[String]): Option[Metrica] = {
    val (fileName, anchor) = MstrSteps.splitPath(metricFilePath)
    val pathId = MstrSteps.pathId(metricIdOpt, anchor)
    if (pathId.exists(visited.contains)) None
    else {
      // A result is a pure function of (name, path, id) ONLY when computed
      // from an empty visited context; composite expansions under a
      // non-empty set may be cycle-truncated by the caller's ancestry, so
      // those are neither cached nor served from cache (see class doc).
      val entryVisitedEmpty = visited.isEmpty
      pathId.foreach(visited += _)
      val cacheKey = s"${pathId.getOrElse(datasetId)}:$metricName:$metricFilePath"
      // rebind dataset_id on hit RECURSIVELY: recomputation threads the
      // current datasetId through every child, so a top-only rebind
      // (the reference's, extractor_helpers.py:56-77) would leave the
      // populating dataset's id on nested nodes whenever one composite
      // is shared by two datasets — order-dependent, and diverging from
      // the join plan's assembly (which binds every node to the current
      // dataset). Deep rebind keeps the cache strictly
      // recompute-equivalent (class doc; EngineCacheSpec).
      val hit =
        if (entryVisitedEmpty) metricCache.get(cacheKey).map(rebindDataset(_, datasetId))
        else None
      val out = hit.orElse(files(fileName).map { soup =>
        val s = MstrSteps.metric(soup, indexes, locale, metricName, fileName, anchor,
          datasetId, visited.contains)
        // a missing fact page keeps the FactRef with empty logicTables
        val tables = s.fact.flatMap { t =>
          files(t.file).map(MstrSteps.factTables(_, indexes, locale, t.anchor))
        }
        val fact = s.node.fact.map(f => tables.fold(f)(ts => f.copy(logicTables = ts)))
        val children = s.children.flatMap { c =>
          extractMetric(c.name, c.path, datasetId, c.idOpt, visited.clone())
        }
        val metrica = s.node.copy(fact = fact, metricas = children)
        if (entryVisitedEmpty) metricCache(cacheKey) = metrica
        metrica
      })
      pathId.foreach(visited -= _)
      out
    }
  }
}
