package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.MstrCorpus
import graft.mstr.{MstrEngine, MstrJoinPipeline, MstrLocale, MstrPipeline, Soup}

/** The engine caches must be recompute-equivalent: a hit returns exactly
  * what recomputation would, so the broadcast plan's output is
  * independent of partitioning and byte-identical to the per-request
  * join plan. The two historic failure modes (attribute cache ignoring
  * name_on_dataset; metric cache serving cycle-truncated composites —
  * both present in the reference's ORDER-dependent global caches,
  * attribute_extractor.py:35 / metric_extractor.py:128) are pinned here.
  */
class EngineCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def engineFor(corpus: Map[String, String]): MstrEngine = {
    val loc = MstrLocale.ptBR
    val idx = MstrPipeline.buildIndexes(corpus, loc)
    new MstrEngine(idx, name => corpus.get(name).map(Soup.parse), loc)
  }

  private def dualPlanEqual(corpus: Map[String, String]): Unit = {
    import spark.implicits._
    val pages = MstrCorpus.pagesOf(corpus)
    val p1 = MstrPipeline.run(spark, pages, "pt-BR", numPartitions = 1)._1
      .collect().map(r => r.report_id -> r.json).toMap
    val p3 = MstrPipeline.run(spark, pages, "pt-BR", numPartitions = 3)._1
      .collect().map(r => r.report_id -> r.json).toMap
    assert(p1 == p3, "broadcast plan must be partition-invariant")
    val viaJoin = MstrJoinPipeline.run(spark,
      spark.createDataset(pages).repartition(4), "pt-BR")
      .collect().map(r => r.report_id -> r.json).toMap
    assert(viaJoin == p1, "join plan must match the broadcast plan")
  }

  private def ph(id: String) = "[" + "$" * 4 + id + "$" * 4 + "]"
  private val lojaLink =
    s"""<a href="Atributo_1.html#${ph(MstrCorpus.LOJAID)}">Loja</a>"""
  private val cicloALink =
    s"""<a href="Metrica_1.html#${ph(MstrCorpus.CICLOAID)}">Ciclo A</a>"""

  test("re-aliased attribute keeps each alias's name_on_dataset (no cache bleed)") {
    // an id-less template link resolves through the NORMALIZED name leg
    // (link_resolver.py:89-183): "Lôja" → official "Loja" — the same
    // attribute lands on the dataset twice under two name_on_dataset
    // aliases, which the id seen-set (metric_parser.py:434) cannot dedup
    val aliased = lojaLink +
      s"""\n        <a href="Atributo_1.html">Lôja</a>"""
    val base = MstrCorpus.cuboContentHtml
    assert(base.contains(lojaLink), "fixture surgery anchor moved")
    val corpus = MstrCorpus.corpus.updated("Cubo_1.html", base.replace(lojaLink, aliased))

    val reports = engineFor(corpus).extractAllReports()
    val cubo = reports.flatMap(_.datasets).find(_.name == "Cubo Vendas").get
    assert(cubo.atributos.map(_.nameOnDataset) == List("Loja", "Lôja"))
    assert(cubo.atributos.map(_.id).distinct == List(MstrCorpus.LOJAID))
    // both aliases resolve the same forms (same underlying attribute)
    assert(cubo.atributos.map(_.formularios.map(_.name)).distinct.size == 1)

    dualPlanEqual(corpus)
  }

  test("top-level composite in a cycle gets its full expansion, not a truncated cache entry") {
    // "Mês Atual" lists Ciclo A then Ciclo B: expanding A first computes
    // B under visited={A} (B's child A truncated); the later TOP-LEVEL B
    // must not be served that truncated entry.
    val withB = cicloALink +
      s"""\n        <a href="Metrica_1.html#${ph(MstrCorpus.CICLOBID)}">Ciclo B</a>"""
    val base = MstrCorpus.cuboContentHtml
    assert(base.contains(cicloALink), "fixture surgery anchor moved")
    val corpus = MstrCorpus.corpus.updated("Cubo_1.html", base.replace(cicloALink, withB))

    val reports = engineFor(corpus).extractAllReports()
    val mes = reports.flatMap(_.datasets).find(_.id == MstrCorpus.MESID).get
    val topA = mes.metricas.find(_.id == MstrCorpus.CICLOAID).get
    val topB = mes.metricas.find(_.id == MstrCorpus.CICLOBID).get
    // full expansion one level deep each, truncating only at the cycle
    assert(topA.metricas.map(_.id) == List(MstrCorpus.CICLOBID))
    assert(topA.metricas.head.metricas.isEmpty)
    assert(topB.metricas.map(_.id) == List(MstrCorpus.CICLOAID),
      "top-level Ciclo B must recompute, not reuse the entry truncated under visited={A}")
    assert(topB.metricas.head.metricas.isEmpty)

    dualPlanEqual(corpus)
  }

  test("composite shared by two datasets rebinds dataset_id on every node, not just the top") {
    // "Margem" (composite: Receita Total / Custo) is listed on Cubo
    // Vendas, which populates the metric cache; adding it to Mês Atual
    // serves it from cache. Recomputation threads the CURRENT dataset id
    // through every child, so the cache hit must too — a top-only rebind
    // (the reference's) leaves CUBOID on the nested nodes.
    val margemLink =
      s"""<a href="Metrica_1.html#${ph(MstrCorpus.MARGEMID)}">Margem</a>"""
    val shared = cicloALink + s"\n        $margemLink"
    val base = MstrCorpus.cuboContentHtml
    assert(base.contains(cicloALink), "fixture surgery anchor moved")
    val corpus = MstrCorpus.corpus.updated("Cubo_1.html", base.replace(cicloALink, shared))

    val reports = engineFor(corpus).extractAllReports()
    def margemUnder(dsId: String): graft.mstr.Metrica =
      reports.flatMap(_.datasets).find(_.id == dsId).get
        .metricas.find(_.id == MstrCorpus.MARGEMID).get
    def allDsIds(m: graft.mstr.Metrica): Seq[String] =
      m.datasetId +: m.metricas.flatMap(allDsIds)
    val onCubo = margemUnder(MstrCorpus.CUBOID)
    val onMes = margemUnder(MstrCorpus.MESID)
    assert(onCubo.metricas.nonEmpty, "fixture lost the composite expansion")
    assert(allDsIds(onCubo).distinct == List(MstrCorpus.CUBOID))
    assert(allDsIds(onMes).distinct == List(MstrCorpus.MESID),
      "cache-served composite must rebind dataset_id recursively (recompute-equivalence)")

    dualPlanEqual(corpus)
  }

  test("composite children: a repeated child id expands once, a child with no page drops") {
    // Margem lists Custo a second time, and Custo's page is gone: the
    // repeat must not expand again (first-wins per id) and the missing
    // child must drop in both plans, whatever gates the first-wins set
    val custoLink = """<img src="images/Metric.bmp">""" +
      s"""<a href="MetricaCUSTO_1.html#${ph(MstrCorpus.CUSTOID)}">Custo</a>"""
    val base = MstrCorpus.margemHtml
    assert(base.contains(custoLink), "fixture surgery anchor moved")
    val margem = base.replace(custoLink, s"$custoLink / $custoLink")
    val corpus = (MstrCorpus.corpus - "MetricaCUSTO_1.html").updated("MetricaMARGEM_1.html", margem)

    val reports = engineFor(corpus).extractAllReports()
    val onCubo = reports.flatMap(_.datasets).find(_.id == MstrCorpus.CUBOID).get
    val top = onCubo.metricas.find(_.id == MstrCorpus.MARGEMID).get
    assert(top.tipo == "composto")
    assert(top.metricas.map(_.id) == List(MstrCorpus.RECTOTID),
      "the repeated Receita Total expands once and the page-less Custo drops")
    dualPlanEqual(corpus)
  }
}

