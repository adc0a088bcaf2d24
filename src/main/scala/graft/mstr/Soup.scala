package graft.mstr

import graft.html.TagTree

/** BeautifulSoup-parity traversal helpers over the pre-order TagTree.
  *
  * BS semantics that matter (all relied on by the reference parsers):
  *  - `find_next(x)` iterates parse order starting at the element's
  *    FIRST CHILD — i.e. pre-order index i+1 — so it can land inside
  *    the element itself;
  *  - `find_all(x)` on a tag searches ALL descendants (nested tables'
  *    rows included);
  *  - `find_all(..., recursive=False)` searches direct children only;
  *  - attribute filters are exact string matches on the value.
  */
final class Soup(val t: TagTree) {

  @inline def n: Int = t.size

  /** Lazily-built first-occurrence index over `<a name=...>`: the
    * giant-hot-page profile (MstrHotSkewBench, BASELINE.md round-5
    * salt section) showed the per-salt straggler floor was NOT the
    * parse but the per-request full-document [[findAnchor]] scans —
    * stage D runs 2-3 of them per request, so a 12 MiB page serving
    * thousands of requests per salt paid O(requests × nodes). One
    * O(nodes) build amortizes them all to O(1). First-put-wins ⟹
    * lookup equals the scan's first-match-in-document-order result for
    * every non-null name (incl. ""). @volatile for safe publication:
    * broadcast index soups are shared across executor task threads —
    * a race at worst builds the (identical) map twice.
    */
  @volatile private var anchorIdx: java.util.HashMap[String, Integer] = null

  /** soup.find('a', {'name': anchor}) */
  def findAnchor(anchorName: String): Int = {
    if (anchorName == null)
      return t.findFirst(0, n)(i =>
        t.isElem(i) && t.name(i) == "a" && t.attr(i, "name") == null)
    var m = anchorIdx
    if (m == null) {
      m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < n) {
        if (t.isElem(i) && t.name(i) == "a") {
          val v = t.attr(i, "name")
          if (v != null) m.putIfAbsent(v, i)
        }
        i += 1
      }
      anchorIdx = m
    }
    val r = m.get(anchorName)
    if (r == null) -1 else r.intValue()
  }

  /** element.find_next(name) — first match strictly after pre-order i. */
  def findNext(i: Int, nm: String): Int =
    t.findFirst(i + 1, n)(j => t.isElem(j) && t.name(j) == nm)

  /** find_next('table', class_=cls) */
  def findNextTableWithClass(i: Int, cls: String): Int =
    t.findFirst(i + 1, n)(j => t.isElem(j) && t.name(j) == "table" && t.hasClass(j, cls))

  /** tag.find_all(name) — descendants of i. */
  def findAllIn(i: Int, nm: String): IndexedSeq[Int] = {
    val (s, e) = t.subtree(i)
    t.findAll(s, e)(j => t.isElem(j) && t.name(j) == nm)
  }

  /** tag.find_all([n1, n2]) — descendants matching any name. */
  def findAllIn2(i: Int, nm1: String, nm2: String): IndexedSeq[Int] = {
    val (s, e) = t.subtree(i)
    t.findAll(s, e)(j => t.isElem(j) && (t.name(j) == nm1 || t.name(j) == nm2))
  }

  /** find_all(name, recursive=False) — direct children only. */
  def childrenNamed(i: Int, nm: String): IndexedSeq[Int] = {
    val (s, e) = t.subtree(i)
    t.findAll(s, e)(j => t.isElem(j) && t.name(j) == nm && t.parent(j) == i)
  }

  /** tag.find(name) within subtree. */
  def findIn(i: Int, nm: String): Int = {
    val (s, e) = t.subtree(i)
    t.findElem(s, e, nm)
  }

  /** find_all_next(name, attr=value, limit) — after i in parse order. */
  def findAllNext(i: Int, nm: String, attrName: String = null,
                  attrValue: String = null, limit: Int = Int.MaxValue): IndexedSeq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var j = i + 1
    while (j < n && out.length < limit) {
      if (t.isElem(j) && t.name(j) == nm &&
        (attrName == null || t.attr(j, attrName) == attrValue)) out += j
      j += 1
    }
    out.toIndexedSeq
  }

  /** find_next_sibling(name). */
  def nextSibling(i: Int, nm: String): Int = {
    val p = t.parent(i)
    t.findFirst(t.end(i), if (p < 0) n else t.end(p))(j =>
      t.isElem(j) && t.name(j) == nm && t.parent(j) == p)
  }

  /** previous siblings of i in reverse order (for last-img scans). */
  def previousSiblings(i: Int): IndexedSeq[Int] = {
    val p = t.parent(i)
    if (p < 0) return IndexedSeq.empty
    t.findAll(p + 1, i)(j => t.parent(j) == p).reverse
  }

  /** Text content, strip=True parity. */
  @inline def textStrip(i: Int): String = t.textStrip(i)

  @inline def attr(i: Int, a: String): String = {
    val v = t.attr(i, a)
    if (v == null) "" else v
  }

  /** All comment node indices in subtree of i (or whole doc if i==-1). */
  def comments(i: Int = -1): IndexedSeq[Int] = {
    val (s, e) = if (i < 0) (0, n) else t.subtree(i)
    t.findAll(s, e)(t.isComment)
  }

  /** Enclosing ancestor with name, or -1. */
  @inline def findParent(i: Int, nm: String): Int = t.ancestor(i, nm)
}

object Soup {
  def parse(html: String): Soup = new Soup(TagTree.parse(html))

  val IdPlaceholder: scala.util.matching.Regex = """\[\$\$\$\$([A-F0-9]+)\$\$\$\$\]""".r
  val Hex32: scala.util.matching.Regex = """^[A-F0-9]{32}$""".r

  def idFromPlaceholder(href: String): Option[String] =
    IdPlaceholder.findFirstMatchIn(href).map(_.group(1))

  /** href "file.html#anchor" → (file, anchor or ""). */
  def splitHref(href: String): (String, String) = {
    val idx = href.indexOf('#')
    if (idx < 0) (href, "") else (href.substring(0, idx), href.substring(idx + 1))
  }
}
