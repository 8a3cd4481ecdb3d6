package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._
import java.util.regex.{Matcher, Pattern}

/**
 * Universal parser core (`_parse_universal`) — semantics of the reference
 * UniversalParser's own extraction method (app/pipeline/universal_parser.py:
 * 297-831): synonym mapping -> positional fallback -> content analysis for
 * tables; lenient prefilter + two regex patterns for text.
 */
object UniversalCoreParser extends DocumentParser {

  protected def parseTable(table: Tab, tableIdx: Int): Seq[Item] = {
    val bySyn = mapBySynonyms(table, Rules.universalColumnSynonyms, clean = true).toMap
    val mapping: Map[String, Int] =
      if (bySyn.contains("name") && bySyn.size >= 2) bySyn
      else byPositionUniversal(table)
    if (mapping.nonEmpty)
      eachRow(table, 0)(rowIdx => mappedRow(table.rows(rowIdx), mapping, tableIdx, rowIdx))
    else // content analysis over rows 1..5 (universal_parser.py:349-468)
      eachRow(table, 1, until = 6)(rowIdx => analyzeRowStructure(table.rowVals(rowIdx), tableIdx, rowIdx))
  }

  private val headerName = Keywords("наименование", "товары")
  private val headerQty = Keywords("кол-во", "количество")
  private val headerPrice = Keywords("цена")

  /** universal_parser.py:495-571 — header-keyword-guarded + count heuristics. */
  private[core] def byPositionUniversal(table: Tab): Map[String, Int] = {
    val n = table.nCols
    val headers = table.header.flatten.map(_.toString).filter(_.pyStrip.nonEmpty).mkString(" ")
    var mapping = Map.empty[String, Int]
    if (headerName.inLower(headers) && headerQty.inLower(headers) && headerPrice.inLower(headers)) {
      if (n >= 13)
        mapping = Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 5, "total" -> 6)
      else if (n >= 7)
        mapping = Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 5, "total" -> 6)
      else if (n >= 5)
        mapping = Map("number" -> 0, "name" -> 1, "qty" -> 2, "price" -> 3, "total" -> 4)
    }
    if (mapping.isEmpty) {
      if (n >= 10)
        mapping = Map("number" -> 0, "article" -> 1, "name" -> 2, "qty" -> 3, "unit" -> 4, "price" -> 5, "total" -> 6)
      else if (n >= 7)
        mapping = Map("number" -> 0, "article" -> 1, "name" -> 2, "qty" -> 3, "unit" -> 4, "price" -> 5, "total" -> 6)
      else if (n >= 6)
        mapping = Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
      else if (n >= 5)
        mapping = Map("number" -> 0, "name" -> 1, "qty" -> 2, "price" -> 3, "total" -> 4)
      else if (n >= 3)
        mapping = Map("name" -> 0, "qty" -> 1, "price" -> 2)
    }
    mapping
  }

  private def mappedRow(row: Row, m: Map[String, Int], tableIdx: Int, rowIdx: Int): Option[Item] =
    if (isHeaderRow(row, Rules.headerFirstCellUniversal)) None
    else {
      val r = new MappedRow(row, m)
      r.str("number") // read (it can raise) but never used
      val article = r.str("article")
      if (isEmptyName(r.name) || isServiceRow(r.name, Rules.serviceRowInvoice)) None
      else {
        val it = Item(Py.cleanName(r.name), article.pyStrip, r.qty, r.unit.pyStrip, r.price, "RUB",
          r.total, "", s"universal_table_${tableIdx}_row_$rowIdx", 0.9)
        if (validate(it)) Some(it) else None
      }
    }

  private[core] def analyzeRowStructure(values: IndexedSeq[String], tableIdx: Int, rowIdx: Int): Option[Item] = {
    if (values.length < 3) return None
    var number: Option[String] = None
    var name: Option[String] = None
    var qty: Option[Double] = None
    var unit: Option[String] = None
    var price: Option[Double] = None
    var total: Option[Double] = None
    values.foreach { v =>
      val vc = v.pyStrip
      var consumed = false
      if (number.isEmpty && Patterns.matchAt(Patterns.digitsOnly, vc)) { number = Some(vc); consumed = true }
      if (!consumed && name.isEmpty && Patterns.search(Patterns.hasCyr2, vc) && vc.length > 5) {
        name = Some(vc); consumed = true
      }
      if (!consumed && qty.isEmpty && Num.parse(vc).isDefined) { qty = Num.parse(vc); consumed = true }
      if (!consumed && unit.isEmpty && Rules.analyzeUnits.contains(vc)) { unit = Some(vc); consumed = true }
      if (!consumed && price.isEmpty && Num.parse(vc).isDefined && qty.isDefined) {
        price = Num.parse(vc); consumed = true
      }
      if (!consumed && total.isEmpty && Num.parse(vc).isDefined && price.isDefined) {
        total = Num.parse(vc); consumed = true
      }
    }
    if (name.isEmpty)
      name = values.find(v => Patterns.search(Patterns.hasCyr2, v) && v.length > 5)
    if (name.isEmpty || qty.isEmpty || price.isEmpty) return None
    if (isServiceRow(name.get, Rules.serviceRowInvoice)) return None
    val cleanedName = Py.cleanName(name.get)
    val totalF = if (truthy(total)) total else Some(qty.get * price.get)
    val it = Item(cleanedName, number.getOrElse(""), qty, unit.getOrElse(""), price, "RUB",
      totalF, "", s"universal_content_analysis_${tableIdx}_row_$rowIdx", 0.6)
    if (validate(it)) Some(it) else None
  }

  // -- text path (universal_parser.py:642-705): lenient prefilter, 2 patterns --
  protected def parseText(shared: SharedLines): Seq[Item] =
    eachLine(shared) { i =>
      val line = shared.stripped(i)
      if (shared.headerInvoice(i) || shared.serviceInvoice(i) ||
          Patterns.matchAt(Patterns.allNumericLine, line)) None
      else atLine(firstMatch(Patterns.universalPatterns, line)(lineItem), "universal_text_line_", i, 0.7)
    }

  private val lineItem: (Pattern, Matcher) => Option[Item] = (p, m) => {
    val name = Py.cleanName(m.group("name").pyStrip)
    val qty = Num.parse(m.group("qty"))
    // pattern 2 lacks the 'unit' group -> group() throws -> pattern dead,
    // mirroring the reference's IndexError (universal_parser.py:677)
    val unit = Option(m.group("unit")).getOrElse("")
    val price = Num.parse(m.group("price"))
    val total0 = if (hasGroup(p, "total")) Option(m.group("total")).flatMap(Num.parse) else None
    val it = Item(name, "", qty, unit, price, "RUB", backfillFalsy(total0, qty, price), "",
      "universal_regex", 0.8)
    if (validate(it)) Some(it) else None
  }

  def validate(it: Item): Boolean =
    validateStrict(it, Rules.validationServiceWordsUniversal)
}
