package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._
import java.util.regex.{Matcher, Pattern}

/**
 * Commercial-proposal parser — semantics of the reference
 * CommercialProposalParser (app/pipeline/commercial_parser.py).
 */
object CommercialParser extends DocumentParser {

  // commercial_parser.py:96-128
  private[core] def identifyColumns(table: Tab): Option[Map[String, Int]] = {
    if (table.nCols >= 11) return Some(byPosition(table.nCols)) // forced positional for wide tables
    var mapping = mapBySynonyms(table, Rules.commercialHeaderPatterns, clean = true).toMap
    if (mapping.isEmpty) mapping = byPosition(table.nCols)
    if (mapping.contains("name") && mapping.size >= 2) Some(mapping) else None
  }

  // commercial_parser.py:130-157
  private def byPosition(n: Int): Map[String, Int] =
    if (n >= 11) Map("number" -> 0, "name" -> 1, "qty" -> 5, "unit" -> 6, "price" -> 8, "total" -> 10)
    else if (n >= 6) Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
    else if (n >= 4) Map("name" -> 0, "qty" -> 1, "price" -> 2, "total" -> 3)
    else Map.empty

  protected def parseTable(table: Tab, tableIdx: Int): Seq[Item] =
    mappedOrContent(table, tableIdx, identifyColumns(table), mappedRow, contentRow)

  private def mappedRow(row: Row, m: Map[String, Int], tableIdx: Int, rowIdx: Int): Option[Item] =
    if (isHeaderRow(row, Rules.headerFirstCellCommercial)) None
    else {
      val r = new MappedRow(row, m)
      if (isEmptyName(r.name) || isServiceRow(r.name, Rules.serviceRowShort)) None
      else {
        val it = Item.base(cleanName(r.name), r.qty, r.unit.pyStrip, r.price, "RUB", r.total,
          s"table_${tableIdx}_row_$rowIdx", 0.95)
        if (validate(it)) Some(it) else None
      }
    }

  // commercial_parser.py:215-325
  private def contentRow(values: IndexedSeq[String], tableIdx: Int, rowIdx: Int): Option[Item] = {
    if (values.length < 4) return None
    if (!Patterns.matchAt(Patterns.digitsOnly, values(0))) return None
    var name = if (values.length > 1) values(1) else ""
    if (name.isEmpty || isServiceRow(name, Rules.serviceRowShort)) return None
    // qty: first parsable digit-bearing cell in [2, min(5,n))
    var qty: Option[Double] = None
    var qtyIdx = -1
    var i = 2
    while (qty.isEmpty && i < math.min(5, values.length)) {
      if (values(i).nonEmpty && Patterns.search(Patterns.hasDigit, values(i))) {
        val q = Num.parse(values(i))
        if (q.isDefined) { qty = q; qtyIdx = i }
      }
      i += 1
    }
    if (qty.isEmpty) return None
    val unit = if (qtyIdx + 1 < values.length) values(qtyIdx + 1) else ""
    // price: first parsable in [qtyIdx+2, min(qtyIdx+4, n))
    var price: Option[Double] = None
    i = qtyIdx + 2
    while (price.isEmpty && i < math.min(qtyIdx + 4, values.length)) {
      if (i < values.length && values(i).nonEmpty && Patterns.search(Patterns.hasDigit, values(i))) {
        price = Num.parse(values(i))
      }
      i += 1
    }
    if (price.isEmpty) return None
    // total: scan last two cells; keep scanning while equal to price/qty
    var total: Option[Double] = None
    i = values.length - 2
    var done = false
    while (i < values.length && !done) {
      if (i >= 0 && values(i).nonEmpty && Patterns.search(Patterns.hasDigit, values(i))) {
        total = Num.parse(values(i)) // unconditional assignment, like the reference
        if (total.isDefined && total != price && total != qty) done = true
      }
      i += 1
    }
    name = cleanName(name)
    val totalF = if (truthy(total)) total else Some(qty.get * price.get)
    val it = Item.base(name, qty, unit.pyStrip, price, "RUB", totalF,
      s"table_${tableIdx}_row_$rowIdx", 0.8)
    if (validate(it)) Some(it) else None
  }

  // -- text path (commercial_parser.py:327-393) --
  protected def parseText(shared: SharedLines): Seq[Item] =
    eachLine(shared) { i =>
      val line = shared.stripped(i)
      val excluded = Rules.headerLineCommercial.inLower(line) || Rules.serviceLineCommercial.inLower(line)
      if (!passesStrictLinePrefilter(line, shared.lower(i), excluded)) None
      else atLine(firstMatch(Patterns.commercialPatterns, line)(lineItem), "text_line_", i, 0.7)
    }

  private val lineItem: (Pattern, Matcher) => Option[Item] = (_, m) => {
    val name = cleanName(m.group("name").pyStrip)
    val qty = Num.parse(m.group("qty"))
    val unit = Option(m.group("unit")).getOrElse("")
    val price = Num.parse(m.group("price"))
    val total = backfillFalsy(Num.parse(m.group("total")), qty, price)
    val it = Item.base(name, qty, unit, price, "RUB", total, "regex_match", 0.85)
    if (validate(it)) Some(it) else None
  }

  /** commercial _clean_name also strips the leading tech-spec prefix
    * (commercial_parser.py:395-405). */
  def cleanName(name: String): String = {
    val n = Py.cleanName(name)
    Patterns.cachedMatcher(Patterns.commercialTechPrefix, n).replaceFirst("")
  }

  def validate(it: Item): Boolean =
    validateStrict(it, Rules.validationServiceWordsCommercial)
}
