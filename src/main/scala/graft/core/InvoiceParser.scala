package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._
import java.util.regex.{Matcher, Pattern}

/**
 * Invoice (счёт на оплату) parser — semantics of the reference InvoiceParser
 * (app/pipeline/invoice_parser.py).
 */
object InvoiceParser extends DocumentParser {

  // -- column identification (invoice_parser.py:93-146) --
  private[core] def identifyColumns(table: Tab): Option[Map[String, Int]] = {
    var mapping = mapByElifChain(table.header, Rules.invoiceColumnWords).toMap
    if (mapping.isEmpty) mapping = byPosition(table.nCols)
    if (mapping.contains("name") && (mapping.contains("qty") || mapping.contains("price")))
      Some(mapping)
    else None
  }

  /** Positional layouts (invoice_parser.py:148-186). */
  private def byPosition(n: Int): Map[String, Int] =
    if (n >= 10) Map("number" -> 0, "article" -> 1, "name" -> 2, "qty" -> 3, "unit" -> 4, "price" -> 5, "total" -> 6)
    else if (n >= 7) Map("number" -> 0, "article" -> 1, "name" -> 2, "qty" -> 3, "unit" -> 4, "price" -> 5, "total" -> 6)
    else if (n >= 6) Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
    else if (n >= 5) Map("number" -> 0, "name" -> 1, "qty" -> 2, "price" -> 3, "total" -> 4)
    else Map.empty

  protected def parseTable(table: Tab, tableIdx: Int): Seq[Item] =
    mappedOrContent(table, tableIdx, identifyColumns(table), mappedRow, contentRow)

  private def mappedRow(row: Row, m: Map[String, Int], tableIdx: Int, rowIdx: Int): Option[Item] =
    if (isHeaderRow(row, Rules.headerFirstCellInvoice)) None
    else {
      val r = new MappedRow(row, m)
      val article = r.str("article")
      if (isEmptyName(r.name) || isServiceRow(r.name, Rules.serviceRowInvoice)) None
      else {
        val it = Item(Py.cleanName(r.name), article.pyStrip, r.qty, r.unit.pyStrip, r.price, "RUB",
          r.total, "", s"table_${tableIdx}_row_$rowIdx", 0.95)
        if (validate(it)) Some(it) else None
      }
    }

  /** Content-based fallback (invoice_parser.py:246-340). */
  private def contentRow(values: IndexedSeq[String], tableIdx: Int, rowIdx: Int): Option[Item] = {
    if (values.length < 5) return None
    if (!Patterns.matchAt(Patterns.digitsOnly, values(0))) return None
    val article = if (values.length > 1) values(1) else ""
    var name = if (values.length > 2) values(2) else ""
    if (name.isEmpty || isServiceRow(name, Rules.serviceRowInvoice)) return None
    val qty = if (values.length > 3) Num.parse(values(3)) else None
    if (qty.isEmpty) return None
    val unit = if (values.length > 4) values(4) else ""
    val price = if (values.length > 5) Num.parse(values(5)) else None
    if (price.isEmpty) return None
    val total0 = if (values.length > 6) Num.parse(values(6)) else None
    name = Py.cleanName(name)
    val total = if (truthy(total0)) total0 else Some(qty.get * price.get)
    val it = Item(name, article.pyStrip, qty, unit.pyStrip, price, "RUB", total, "",
      s"table_${tableIdx}_row_$rowIdx", 0.8)
    if (validate(it)) Some(it) else None
  }

  // -- text path (invoice_parser.py:342-411) --
  protected def parseText(shared: SharedLines): Seq[Item] =
    eachLine(shared) { i =>
      val line = shared.stripped(i)
      val excluded = shared.headerInvoice(i) || shared.serviceInvoice(i)
      if (!passesStrictLinePrefilter(line, shared.lower(i), excluded)) None
      else atLine(firstMatch(Patterns.invoicePatterns, line)(lineItem), "text_line_", i, 0.7)
    }

  private val lineItem: (Pattern, Matcher) => Option[Item] = (_, m) => {
    val article = Option(m.group("article")).getOrElse("")
    val name = Py.cleanName(m.group("name").pyStrip)
    val qty = Num.parse(m.group("qty"))
    val unit = Option(m.group("unit")).getOrElse("")
    val price = Num.parse(m.group("price"))
    val total = backfillFalsy(Num.parse(m.group("total")), qty, price) // `total if total else qty*price`
    val it = Item(name, article, qty, unit, price, "RUB", total, "", "regex_match", 0.85)
    if (validate(it)) Some(it) else None
  }

  /** invoice_parser.py:491-514 */
  def validate(it: Item): Boolean = {
    if (it.name == null || Py.pyStripLen(it.name) < 2) return false
    if (it.qty.isEmpty || it.price.isEmpty) return false
    if (it.qty.get <= 0 || it.price.get <= 0) return false
    if (isServiceRow(it.name, Rules.serviceRowInvoice)) return false
    if (!Patterns.search(Patterns.hasLetter, it.name)) return false
    true
  }
}
