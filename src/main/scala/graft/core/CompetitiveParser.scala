package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._
import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable

/**
 * Competitive-procedure parser — semantics of the reference CompetitiveParser
 * (app/pipeline/competitive_parser.py). Includes the structured key:value
 * block path (R14) and the token-class table-line splitter (R13).
 * `parse` throws PyTypeError (mirroring the reference's uncaught TypeError
 * on `None * float` in _parse_structured_block) — callers treat it as a
 * whole-parser error.
 */
object CompetitiveParser extends DocumentParser {

  // competitive_parser.py:134-202
  private[core] def identifyColumns(table: Tab): Option[Map[String, Int]] = {
    var mapping = mapBySynonyms(table, Rules.competitiveHeaderPatterns, clean = true).toMap
    if (mapping.isEmpty) mapping = identifyByContent(table)
    if (mapping.contains("name") && mapping.size >= 2) Some(mapping) else None
  }

  private val cNum = Keywords("№", "номер", "n", "number")
  private val cName = Keywords("наимен", "название", "описание", "товар")
  private val cQty = Keywords("кол-во", "количество", "qty", "amount")
  private val cUnit = Keywords("ед", "единица", "изм", "unit")
  private val cPrice = Keywords("цена", "стоимость", "price", "cost")
  private val cTotal = Keywords("сумма", "итого", "total", "sum")

  /** competitive_parser.py:163-202 — elif chain with no-overwrite guards. */
  private def identifyByContent(table: Tab): Map[String, Int] = {
    val header = table.header
    val mapping = mutable.LinkedHashMap.empty[String, Int]
    table.headerLower.zipWithIndex.foreach { case (s, idx) =>
      if (cNum.inLower(s)) {
        // skip position-number columns
      } else if (!mapping.contains("name") && cName.inLower(s))
        mapping("name") = idx
      else if (!mapping.contains("qty") && cQty.inLower(s))
        mapping("qty") = idx
      else if (!mapping.contains("unit") && cUnit.inLower(s))
        mapping("unit") = idx
      else if (!mapping.contains("price") && cPrice.inLower(s))
        mapping("price") = idx
      else if (!mapping.contains("total") && cTotal.inLower(s))
        mapping("total") = idx
    }
    if (mapping.isEmpty && header.length >= 3)
      Map("name" -> 1, "qty" -> 2, "price" -> 3)
    else mapping.toMap
  }

  protected def parseTable(table: Tab, tableIdx: Int): Seq[Item] =
    mappedOrContent(table, tableIdx, identifyColumns(table), mappedRow, contentRow)

  private def mappedRow(row: Row, m: Map[String, Int], tableIdx: Int, rowIdx: Int): Option[Item] =
    if (rowIdx == 0) None // header skip is positional here (competitive_parser.py:210-212)
    else {
      val r = new MappedRow(row, m)
      val currency = r.str("currency", "RUB").pyStrip
      val supplier = r.str("supplier")
      if (isEmptyName(r.name) || isServiceRow(r.name, Rules.serviceRowShort)) None
      else {
        val it = Item(r.name.pyStrip, "", r.qty, r.unit.pyStrip, r.price,
          if (currency.nonEmpty) currency else "RUB", r.total,
          supplier.pyStrip, s"table_${tableIdx}_row_$rowIdx", 0.95)
        if (validate(it)) Some(it) else None
      }
    }

  // competitive_parser.py:257-341
  private def contentRow(values: IndexedSeq[String], tableIdx: Int, rowIdx: Int): Option[Item] = {
    if (values.length < 3) return None
    val name = values(0)
    val numbers = {
      val b = IndexedSeq.newBuilder[Double]
      var i = 1
      while (i < values.length) {
        val p = Num.parse(values(i))
        if (p.isDefined) b += p.get
        i += 1
      }
      b.result()
    }
    if (numbers.length < 2) return None
    val qty = numbers(0)
    val price = numbers(1)
    val total = if (numbers.length >= 3) numbers(2) else qty * price
    val unit = {
      var i = 1; var u = ""
      while (u.isEmpty && i < values.length) {
        if (Rules.tokenUnits.inLower(values(i))) u = values(i)
        i += 1
      }
      u
    }
    val currency = {
      var i = 0; var c: String = null
      while (c == null && i < values.length) {
        if (Rules.tokenCurrencies.inUpper(values(i))) c = Py.upper(values(i))
        i += 1
      }
      if (c == null) "RUB" else c
    }
    val it = Item(name, "", Some(qty), unit, Some(price), currency, Some(total), "",
      s"table_${tableIdx}_row_$rowIdx", 0.8)
    if (validate(it)) Some(it) else None
  }

  // -- text path (competitive_parser.py:343-455,612-679) --
  // structured key:value blocks first (T5/R14), then per line the R13
  // token splitter, else the line patterns
  protected def parseText(shared: SharedLines): Seq[Item] =
    parseStructuredTextShared(shared) ++ eachLine(shared) { i =>
      val line = shared.stripped(i)
      val excluded = Rules.headerLineCompetitive.inLower(line) || Rules.serviceLineCompetitive.inLower(line)
      if (!passesStrictLinePrefilter(line, shared.lower(i), excluded)) None
      else {
        val tableLine = parseTableLine(line, i)
        if (tableLine.isDefined) tableLine
        else atLine(firstMatch(Patterns.competitivePatterns, line)(lineItem), "text_line_", i, 0.7)
      }
    }

  /** R14 — key:value structured blocks (competitive_parser.py:387-455),
    * evaluated LINE-WISE over the turn's shared stripped lines: no text
    * re-split, no block strings, no per-block line re-split.
    *
    * Equivalence with the reference's `re.split(r'\n\s*\n')` + per-block
    * parse: a maximal separator match is "\n <py-space>* \n", which
    * consumes exactly a run of INTERIOR all-py-space lines (greedy \s*
    * absorbs the blank lines' content and their inner newlines; the class
    * [\s\x1c-\x1f] is precisely Py.isPySpace, so `pyStrip(line).isEmpty`
    * is the all-py-space test). Hence blocks == maximal runs of non-blank
    * lines. All-py-space lines at the TEXT's boundaries (no \n on their
    * outer side) attach to the first/last block under the regex split,
    * but a blank line can never carry a `key: value`, so skipping them is
    * output-identical; the reference's per-block `block.strip()` +
    * per-line `strip()` are subsumed by the shared per-line strips. */
  private[core] def parseStructuredText(text: String): Seq[Item] =
    parseStructuredTextShared(new SharedLines(text))

  private[core] def parseStructuredTextShared(shared: SharedLines): Seq[Item] = {
    val st = shared.stripped
    val b = Seq.newBuilder[Item]
    var i = 0
    while (i < st.length) {
      while (i < st.length && st(i).isEmpty) i += 1
      if (i < st.length) {
        val start = i
        while (i < st.length && st(i).nonEmpty) i += 1
        parseStructuredLines(st, start, i).foreach(it =>
          b += it.copy(source = "structured_text", confidence = 0.9))
      }
    }
    b.result()
  }

  // R14 key-synonym lists hoisted out of the per-line loop (a Seq literal
  // in the loop body allocates a fresh List per line)
  private val kName = Keywords("наименование", "название", "товар")
  private val kQty = Keywords("количество", "кол-во", "кол", "объем")
  private val kUnit = Keywords("единица", "ед.изм", "ед")
  private val kPrice = Keywords("цена", "стоимость", "тариф")
  private val kCurrency = Keywords("валюта", "currency")
  private val kTotal = Keywords("сумма", "итого", "стоимость", "общая")
  private val kSupplier = Keywords("поставщик", "supplier", "компания")

  /** Core of the R14 block parser over a [from, until) range of
    * pre-stripped lines. */
  private def parseStructuredLines(strippedLines: Array[String],
                                   from: Int, until: Int): Option[Item] = {
    var name: Option[String] = None
    var qty: Option[Option[Double]] = None   // outer = key present, inner = parsed value
    var unit: Option[String] = None
    var price: Option[Option[Double]] = None
    var currency: Option[String] = None
    var total: Option[Option[Double]] = None
    var supplier: Option[String] = None
    var li = from
    while (li < until) {
      val line = strippedLines(li)
      if (line.nonEmpty && line.contains(":")) {
        // split(":", 2) without the array: first ':' partitions the line
        val ci = line.indexOf(':')
        val key = line.substring(0, ci).pyStrip // lowered by the keyword tests
        val value = line.substring(ci + 1).pyStrip
        if (kName.inLower(key)) name = Some(value)
        else if (kQty.inLower(key)) qty = Some(Num.parse(value))
        else if (kUnit.inLower(key)) unit = Some(value)
        else if (kPrice.inLower(key)) price = Some(Num.parse(value))
        else if (kCurrency.inLower(key)) currency = Some(value)
        else if (kTotal.inLower(key)) total = Some(Num.parse(value))
        else if (kSupplier.inLower(key)) supplier = Some(value)
      }
      li += 1
    }
    if (name.isDefined && qty.isDefined && price.isDefined) {
      val totalV: Option[Double] = total match {
        case Some(t) => t // key present: keep as-is (may be None)
        case None =>
          // item_data['qty'] * item_data['price'] — TypeError when None
          (qty.get, price.get) match {
            case (Some(q), Some(p)) => Some(q * p)
            case _ => throw new PyTypeError
          }
      }
      Some(Item(name.get, "", qty.get, unit.getOrElse(""), price.get,
        currency.getOrElse("RUB"), totalV, supplier.getOrElse(""), "", 0.0))
    } else None
  }

  /** R13 — token-class table-line splitter (competitive_parser.py:612-679). */
  private[core] def parseTableLine(line: String, lineIdx: Int): Option[Item] = {
    try {
      val parts = Py.pySplit(line) // Python line.split()
      if (parts.length < 3) return None
      // single pass over the tokens (the classes are disjoint — letter-
      // start vs all-numeric — so one loop replaces the two filter arrays
      // + mkString); order within each class is preserved
      var nameSb: java.lang.StringBuilder = null
      var num0: String = null
      var num1: String = null
      var numCount = 0
      var i = 0
      while (i < parts.length) {
        val p = parts(i)
        if (Patterns.matchAt(Patterns.startsWithLetter, p)) {
          if (nameSb == null) nameSb = new java.lang.StringBuilder(p)
          else { nameSb.append(' '); nameSb.append(p) }
        }
        if (Patterns.matchAt(Patterns.numericToken, p)) {
          if (numCount == 0) num0 = p else if (numCount == 1) num1 = p
          numCount += 1
        }
        i += 1
      }
      if (nameSb == null || numCount < 2) return None
      val name = nameSb.toString
      val qty = Num.parse(num0)
      val price = Num.parse(num1)
      if (qty.isEmpty || price.isEmpty) return None
      val unit = {
        var j = 0; var u = ""
        while (u.isEmpty && j < parts.length) {
          if (Rules.tokenUnits.inLower(parts(j))) u = parts(j)
          j += 1
        }
        u
      }
      val currency = {
        var j = 0; var c: String = null
        while (c == null && j < parts.length) {
          if (Rules.tokenCurrencies.inUpper(parts(j))) c = Py.upper(parts(j))
          j += 1
        }
        if (c == null) "RUB" else c
      }
      val total = qty.get * price.get
      val it = Item(name, "", qty, unit, price, currency, Some(total), "",
        s"table_line_$lineIdx", 0.8)
      if (validate(it)) Some(it) else None
    } catch { case _: Exception => None }
  }

  private val lineItem: (Pattern, Matcher) => Option[Item] = (p, m) => {
    val name = Py.pySplit(m.group("name").pyStrip).mkString(" ") // ' '.join(name.split())
    val qty = Num.parse(m.group("qty"))
    var unit = Option(m.group("unit")).getOrElse("")
    val price = Num.parse(m.group("price"))
    val currency = Option(m.group("currency")).filter(_.nonEmpty).getOrElse("RUB")
    var total: Option[Double] = None
    if (hasGroup(p, "total")) {
      val g = m.group("total")
      if (g != null && g.nonEmpty) total = Num.parse(g)
    }
    if (total.isEmpty && truthy(qty) && truthy(price)) total = Some(qty.get * price.get)
    if (unit.nonEmpty) unit = Patterns.cachedMatcher(Patterns.unitCleanup, unit.pyStrip).replaceAll("")
    val it = Item(name, "", qty, unit, price, currency, total, "", "regex_match", 0.85)
    if (validate(it)) Some(it) else None
  }

  /** competitive_parser.py:577-591 — basic validation. */
  def validate(it: Item): Boolean = validateBasic(it)
}
