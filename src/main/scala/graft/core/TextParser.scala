package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._
import java.util.regex.{Matcher, Pattern}

/**
 * Generic text/table parser — semantics of the reference TextParser
 * (app/pipeline/parser.py:44-314): tables pass, then text-lines pass,
 * first-wins dedup, basic validation.
 */
object TextParser extends DocumentParser {

  protected def parseTable(table: Tab, tableIdx: Int): Seq[Item] = {
    val mapping = mapBySynonyms(table, Rules.textColumnPatterns, clean = false)
    // require name + >=2 fields (parser.py:147)
    if (mapping.contains("name") && mapping.size >= 2) {
      val m = mapping.toMap
      eachRow(table, 0) { rowIdx =>
        val r = new MappedRow(table.rows(rowIdx), m)
        Some(Item.base(r.name, r.qty, r.unit, r.price, r.str("currency", "RUB"), r.total,
          s"table_${tableIdx}_row_$rowIdx", 0.9))
      }
    } else parseFallback(table, tableIdx)
  }

  /** Row-text fallback. It has no per-row try/except: a row that throws
    * ends the whole table, so it is not an [[eachRow]]. */
  private def parseFallback(table: Tab, tableIdx: Int): Seq[Item] =
    table.rows.zipWithIndex.flatMap { case (row, rowIdx) =>
      // ' '.join(str(cell) for cell in row if notna) (parser.py:187)
      val rowText = row.flatten.mkString(" ")
      if (Py.pyStripLen(rowText) > 0)
        parseSingleLine(rowText).map(_.copy(source = s"table_${tableIdx}_row_$rowIdx", confidence = 0.7))
      else None
    }

  protected def parseText(shared: SharedLines): Seq[Item] =
    eachLine(shared)(i => atLine(parseSingleLine(shared.stripped(i)), "text_line_", i, 0.6))

  /** Try patterns R1-R3 in order; first VALID match wins (parser.py:216-245). */
  def parseSingleLine(line: String): Option[Item] = firstMatch(Patterns.textPatterns, line)(lineItem)

  private val lineItem: (Pattern, Matcher) => Option[Item] = (_, m) => {
    val name = m.group("name").pyStrip
    val qty = Num.parse(m.group("qty"))
    // m.group("unit") THROWS when the pattern lacks the group — mirroring
    // Python's IndexError that makes pattern 3 (no unit group) dead code
    // in the reference (parser.py:222-231 under except).
    val unit = Option(m.group("unit")).getOrElse("")
    val price = Num.parse(m.group("price"))
    val currency = Option(m.group("currency")).filter(_.nonEmpty).getOrElse("RUB")
    val total = if (truthy(qty) && truthy(price)) Some(qty.get * price.get) else None
    val it = Item.base(name, qty, unit, price, currency, total, "regex_match", 0.8)
    if (validateBasic(it)) Some(it) else None
  }

  def validate(it: Item): Boolean = validateBasic(it)
}
