package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._

/**
 * Table-only extractors — semantics of the reference TableExtractor
 * (app/pipeline/table_extractor.py) and PreciseTableParser
 * (app/pipeline/precise_table_parser.py). No text path, no dedup: items are
 * returned per-table in order, each gated by product plausibility (F8).
 */
object TableExtractor {

  def parse(tables: Seq[Tab]): Seq[Item] = eachTable(tables)(extractFromTable)

  private[core] def identifyColumns(table: Tab): Option[Map[String, Int]] = {
    var mapping = mapByElifChain(table.header, Rules.invoiceColumnWords).toMap
    if (mapping.isEmpty) mapping = byPosition(table.nCols)
    if (mapping.contains("name") && (mapping.contains("qty") || mapping.contains("price")))
      Some(mapping)
    else None
  }

  // table_extractor.py:138-171
  private def byPosition(n: Int): Map[String, Int] =
    if (n >= 7) Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
    else if (n >= 6) Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
    else if (n >= 4) Map("name" -> 0, "qty" -> 1, "price" -> 2, "total" -> 3)
    else Map.empty

  private def extractFromTable(table: Tab, tableIdx: Int): Seq[Item] =
    identifyColumns(table) match {
      case None => Nil
      case Some(m) =>
        eachRow(table, 0) { rowIdx =>
          val row = table.rows(rowIdx)
          if (isHeaderRow(row, Rules.headerFirstCellTable)) None
          else readProductCells(row, m, Py.pyStrip).item(s"table_${tableIdx}_row_$rowIdx")
            .filter(validateProduct(_, Rules.excludeWordsTableExtractor))
        }
    }
}

object PreciseTableParser {

  private val elifFields: Seq[(String, Keywords)] = Seq(
    "number" -> Keywords("№", "номер", "позиция"),
    "article" -> Keywords("артикул", "код", "арт"),
    "name" -> Keywords("наименование", "товары", "работы", "услуги", "название", "наимен"),
    "qty" -> Keywords("количество", "кол-во", "колво"),
    "unit" -> Keywords("ед", "единица", "изм"),
    "price" -> Keywords("цена", "стоимость", "руб", "без ндс"),
    "total" -> Keywords("сумма", "итого", "всего", "с ндс"))

  def parse(tables: Seq[Tab]): Seq[Item] = eachTable(tables)(extractFromTable)

  private[core] def identifyColumns(table: Tab): Option[Map[String, Int]] = {
    var mapping = mapByElifChain(table.header, elifFields, collapseWs = true).toMap
    if (mapping.isEmpty) mapping = byPosition(table.nCols)
    if (mapping.contains("name") && (mapping.contains("qty") || mapping.contains("price")))
      Some(mapping)
    else None
  }

  // precise_table_parser.py:189-244 (includes the 13-col split-header layout)
  private def byPosition(n: Int): Map[String, Int] =
    if (n >= 13) Map("number" -> 0, "name" -> 1, "qty" -> 5, "unit" -> 6, "price" -> 8, "total" -> 10)
    else if (n >= 10) Map("number" -> 0, "article" -> 1, "name" -> 2, "qty" -> 3, "unit" -> 4, "price" -> 5, "total" -> 6)
    else if (n >= 7) Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
    else if (n >= 6) Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5)
    else if (n >= 4) Map("name" -> 0, "qty" -> 1, "price" -> 2, "total" -> 3)
    else Map.empty

  private def extractFromTable(table: Tab, tableIdx: Int): Seq[Item] =
    identifyColumns(table) match {
      case None => Nil
      case Some(m) =>
        eachRow(table, 0) { rowIdx =>
          val row = table.rows(rowIdx)
          if (isHeaderRow(row, Rules.headerFirstCellPrecise) || isServiceRowAnyCell(row)) None
          else extractItemFromRow(row, m, tableIdx, rowIdx)
            .filter(validateProduct(_, Rules.excludeWordsPrecise))
        }
    }

  /** F5 — ANY cell containing an exclude word kills the row
    * (precise_table_parser.py:266-281). */
  private def isServiceRowAnyCell(row: Row): Boolean =
    row.exists {
      case Some(cell) => Rules.excludeWordsPrecise.inLower(cell)
      case None => false
    }

  private def extractItemFromRow(row: Row, m: Map[String, Int], tableIdx: Int, rowIdx: Int): Option[Item] = {
    val cells = readProductCells(row, m, Py.collapseWs)
    var name = cells.name
    var unit = cells.unit
    // neighbor-cell unit lookup (M4, precise_table_parser.py:301-308):
    // fires when the mapped unit cell is absent, NaN, or empty
    if (m.contains("unit") && (unit == null || unit.isEmpty)) {
      val unitCol = m("unit")
      if (unitCol + 1 < row.length) row(unitCol + 1).foreach { uv =>
        val u = uv.pyStrip
        if (u.nonEmpty && u != "None" && u.length <= 5) unit = u
      }
    }
    // split-header name merge (M4, precise_table_parser.py:310-320)
    if (m.contains("name") && name != null && name.nonEmpty) {
      val nameCol = m("name")
      (1 to 4).foreach { i =>
        if (nameCol + i < row.length) row(nameCol + i).foreach { nv =>
          val n = nv.pyStrip
          if (n.nonEmpty && n != "None" && n.length > 2) name = name + " " + Py.collapseWs(n)
        }
      }
    }
    cells.copy(name = name, unit = unit).item(s"table_${tableIdx}_row_$rowIdx")
  }
}
