package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable

/** Shared parser machinery (the reference duplicates all of this per parser;
  * one canonical copy here). */
object ParserCommon {

  /** Shared per-turn line views: every reference parser begins its text pass
    * with the same `text.split('\n')` + per-line `strip()` (+ lowercase for
    * the itogo-line regex). Computing them once per turn removes 6-7 redundant
    * splits/lowercases per payload — pure reuse, zero semantic change. */
  final class SharedLines(val text: String) {
    val raw: Array[String] =
      if (text == null || text.isEmpty) Array.empty else text.split("\n", -1)
    val stripped: Array[String] = raw.map(_.pyStrip)
    lazy val lower: Array[String] = stripped.map(Py.lower)
    // per-line keyword-list hits, computed once and shared by the parsers
    // that use identical lists (invoice+universal share both of theirs)
    lazy val headerInvoice: Array[Boolean] = stripped.map(Rules.headerLineInvoice.inLower)
    lazy val serviceInvoice: Array[Boolean] = stripped.map(Rules.serviceLineInvoice.inLower)
    /** ASCII-digit presence per line: any item a line-pattern can yield
      * requires a parseable qty/price (>0), which requires an ASCII digit
      * in the line — so digit-free lines can skip regex entirely with no
      * semantic change (pure fast-path). */
    lazy val hasDigit: Array[Boolean] = stripped.map(SharedLines.asciiDigit)
  }

  object SharedLines {
    def asciiDigit(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        // Unicode Nd too: Python float() parses e.g. Arabic-Indic digits
        if ((c >= '0' && c <= '9') || Character.isDigit(c)) return true
        i += 1
      }
      false
    }
  }

  /** First-occurrence-wins dedup on (lower(strip(name)), qty, price)
    * (app/pipeline/parser.py:299-314). Order-dependent by design. */
  def dedup(items: Seq[Item]): Seq[Item] = {
    val seen = mutable.HashSet.empty[(String, Option[Double], Option[Double])]
    val out = mutable.ArrayBuffer.empty[Item]
    items.foreach { it =>
      val key = (Py.lower(it.name).pyStrip, it.qty, it.price)
      if (seen.add(key)) out += it
    }
    out.toSeq
  }

  /** A table row: one cell per column, None for a pandas NaN. */
  type Row = IndexedSeq[Option[String]]

  /** Item of row or line `i`, if any. A primitive-Int SAM: the row and line
    * loops call it per index, and Function1[Int, _] would box the index. */
  trait ItemAt { def apply(i: Int): Option[Item] }

  /** The skeleton of the five reference document parsers (parser.py:44-314
    * and its invoice/commercial/competitive/universal copies): every table
    * through [[eachTable]], then, for a non-empty text, the text pass, then
    * first-wins [[dedup]] and the parser's validation. The text pass runs
    * outside any catch: an exception there fails the whole parser (the
    * competitive structured-block TypeError relies on it). */
  abstract class DocumentParser {
    protected def parseTable(table: Tab, tableIdx: Int): Seq[Item]
    protected def parseText(shared: SharedLines): Seq[Item]
    def validate(it: Item): Boolean

    final def parse(text: String, tables: Seq[Tab]): Seq[Item] =
      parse(new SharedLines(text), tables)

    final def parse(shared: SharedLines, tables: Seq[Tab]): Seq[Item] = {
      val items = eachTable(tables)(parseTable) ++
        (if (shared.text != null && shared.text.nonEmpty) parseText(shared) else Nil)
      dedup(items).filter(validate)
    }
  }

  /** Items of every table in order; a table whose parse throws yields
    * none (each reference parser's per-table try/except). */
  def eachTable(tables: Seq[Tab])(parseTable: (Tab, Int) => Seq[Item]): Seq[Item] = {
    val out = Seq.newBuilder[Item]
    val it = tables.iterator
    var tableIdx = 0
    while (it.hasNext) {
      val table = it.next()
      out ++= (try parseTable(table, tableIdx) catch { case _: Exception => Nil })
      tableIdx += 1
    }
    out.result()
  }

  /** Items of rows `from` until `until` (at most the table's end); a row
    * whose parse throws is dropped (the reference's per-row try/except). */
  def eachRow(table: Tab, from: Int, until: Int = Int.MaxValue)(parseRow: ItemAt): Seq[Item] = {
    val out = Seq.newBuilder[Item]
    var rowIdx = from
    while (rowIdx < until && rowIdx < table.rows.length) {
      val it = try parseRow(rowIdx) catch { case _: Exception => None }
      if (it.isDefined) out += it.get
      rowIdx += 1
    }
    out.result()
  }

  /** The mapping-or-content table pass of the invoice, commercial and
    * competitive parsers: with a column mapping, every row from
    * row 0 through `mapped`; without one, the content fallback over rows
    * 1.. on each row's non-empty cell values. */
  def mappedOrContent(table: Tab, tableIdx: Int, mapping: Option[Map[String, Int]],
                      mapped: (Row, Map[String, Int], Int, Int) => Option[Item],
                      content: (IndexedSeq[String], Int, Int) => Option[Item]): Seq[Item] =
    mapping match {
      case Some(m) => eachRow(table, 0)(rowIdx => mapped(table.rows(rowIdx), m, tableIdx, rowIdx))
      case None => eachRow(table, 1)(rowIdx => content(table.rowVals(rowIdx), tableIdx, rowIdx))
    }

  /** The text-lines pass: every stripped line of at least
    * `Rules.minLineLength` chars that carries a digit (an item needs a
    * parseable qty and price) goes to `lineItem` by index. */
  def eachLine(shared: SharedLines)(lineItem: ItemAt): Seq[Item] = {
    val out = Seq.newBuilder[Item]
    var lineIdx = 0
    while (lineIdx < shared.stripped.length) {
      if (shared.stripped(lineIdx).length >= Rules.minLineLength && shared.hasDigit(lineIdx)) {
        val it = lineItem(lineIdx)
        if (it.isDefined) out += it.get
      }
      lineIdx += 1
    }
    out.result()
  }

  /** `it` re-sourced as `<source><lineIdx>` with `confidence`. */
  def atLine(it: Option[Item], source: String, lineIdx: Int, confidence: Double): Option[Item] =
    if (it.isEmpty) it else Some(it.get.copy(source = source + lineIdx, confidence = confidence))

  /** First pattern, in order, that finds a match in `line` and whose
    * `build` yields an item; a `build` that throws (a missing group, a
    * None*float) yields none, as the reference's per-pattern try/except.
    * Parsers pass a function value they hold, so the per-line call
    * allocates no closure. */
  def firstMatch(patterns: Seq[Pattern], line: String)
                (build: (Pattern, Matcher) => Option[Item]): Option[Item] = {
    var i = 0
    while (i < patterns.length) {
      val p = patterns(i)
      val m = Patterns.cachedMatcher(p, line)
      if (m.find()) {
        val it = try build(p, m) catch { case _: Exception => None }
        if (it.isDefined) return it
      }
      i += 1
    }
    None
  }

  /** Does `p` declare the named group `g`? */
  def hasGroup(p: Pattern, g: String): Boolean = p.pattern().contains(s"(?<$g>")

  /** Header-synonym column mapping (parser.py:131-150 /
    * universal_parser.py:470-493 / commercial / competitive). The
    * reference's inner break is `if field in mapping: break` — a GLOBAL
    * check: once a field is mapped by ANY column, every later column stops
    * scanning the field list at that field. In practice this means fields
    * after the first-mapped one (usually `name`) become unreachable, and
    * the mapping usually collapses to a single entry -> the parsers fall
    * through to their positional/content fallbacks. Mirrored faithfully
    * (confirmed by the tools/parity_check.py sweep against the reference).
    * Reads the [[Tab]]'s cached per-column keys (several parsers would
    * otherwise recompute identical header cleanups per turn), which are
    * lowered already. The reference lowers each synonym at use
    * (`syn.lower() in col_str`); every synonym list is lowercase already
    * (KeywordsSpec checks it).
    * @param clean whether to apply the [^\w\s]->space cleanup first */
  def mapBySynonyms(table: Tab, fields: Seq[(String, Keywords)],
                    clean: Boolean): mutable.LinkedHashMap[String, Int] = {
    val cols = if (clean) table.headerClean else table.headerLower
    val lf = fields.toIndexedSeq
    val mapping = mutable.LinkedHashMap.empty[String, Int]
    var idx = 0
    while (idx < cols.length) {
      val colStr = cols(idx)
      var fi = 0
      var break_ = false
      while (!break_ && fi < lf.length) {
        val field = lf(fi)._1
        if (lf(fi)._2.inLower(colStr)) mapping(field) = idx
        if (mapping.contains(field)) break_ = true
        fi += 1
      }
      idx += 1
    }
    mapping
  }

  /** Elif-chain column mapping (invoice_parser.py:100-132 style): a column is
    * tested against field word-lists in order, first hit wins for the column;
    * None headers skipped; later columns overwrite. Optionally collapse
    * whitespace in the header first (precise parser). */
  def mapByElifChain(header: IndexedSeq[Option[String]],
                     fields: Seq[(String, Keywords)],
                     collapseWs: Boolean = false): mutable.LinkedHashMap[String, Int] = {
    val mapping = mutable.LinkedHashMap.empty[String, Int]
    val fs = fields.toIndexedSeq
    var idx = 0
    while (idx < header.length) {
      header(idx) match {
        case None => // pd.isna(col) -> continue
        case Some(c) =>
          val s = if (collapseWs) Py.collapseWs(Py.lower(c)) else c
          var fi = 0
          var done = false
          while (!done && fi < fs.length) {
            if (fs(fi)._2.inLower(s)) { mapping(fs(fi)._1) = idx; done = true }
            fi += 1
          }
      }
      idx += 1
    }
    mapping
  }

  /** Row cell by mapped index: mirrors `row.iloc[i]`; an out-of-range index
    * raises in pandas -> the reference skips the row (per-row try/except). */
  final class RowIndexError extends RuntimeException
  def iloc(row: IndexedSeq[Option[String]], i: Int): Option[String] =
    if (i < 0 || i >= row.length) throw new RowIndexError else row(i)

  /** Is the row a repeated header: does its first cell (`str(row.iloc[0])`,
    * lowered) contain one of `words`? */
  def isHeaderRow(row: Row, words: Keywords): Boolean =
    words.inLower(if (row.nonEmpty) Py.pyStr(row(0)) else "")

  private val one = Some(1.0)
  private val zero = Some(0.0)

  /** A row read through a document parser's column mapping (the mapped
    * table pass of parser.py, invoice_parser.py and their copies):
    * `str(row.iloc[m[f]])` for a mapped field, a default otherwise; qty
    * defaults to 1, price to 0, and an absent total is back-filled as
    * qty*price. The constructor reads name, qty, unit, price and total,
    * which every such parser reads; any other field is read through [[str]]
    * where the parser's reference reads it, since a mapped index past the
    * row's end raises [[RowIndexError]] and drops the row. */
  final class MappedRow(row: Row, m: Map[String, Int]) {
    def str(field: String, default: String = ""): String =
      if (m.contains(field)) Py.pyStr(iloc(row, m(field))) else default
    private def num(field: String, default: Option[Double]): Option[Double] =
      if (m.contains(field)) Num.parse(iloc(row, m(field)).orNull) else default
    val name: String = str("name")
    val qty: Option[Double] = num("qty", one)
    val unit: String = str("unit")
    val price: Option[Double] = num("price", zero)
    val total: Option[Double] = backfillIfNone(num("total", None), qty, price)
  }

  /** Cells of a product-table row read through a fixed column map
    * (table_extractor.py, precise_table_parser.py, supplier_profiles.py). */
  final case class ProductCells(name: String, article: String, unit: String,
                                qty: Option[Double], price: Option[Double], total: Option[Double]) {
    /** The row's item at confidence 0.95, or None without a name, qty or price. */
    def item(source: String): Option[Item] =
      if (name == null || name.isEmpty || qty.isEmpty || price.isEmpty) None
      else Some(Item(name, article, qty, unit, price, "RUB", backfillIfNone(total, qty, price), "",
        source, 0.95))
  }

  /** [[ProductCells]] of `row`: a column past the row's end is skipped;
    * numbers parse, NaN -> None; the name is null when unmapped or NaN;
    * article and unit are "" when unmapped or past the end and null when
    * NaN (the reference item dict keeps the NaN as None). `norm` is the
    * parser's cell cleanup. */
  def readProductCells(row: Row, m: Map[String, Int], norm: String => String): ProductCells = {
    var name: String = null
    var article, unit = ""
    var qty, price, total: Option[Double] = None
    m.foreach { case (field, colIdx) =>
      if (colIdx < row.length) {
        val cell = row(colIdx)
        val s = if (cell.isDefined) cell.get else null
        field match {
          case "qty" => if (s != null) qty = Num.parse(s)
          case "price" => if (s != null) price = Num.parse(s)
          case "total" => if (s != null) total = Num.parse(s)
          case "name" => if (s != null) name = norm(s)
          case "article" => article = if (s != null) norm(s) else null
          case "unit" => unit = if (s != null) norm(s) else null
          case _ => // "number": read but never used by the item
        }
      }
    }
    ProductCells(name, article, unit, qty, price, total)
  }

  /** Non-null, non-empty stripped cell values of a row (the content-fallback
    * `row_values` collection, invoice_parser.py:256-259). Single builder
    * pass — the flatten/map/filter chain built three collections per row. */
  def rowValues(row: IndexedSeq[Option[String]]): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < row.length) {
      val c = row(i)
      if (c.isDefined) {
        val s = Py.pyStrip(c.get)
        if (s.nonEmpty) out += s
      }
      i += 1
    }
    out.result()
  }

  def isEmptyName(name: String): Boolean = {
    val s = name.pyStrip
    s.isEmpty || s == "nan" || s == "None"
  }

  /** Python truthiness of Option[Double]: None or 0.0 -> false. */
  def truthy(v: Option[Double]): Boolean = v.exists(_ != 0.0)

  /** `total if total else qty * price` with Python falsy semantics; throws
    * (like Python TypeError on None arithmetic) when qty/price is None —
    * callers mirror the reference's local try/except. */
  final class PyTypeError extends RuntimeException
  def backfillFalsy(total: Option[Double], qty: Option[Double], price: Option[Double]): Option[Double] =
    if (truthy(total)) total
    else (qty, price) match {
      case (Some(q), Some(p)) => Some(q * p)
      case _ => throw new PyTypeError
    }

  /** `if item['total'] is None and item['qty'] and item['price']: total=qty*price` */
  def backfillIfNone(total: Option[Double], qty: Option[Double], price: Option[Double]): Option[Double] =
    if (total.isDefined) total
    else if (truthy(qty) && truthy(price)) Some(qty.get * price.get)
    else total

  /** Shared basic validation (parser.py:283-297): name len>=2, qty/price
    * present and > 0. */
  def validateBasic(it: Item): Boolean =
    it.name != null && Py.pyStripLen(it.name) >= 2 &&
      it.qty.isDefined && it.price.isDefined &&
      it.qty.get > 0 && it.price.get > 0

  /** Strict item validation used by universal/commercial parsers
    * (universal_parser.py:773-813): falsy name/qty/price reject; service
    * words; >=2 letters; positive; name length >= 5 (on the lowered name). */
  def validateStrict(it: Item, serviceWords: Keywords): Boolean = {
    if (it.name == null || it.name.isEmpty || !truthy(it.qty) || !truthy(it.price)) return false
    if (serviceWords.inLower(it.name)) return false
    val name = Py.lower(it.name)
    if (!Patterns.search(Patterns.hasLetter2, name)) return false
    if (it.qty.get <= 0 || it.price.get <= 0) return false
    if (Py.pyStripLen(name) < 5) return false
    true
  }

  /** Product-plausibility validation (table_extractor.py:218-256):
    * strict checks + product pattern / tech-spec whitelist. */
  def validateProduct(it: Item, excludeWords: Keywords): Boolean = {
    if (it.name == null || it.name.isEmpty || !truthy(it.qty) || !truthy(it.price)) return false
    if (excludeWords.inLower(it.name)) return false
    val name = Py.lower(it.name)
    if (!Patterns.search(Patterns.hasLetter2, name)) return false
    if (it.qty.get <= 0 || it.price.get <= 0) return false
    if (Py.pyStripLen(name) < 5) return false
    if (Patterns.productPatterns.exists(p => Patterns.search(p, name))) return true
    if (Patterns.search(Patterns.techSpecDim, name) || Patterns.search(Patterns.techSpecUnit, name)) return true
    false
  }

  /** The strict text-line prefilter of the invoice, commercial and
    * competitive text paths (invoice_parser.py:348-362): not a header or
    * service line (`excluded`, the caller's keyword hits), not
    * all-numeric, has a letter, no itogo phrase. The length gate is
    * [[eachLine]]'s. */
  def passesStrictLinePrefilter(line: String, lower: String, excluded: Boolean): Boolean =
    !excluded && !Patterns.matchAt(Patterns.allNumericLine, line) &&
      Patterns.search(Patterns.hasLetter, line) && !Patterns.search(Patterns.itogoLine, lower)

  /** Service-row check on an item name. */
  def isServiceRow(name: String, words: Keywords): Boolean = words.inLower(name)
}
