package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import scala.collection.mutable

/** Shared parser machinery (the reference duplicates all of this per parser;
  * one canonical copy here). */
object ParserCommon {

  /** Shared per-turn line views: every reference parser begins its text pass
    * with the same `text.split('\n')` + per-line `strip()` (+ lowercase for
    * keyword checks). Computing them once per turn removes 6-7 redundant
    * splits/lowercases per payload — pure reuse, zero semantic change. */
  final class SharedLines(val text: String) {
    val raw: Array[String] =
      if (text == null || text.isEmpty) Array.empty else text.split("\n", -1)
    val stripped: Array[String] = raw.map(_.pyStrip)
    lazy val lower: Array[String] = stripped.map(Py.lower)
    // per-line keyword-list hits, computed once and shared by the parsers
    // that use identical lists (invoice+universal share both of theirs)
    lazy val headerInvoice: Array[Boolean] =
      lower.map(l => Py.containsAny(l, graft.rules.Rules.headerLineInvoice))
    lazy val serviceInvoice: Array[Boolean] =
      lower.map(l => Py.containsAny(l, graft.rules.Rules.serviceLineInvoice))
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
    * otherwise recompute identical header cleanups per turn).
    * @param clean whether to apply the [^\w\s]->space cleanup first */
  def mapBySynonyms(table: Tab, fields: Seq[(String, Seq[String])],
                    clean: Boolean): mutable.LinkedHashMap[String, Int] =
    mapBySynonymsKeys(if (clean) table.headerClean else table.headerLower, fields)

  /** Lowered synonym lists, memoized per fields value (the reference lowers
    * each synonym at use — `syn.lower() in col_str` — which in the hot loop
    * re-lowercases static data per column). */
  private val loweredFieldsCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[(String, Seq[String])], Seq[(String, Seq[String])]]()
  private def loweredFields(fields: Seq[(String, Seq[String])]): Seq[(String, Seq[String])] =
    loweredFieldsCache.computeIfAbsent(fields,
      f => f.map { case (k, syns) => (k, syns.map(Py.lower)) })

  private def mapBySynonymsKeys(cols: IndexedSeq[String],
                                fields: Seq[(String, Seq[String])]): mutable.LinkedHashMap[String, Int] = {
    val lf = loweredFields(fields).toIndexedSeq
    val mapping = mutable.LinkedHashMap.empty[String, Int]
    var idx = 0
    while (idx < cols.length) {
      val colStr = cols(idx)
      var fi = 0
      var break_ = false
      while (!break_ && fi < lf.length) {
        val field = lf(fi)._1
        if (Py.containsAny(colStr, lf(fi)._2)) mapping(field) = idx
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
                     fields: Seq[(String, Seq[String])],
                     collapseWs: Boolean = false): mutable.LinkedHashMap[String, Int] = {
    val mapping = mutable.LinkedHashMap.empty[String, Int]
    val fs = fields.toIndexedSeq
    var idx = 0
    while (idx < header.length) {
      header(idx) match {
        case None => // pd.isna(col) -> continue
        case Some(c) =>
          var s = Py.lower(c)
          if (collapseWs) s = Py.collapseWs(s)
          var fi = 0
          var done = false
          while (!done && fi < fs.length) {
            if (Py.containsAny(s, fs(fi)._2)) { mapping(fs(fi)._1) = idx; done = true }
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

  /** `str(row.iloc[i])` (missing -> "None"). */
  def ilocStr(row: IndexedSeq[Option[String]], i: Int): String = Py.pyStr(iloc(row, i))

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
  def validateStrict(it: Item, serviceWords: Seq[String]): Boolean = {
    if (it.name == null || it.name.isEmpty || !truthy(it.qty) || !truthy(it.price)) return false
    val name = Py.lower(it.name)
    if (Py.containsAny(name, serviceWords)) return false
    if (!Patterns.search(Patterns.hasLetter2, name)) return false
    if (it.qty.get <= 0 || it.price.get <= 0) return false
    if (Py.pyStripLen(name) < 5) return false
    true
  }

  /** Product-plausibility validation (table_extractor.py:218-256):
    * strict checks + product pattern / tech-spec whitelist. */
  def validateProduct(it: Item, excludeWords: Seq[String]): Boolean = {
    if (it.name == null || it.name.isEmpty || !truthy(it.qty) || !truthy(it.price)) return false
    val name = Py.lower(it.name)
    if (Py.containsAny(name, excludeWords)) return false
    if (!Patterns.search(Patterns.hasLetter2, name)) return false
    if (it.qty.get <= 0 || it.price.get <= 0) return false
    if (Py.pyStripLen(name) < 5) return false
    if (Patterns.productPatterns.exists(p => Patterns.search(p, name))) return true
    if (Patterns.search(Patterns.techSpecDim, name) || Patterns.search(Patterns.techSpecUnit, name)) return true
    false
  }

  /** Common text-line prefilter used by invoice/commercial text paths
    * (invoice_parser.py:348-362): strip, len>=10, not header/service line,
    * not all-numeric, has a letter, no itogo phrase. */
  def passesStrictLinePrefilter(line: String, lower: String,
                                headerWords: Seq[String], serviceWords: Seq[String]): Boolean = {
    if (line.isEmpty || line.length < Rules.minLineLength) return false
    if (Py.containsAny(lower, headerWords) || Py.containsAny(lower, serviceWords)) return false
    if (Patterns.matchAt(Patterns.allNumericLine, line)) return false
    if (!Patterns.search(Patterns.hasLetter, line)) return false
    if (Patterns.search(Patterns.itogoLine, lower)) return false
    true
  }

  /** Variant with precomputed header/service hits (pure-boolean conditions —
    * evaluation order does not affect the outcome). */
  def passesStrictLinePrefilterHits(line: String, lower: String,
                                    headerHit: Boolean, serviceHit: Boolean): Boolean = {
    if (line.isEmpty || line.length < Rules.minLineLength) return false
    if (headerHit || serviceHit) return false
    if (Patterns.matchAt(Patterns.allNumericLine, line)) return false
    if (!Patterns.search(Patterns.hasLetter, line)) return false
    if (Patterns.search(Patterns.itogoLine, lower)) return false
    true
  }

  /** Service-row check on an item name. */
  def isServiceRow(name: String, words: Seq[String]): Boolean =
    Py.containsAnyLowered(name, words)
}
