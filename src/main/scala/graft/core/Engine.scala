package graft.core

import graft.core.Py.PyStringOps

import graft.model._
import graft.rules.Rules
import ParserCommon.PyTypeError

/**
 * The per-turn extraction engine: runs all seven parsers over a turn's text
 * payload (semantics of UniversalParser.parse_document,
 * app/pipeline/universal_parser.py:76-295), selects the best parser (A3),
 * classifies the document (A4) and scores quality (A5/F9).
 *
 * Pure and deterministic — one turn in, one [[TurnResult]] out. The Spark
 * layer maps this over partitions; no state is shared across turns, which is
 * what makes the pipeline embarrassingly parallel (map-only, zero shuffles)
 * at 10^12-turn scale.
 */
object Engine {

  val parserOrder: Seq[String] = Seq(
    "commercial", "invoice", "competitive", "universal",
    "supplier_profile", "table_extractor", "precise_table_parser")

  def parseTurn(convId: String, turnIdx: Int, text: String): TurnResult = {
    val t = if (text == null) "" else text
    val shared = new ParserCommon.SharedLines(t)
    val seg = Segmentation.segmentShared(shared)
    val tables = seg.tables

    def run(name: String)(f: => Seq[Item]): ParserResult =
      try {
        val items = f
        // the reference computes sum(item['total']) inside each parser's
        // try block (universal_parser.py:127-132); a None total raises
        // TypeError there and turns the whole parser into an error result
        if (items.exists(_.total.isEmpty)) throw new PyTypeError
        ParserResult(name, items, error = false)
      } catch { case _: Exception => ParserResult(name, Nil, error = true) }

    val profileRes =
      try {
        val r = SupplierProfiles.parseWithProfile(t, tables)
        if (r.items.exists(_.total.isEmpty)) throw new PyTypeError
        Some(r)
      } catch { case _: Exception => None }

    val results: Seq[ParserResult] = Seq(
      run("commercial")(CommercialParser.parse(shared, tables)),
      run("invoice")(InvoiceParser.parse(shared, tables)),
      run("competitive")(CompetitiveParser.parse(shared, tables)),
      run("universal")(UniversalCoreParser.parse(shared, tables)),
      profileRes match {
        case Some(r) => ParserResult("supplier_profile", r.items, error = false)
        case None => ParserResult("supplier_profile", Nil, error = true)
      },
      run("table_extractor")(TableExtractor.parse(tables)),
      run("precise_table_parser")(PreciseTableParser.parse(tables)))

    val best = selectBest(results)

    // A7 — grand totals over non-error parsers (universal_parser.py:277-281).
    // Error parsers report all-zero stats, and x + 0.0 == x bitwise for the
    // non-negative partial sums here, so summing all seven stats in parser
    // order reproduces Python's skip-the-error-dicts float accumulation.
    val stats = results.map(r => ParserStat(r.parser, r.count, statTotal(r), r.avgConfidence))
    val grandCount = stats.iterator.map(_.count).sum
    val grandCost = stats.iterator.map(_.total_cost).foldLeft(0.0)(_ + _)
    val nValidParsers = stats.count(_.count > 0)
    val grandConf =
      if (nValidParsers > 0) stats.iterator.map(_.avg_confidence).foldLeft(0.0)(_ + _) / nValidParsers
      else 0.0

    val found = textFound(t)
    val docType = detectDocumentType(found)
    val (invS, comS, cmpS, conS) = documentTypeScores(found)
    val (tq, tabq, oq) = quality(found, tables)

    TurnResult(
      conv_id = convId,
      turn_idx = turnIdx,
      n_chars = t.length,
      n_lines = seg.lines.length,
      n_tables = tables.length,
      has_text = Py.pyStripLen(t) >= Rules.minTextLength,
      needs_fallback = needsFallback(t, found, tables),
      doc_type = docType,
      invoice_score = invS, commercial_score = comS,
      competitive_score = cmpS, contract_score = conS,
      text_quality = tq, table_quality = tabq, overall_quality = oq,
      best_parser = best.parser,
      best_count = best.count,
      best_total_cost = best.totalCost,
      best_avg_confidence = best.avgConf,
      supplier_id = profileRes.flatMap(r => Option(r.supplierId)).getOrElse(""),
      parser_stats = stats,
      best_items = best.items,
      extracted_text =
        if (seg.blocks.length <= 1) Segmentation.assembleSingleBlock(shared.raw)
        else Segmentation.assembleFromBlocks(seg.blocks),
      blocks = seg.blocks,
      recommendations = recommendations(docType),
      grand_total_count = grandCount,
      grand_total_cost = grandCost,
      grand_avg_confidence = grandConf)
  }

  /** A6 — recommendations (universal_parser.py:850-893). The reference's
    * per-parser counts there are ALWAYS zero: the guard
    * `if result and not isinstance(result, dict)` is false for every parser
    * result (they are all dicts), so only the doc-type warning branch and
    * the all-zero branch ever fire. Mirrored faithfully; the three possible
    * outputs are constants, precomputed once (immutable — safe to share). */
  private val recTail = Seq(
    "❌ Ни один парсер не нашел товарные позиции",
    "💡 Возможные причины: документ не содержит товарных позиций, неподдерживаемый формат")
  private val recCommercial =
    "⚠️ Коммерческое предложение не содержит товарных позиций" +: recTail
  private val recInvoice =
    "⚠️ Счет на оплату не содержит товарных позиций" +: recTail

  def recommendations(docType: String): Seq[String] =
    if (docType == "commercial_proposal") recCommercial
    else if (docType == "invoice") recInvoice
    else recTail

  /** sum(item['total']) per parser (A2 stats); error parsers report 0 and
    * run() guarantees surviving parsers carry no None totals. Index loop —
    * the flatMap built a fresh Seq per parser per turn. Left-to-right
    * accumulation order preserved (float-sum order matters for parity). */
  private def statTotal(r: ParserResult): Double = {
    if (r.error) return 0.0
    var acc = 0.0
    val it = r.items.iterator
    while (it.hasNext) {
      val t = it.next().total
      if (t.isDefined) acc += t.get
    }
    acc
  }

  final case class Best(parser: String, items: Seq[Item], count: Int, totalCost: Double, avgConf: Double)

  /** A3 — best-parser selection (universal_parser.py:219-287). */
  def selectBest(results: Seq[ParserResult]): Best = {
    var bestParser = ""
    var bestCount = 0
    var bestItems: Seq[Item] = Nil
    var bestTotal = 0.0
    var bestConf = 0.0
    results.foreach { r =>
      if (!r.error) {
        val count = r.count
        val valid = r.items.filter(isBestSelectable)
        var validCount = valid.length
        if (r.parser == "competitive" && validCount < count * 0.5) validCount = 0
        if (r.parser == "precise_table_parser" && validCount > 0) validCount *= 2
        if (validCount > bestCount) {
          bestCount = validCount
          bestParser = r.parser
          bestItems = valid
          bestTotal = sumTotals(valid)
          bestConf =
            if (valid.isEmpty) 0.0
            else {
              // left-to-right float sum without the intermediate Seq
              var acc = 0.0
              val it = valid.iterator
              while (it.hasNext) acc += it.next().confidence
              acc / valid.length
            }
        }
      }
    }
    Best(bestParser, bestItems, bestCount, bestTotal, bestConf)
  }

  private def sumTotals(items: Seq[Item]): Double = {
    var acc = 0.0
    val it = items.iterator
    while (it.hasNext) acc += it.next().total.getOrElse(throw new PyTypeError)
    acc
  }

  /** The selection-time item filter (universal_parser.py:244-257). */
  def isBestSelectable(it: Item): Boolean = {
    val raw = String.valueOf(it.name)
    if (Rules.bestSelectionServiceWords.inLower(raw)) return false
    val name = Py.lower(raw)
    if (Py.pyStripLen(name) <= 10) return false
    if (!name.exists(_.isLetter)) return false
    Rules.bestSelectionProductWords.inLower(raw)
  }

  /** The whole-text keyword lists (A4 doc type and scores, A5 text
    * quality, the F9 gate) as one [[Keywords]], so that one pass over a
    * turn's text finds the words of all nine; `textMasks(j)` holds the bits
    * of `textLists(j)`'s words. */
  private val textLists = Array(Rules.docTypeCommercial, Rules.docTypeInvoice, Rules.docTypeCompetitive,
    Rules.scoreInvoiceKeywords, Rules.scoreCommercialKeywords, Rules.scoreCompetitiveKeywords,
    Rules.scoreContractKeywords, Rules.validationKeyElements, Rules.qualityGateKeywords)
  private val textKeywords = new Keywords(textLists.toIndexedSeq.flatMap(_.words))
  private val textMasks: Array[Long] = {
    val ends = textLists.scanLeft(0)(_ + _.words.length)
    textLists.indices.map(j => (ends(j) until ends(j + 1)).foldLeft(0L)((m, k) => m | 1L << k)).toArray
  }

  /** The words of the whole-text lists that occur in `text.lower()`. */
  private[core] def textFound(text: String): Long = textKeywords.foundLower(text)

  /** How many words of the whole-text `list` are among the `found` ones. */
  private def hits(found: Long, list: Keywords): Int = {
    var j = 0
    while (textLists(j) ne list) j += 1
    java.lang.Long.bitCount(found & textMasks(j))
  }

  /** Simple 3-class doc-type detection over the lowercased text
    * (universal_parser.py:833-848). */
  def detectDocumentType(found: Long): String = {
    if (hits(found, Rules.docTypeCommercial) > 0) "commercial_proposal"
    else if (hits(found, Rules.docTypeInvoice) > 0) "invoice"
    else if (hits(found, Rules.docTypeCompetitive) > 0) "competitive_procedure"
    else "unknown"
  }

  /** A4 — 4-class keyword-hit scores, normalized (ocr_processor.py:209-275).
    * Returned as (invoice, commercial, competitive, contract). */
  def documentTypeScores(found: Long): (Double, Double, Double, Double) = {
    val inv = hits(found, Rules.scoreInvoiceKeywords).toDouble
    val com = hits(found, Rules.scoreCommercialKeywords).toDouble
    val cmp = hits(found, Rules.scoreCompetitiveKeywords).toDouble
    val con = hits(found, Rules.scoreContractKeywords).toDouble
    val total = inv + com + cmp + con
    if (total > 0) (inv / total, com / total, cmp / total, con / total)
    else (0.0, 0.0, 0.0, 0.0)
  }

  /** A5 — quality validation (ocr_processor.py:277-321):
    * (text_quality, table_quality, overall); an empty text scores 0. */
  def quality(found: Long, tables: Seq[Tab]): (Double, Double, Double) = {
    val tq = hits(found, Rules.validationKeyElements).toDouble / Rules.validationKeyElements.words.length
    val tabq =
      if (tables.nonEmpty)
        tables.count(t => t.rows.length > 1 && t.nCols > 2).toDouble / tables.length
      else 0.0
    (tq, tabq, (tq + tabq) / 2)
  }

  /** F9 — OCR-needed gate (enhanced_extractor.py:248-277). */
  def needsFallback(text: String, found: Long, tables: Seq[Tab]): Boolean = {
    if (Py.pyStripLen(text) < 100) return true
    if (hits(found, Rules.qualityGateKeywords) < 2) return true
    if (tables.nonEmpty && !tables.exists(t => t.rows.length > 1 && t.nCols > 2)) return true
    false
  }
}
