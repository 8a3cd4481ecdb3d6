package graft

import graft.core._
import graft.io.Transcripts
import java.nio.file.{Files, Paths}

/**
 * Parity-sweep dump: for N synthetic turns, emit JSON with the payload, the
 * segmented tables (core grid + meta, so the Python harness can rebuild the
 * exact pandas DataFrames) and each parser's items — consumed by
 * tools/parity_check.py, which runs the REFERENCE parsers on the same
 * inputs and diffs. Offline dev tool, not part of `sbt test`.
 */
object ParityDump {

  private def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(d: Option[Double]): String =
    d.map(v => if (v == v.toLong.toDouble && math.abs(v) < 1e15) v.toLong.toString else v.toString)
      .getOrElse("null")

  private def jitem(it: graft.model.Item): String =
    s"""{"name":${jstr(it.name)},"article":${jstr(it.article)},"qty":${jnum(it.qty)},""" +
    s""""unit":${jstr(it.unit)},"price":${jnum(it.price)},"currency":${jstr(it.currency)},""" +
    s""""total":${jnum(it.total)},"supplier":${jstr(it.supplier)},"source":${jstr(it.source)},""" +
    s""""confidence":${it.confidence}}"""

  private def jstat(p: graft.model.ParserStat): String =
    s"""{"parser":${jstr(p.parser)},"count":${p.count},"total_cost":${p.total_cost},""" +
    s""""avg_confidence":${p.avg_confidence}}"""

  /** Deterministic fuzz payload: random mix of Russian/service/product
    * words, numbers in assorted formats, units, currencies, punctuation,
    * newlines, colons and multi-space runs — exercises branch combinations
    * the structured shapes never hit. */
  def fuzzPayload(seed: Long, id: Long): String = {
    import Transcripts.{rngInt => ri}
    val words = Array(
      "Кабель", "силовой", "ВВГнг", "СИП-4", "перевозка", "итого", "всего",
      "ИНН", "КПП", "банк", "поставщик", "наименование", "кол-во", "цена",
      "сумма", "ед.изм", "шт", "кг", "м", "руб", "USD", "товар", "услуги",
      "балткабель", "элком", "старт", "энергофорсаж", "договор", "счет",
      "3х2,5", "№", "артикул", "widget", "amount", "поз", "дом", "корпус",
      "-", ".", ",", ":", "1", "25", "1 234,56", "1,234.56", "12,5", "0",
      "-7", "999999999", "5.", "..", "2025", "None", "nan", "ТУ", "х", "ё",
      "руб.", "шт.", "кг.", "м.", "л", "ЕВРО", "долл", "₽", "тонн", "штуки",
      "м2", "м3", "км", "0,00", "00", "1.2.3", "1,2,3", "--", "Ё", "предложение",
      "тендер", "аукцион", "получатель", "пл", "очер", "КАБ-12х400-1.5 ТУ",
      "очень длинное наименование товара с многими словами подряд",
      "12345678901234567890", "0.000001", "иНн", "Р/С", "к/с",
      // exotic whitespace / digit forms (Python-vs-Java divergence zone)
      "1\u00a0234,56", "\u00a0", "\u0085", "\u001c", "\u2007", "\u3000",
      "\u0665\u0666", "7\u00a0", "\u00a07", "1\u001c2", "шт\u00a0", "5\u0665")
    val seps = Array(" ", " ", "  ", "   ", "\n", "\n\n", ": ", "\t", "\r\n", "    ", "\n \n",
      "\u00a0", "\n\u00a0\n", "\u001c", " \u0085 ")
    val len = 3 + ri(seed, id, 900, 60)
    val sb = new StringBuilder
    (0 until len).foreach { k =>
      sb.append(words(ri(seed, id, 1000 + k, words.length)))
      sb.append(seps(ri(seed, id, 2000 + k, seps.length)))
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 1) args(1).toInt else 400
    val fuzz = args.length > 2 && args(2) == "fuzz"
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      val text =
        if (fuzz) fuzzPayload(if (args.length > 3) args(3).toLong else 977L, i.toLong)
        else Transcripts.payload(42L, i.toLong)
      val shared = new ParserCommon.SharedLines(text)
      val seg = Segmentation.segmentShared(shared)
      val tables = seg.tables
      // tables: strip the trailing _page/_table_id meta columns for export
      val tablesJson = tables.map { t =>
        val coreHeader = t.header.dropRight(2)
        val coreRows = t.rows.map(_.dropRight(2))
        val pageCell = t.rows.headOption.flatMap(r => r(r.length - 2)).getOrElse("1")
        val tidCell = t.rows.headOption.flatMap(r => r.last).getOrElse("1")
        s"""{"header":[${coreHeader.map(c => c.map(jstr).getOrElse("null")).mkString(",")}],""" +
        s""""rows":[${coreRows.map(r => "[" + r.map(c => c.map(jstr).getOrElse("null")).mkString(",") + "]").mkString(",")}],""" +
        s""""page":$pageCell,"table_id":$tidCell}"""
      }.mkString("[", ",", "]")
      def runSafe(f: => Seq[graft.model.Item]): String =
        try "[" + f.map(jitem).mkString(",") + "]"
        catch { case _: Exception => "\"ERROR\"" }
      val parsers = Seq(
        "text_parser" -> runSafe(TextParser.parse(shared, tables)),
        "commercial" -> runSafe(CommercialParser.parse(shared, tables)),
        "invoice" -> runSafe(InvoiceParser.parse(shared, tables)),
        "competitive" -> runSafe(CompetitiveParser.parse(shared, tables)),
        "universal" -> runSafe(UniversalCoreParser.parse(shared, tables)),
        "table_extractor" -> runSafe(TableExtractor.parse(tables)),
        "precise" -> runSafe(PreciseTableParser.parse(tables)),
        "profile" -> runSafe(SupplierProfiles.parseWithProfile(text, tables).items))
      // full-envelope fields (A3 best-parser selection + A4 doc type)
      val tr = Engine.parseTurn("c", 0, text)
      val envelope =
        s""""envelope":{"best_parser":${jstr(if (tr.best_parser.isEmpty) null else tr.best_parser)},""" +
        s""""best_count":${tr.best_count},"best_total_cost":${tr.best_total_cost},""" +
        s""""doc_type":${jstr(tr.doc_type)},""" +
        s""""grand_total_count":${tr.grand_total_count},""" +
        s""""grand_total_cost":${tr.grand_total_cost},""" +
        s""""grand_avg_confidence":${tr.grand_avg_confidence},""" +
        s""""best_items":[${tr.best_items.map(jitem).mkString(",")}]}"""
      // every other TurnResult field (text facts, A4 scores, A5 qualities,
      // the supplier, per-parser stats, the assembled text and its blocks,
      // the recommendations); conv_id and turn_idx are the fixed "c", 0
      val turn =
        s""""turn":{"n_chars":${tr.n_chars},"n_lines":${tr.n_lines},"n_tables":${tr.n_tables},""" +
        s""""has_text":${tr.has_text},"needs_fallback":${tr.needs_fallback},""" +
        s""""invoice_score":${tr.invoice_score},"commercial_score":${tr.commercial_score},""" +
        s""""competitive_score":${tr.competitive_score},"contract_score":${tr.contract_score},""" +
        s""""text_quality":${tr.text_quality},"table_quality":${tr.table_quality},""" +
        s""""overall_quality":${tr.overall_quality},""" +
        s""""best_avg_confidence":${tr.best_avg_confidence},"supplier_id":${jstr(tr.supplier_id)},""" +
        s""""parser_stats":[${tr.parser_stats.map(jstat).mkString(",")}],""" +
        s""""extracted_text":${jstr(tr.extracted_text)},"blocks":[${tr.blocks.map(jstr).mkString(",")}],""" +
        s""""recommendations":[${tr.recommendations.map(jstr).mkString(",")}]}"""
      sb.append(s"""{"id":$i,"text":${jstr(text)},"tables":$tablesJson,$envelope,$turn,""")
      sb.append(parsers.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(","))
      sb.append("}\n")
    }
    Files.writeString(Paths.get(args(0)), sb.toString)
    println(s"dumped $n turns to ${args(0)}")
  }
}
