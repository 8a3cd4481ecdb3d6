package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.model.Item

/**
 * Golden behavior on the reference's own fixture
 * (data/sample_files/sample_invoice.txt) plus targeted semantics checks.
 */
class EngineSpec extends AnyFunSuite {

  private lazy val fixture: String = {
    val is = getClass.getResourceAsStream("/golden/sample_invoice.txt")
    try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally is.close()
  }

  test("segmentation: fixture splits into 4 blocks and one 5x4 table region") {
    val seg = Segmentation.segment(fixture)
    assert(seg.blocks.length == 4)
    assert(seg.tables.length == 1)
    val t = seg.tables.head
    assert(t.nCols == 7) // 5 data cols + _page + _table_id
    assert(t.rows.length == 4)
    assert(t.header.take(5).flatten == Seq("Наименование товара", "Кол-во", "Ед.изм", "Цена", "Сумма"))
  }

  test("TextParser: the reference's global-break synonym mapping collapses to {name}; fallback yields nothing") {
    // parity-verified against the reference (tools/parity_check.py): once
    // 'name' is mapped, later columns break at 'name', the mapping stays
    // size 1 and the row-text fallback merges both numbers into an
    // unparsable price -> zero items
    val seg = Segmentation.segment(fixture)
    assert(TextParser.parse(fixture, seg.tables).isEmpty)
  }

  test("InvoiceParser extracts 4 via its elif-chain mapping; Commercial/Universal none; Competitive 7") {
    val seg = Segmentation.segment(fixture)
    val inv = InvoiceParser.parse(fixture, seg.tables)
    assert(inv.length == 4)
    val a = inv.head
    assert(a.name == "Товар А")
    assert(a.qty.contains(5.0))
    assert(a.unit == "шт")
    assert(a.price.contains(100.5))
    assert(a.total.contains(502.5))
    assert(a.confidence == 0.95)
    assert(a.source == "table_0_row_0")
    assert(!inv.exists(_.name.toLowerCase.contains("итого")))
    // commercial: mapping collapses, content fallback needs a leading
    // position number -> 0; universal: positional layout points name at
    // the qty cell -> validation rejects all rows
    assert(CommercialParser.parse(fixture, seg.tables).isEmpty)
    assert(UniversalCoreParser.parse(fixture, seg.tables).isEmpty)
    // competitive: 3 table items via the content fallback (row 0 skipped,
    // conf 0.8) + 4 text items via the R13 token splitter (unit glued into
    // the name), no dedup collisions
    val comp = CompetitiveParser.parse(fixture, seg.tables)
    assert(comp.length == 7)
    assert(comp.count(_.source.startsWith("table_0_row")) == 3)
    assert(comp.filter(_.source.startsWith("table_0_row")).forall(_.confidence == 0.8))
    assert(comp.count(_.source.startsWith("table_line_")) == 4)
    assert(comp.exists(_.name == "Товар А шт")) // R13 glues the unit token
  }

  test("product-gated table parsers reject non-product names (F8)") {
    val seg = Segmentation.segment(fixture)
    assert(TableExtractor.parse(seg.tables).isEmpty)
    assert(PreciseTableParser.parse(seg.tables).isEmpty)
  }

  test("product-gated parsers accept cable products") {
    val text =
      """Наименование          Кол-во  Ед.изм  Цена      Сумма
        |Кабель силовой ВВГ 3х2,5   10  м       1 200,00  12 000,00
        |СИП-4 4х16                 50  м       85,50     4 275,00""".stripMargin
    val seg = Segmentation.segment(text)
    assert(seg.tables.length == 1)
    val items = TableExtractor.parse(seg.tables)
    assert(items.length == 2)
    assert(items.head.name == "Кабель силовой ВВГ 3х2,5")
    assert(items.head.qty.contains(10.0))
    assert(items.head.price.contains(1200.0))
    assert(items.head.total.contains(12000.0))
  }

  test("first-wins dedup is order-dependent (A1)") {
    def it(name: String, src: String) =
      Item.base(name, Some(1.0), "", Some(2.0), "RUB", Some(2.0), src, 0.9)
    val out = ParserCommon.dedup(Seq(it("Кабель", "table"), it(" КАБЕЛЬ  ", "text"), it("Другое", "x")))
    assert(out.map(_.source) == Seq("table", "x"))
  }

  test("structured key:value blocks (R14)") {
    val text =
      """Наименование: Кабель ВВГ 3х2.5
        |Количество: 10
        |Цена: 1200,50
        |
        |Наименование: СИП-4
        |Количество: 5
        |Цена: 300""".stripMargin
    val items = CompetitiveParser.parse(text, Nil)
    assert(items.exists(i => i.name == "Кабель ВВГ 3х2.5" && i.qty.contains(10.0) && i.price.contains(1200.5)))
    assert(items.exists(i => i.name == "СИП-4" && i.total.contains(1500.0)))
    assert(items.forall(_.confidence == 0.9))
  }

  test("line-wise R14 block walk equals the reference regex split on adversarial whitespace") {
    // the rewrite's equivalence claim, exercised end-to-end: parsing the
    // WHOLE text must yield exactly the structured items of parsing each
    // `re.split(r'\n\s*\n')` block separately — across exotic separators
    // (NBSP, \x1c, CRLF, tab runs) and boundary blank lines
    val pat = java.util.regex.Pattern.compile("\\n[\\s\\x1c-\\x1f]*\\n",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    def structured(items: Seq[Item]) =
      items.filter(_.source == "structured_text")
        .map(i => (i.name, i.qty, i.price, i.total))
    def block(n: Int) =
      s"Наименование: Товар $n\nКоличество: $n\nЦена: ${n}00"
    val seps = Seq("\n\n", "\n \n", "\n \n", "\n\n", "\r\n\r\n", "\n\t \t\n\n")
    val texts = Seq(
      seps.zipWithIndex.foldLeft(block(1)) { case (acc, (sep, i)) => acc + sep + block(i + 2) },
      "  \n" + block(1) + "\n\n" + block(2) + "\n  ", // boundary blank lines
      "\n" + block(3) + "\n",                  // \x1c boundary lines
      block(4) + "\r\n\r\n" + block(5))
    texts.foreach { text =>
      val whole = structured(CompetitiveParser.parse(text, Nil))
      val perBlock = pat.split(text, -1).toSeq
        .filter(b => Py.pyStripLen(b) > 0)
        .flatMap(b => structured(CompetitiveParser.parse(b, Nil)))
      assert(whole.nonEmpty, s"fixture must produce items: ${text.take(40)}")
      assert(whole == perBlock, s"text=${text.replace("\n", "\\n")}")
    }
  }

  test("supplier profile routing (J4) with per-profile filters") {
    val text =
      """ООО 'БАЛТКАБЕЛЬ' ИНН 7800000000
        |
        |№  Наименование провода  Кол-во  Ед  Срок  Цена   Сумма
        |1  СИП-4 4х16            50      м   5     85,50  4275,00
        |2  Кабель ВВГ            10      м   5     1200   12000""".stripMargin
    val seg = Segmentation.segment(text)
    assert(SupplierProfiles.identifySupplier(text).contains("baltkabel"))
    val res = SupplierProfiles.parseWithProfile(text, seg.tables)
    // baltkabel filter keeps only names containing 'СИП' (case-sensitive)
    assert(res.items.nonEmpty)
    assert(res.items.forall(_.name.contains("СИП")))
    assert(res.items.forall(_.supplier == "ООО 'БАЛТКАБЕЛЬ'"))
  }

  test("engine end-to-end on the fixture: doc type, quality, no best (whitelist)") {
    val r = Engine.parseTurn("c1", 0, fixture)
    assert(r.n_tables == 1)
    assert(r.has_text)
    assert(r.doc_type == "commercial_proposal") // 'поставщик'/'товар' hit first in the elif chain
    assert(r.best_parser == "") // fixture names fail the best-selection product whitelist
    val stats = r.parser_stats.map(s => s.parser -> s.count).toMap
    assert(stats("invoice") == 4)
    assert(stats("commercial") == 0)
    assert(stats("competitive") == 7)
    assert(stats("universal") == 0)
    assert(stats("table_extractor") == 0)
    assert(r.text_quality == 0.8) // товар, цена, сумма, итого present; количество absent
  }

  test("precise_table_parser 2x boost wins best-parser selection on cable invoices (A3)") {
    val text =
      """Счет на оплату № 123
        |
        |Наименование товара    Кол-во  Ед.изм  Цена      Сумма
        |Кабель силовой ВВГнг 3х2,5   10  м     1 200,00  12 000,00
        |Перевозка до склада заказчика  1  шт   5 000,00  5 000,00""".stripMargin
    val r = Engine.parseTurn("c1", 1, text)
    // precise finds both cable/transport rows -> 2 valid x2 boost = 4,
    // beating commercial's 2
    assert(r.best_parser == "precise_table_parser")
    assert(r.best_items.length == 2)
    assert(r.best_count == 4)
  }

  test("engine selects precise_table_parser on 13-col split-header tables (M4 + A3 2x boost)") {
    val text =
      """Спецификация
        |
        |№  Наимен  ование  Доп  Прим  Кол-во  Ед. изм.  Срок поставки  Цена (б  ез НДС)  Сумма (с НДС)
        |1  Кабель силовой  ВВГ 3х2,5  .  .  10  м  5 дней  1 200,00  .  12 000,00""".stripMargin
    val r = Engine.parseTurn("c1", 2, text)
    assert(r.best_parser == "precise_table_parser")
    assert(r.best_count == 2) // 1 valid item x2 priority boost
    // M4 split-header repair merges the name continuation cells
    assert(r.best_items.head.name.startsWith("Кабель силовой ВВГ 3х2,5"))
    assert(r.best_items.head.qty.contains(10.0))
    assert(r.best_items.head.price.contains(1200.0))
    assert(r.best_items.head.total.contains(12000.0))
  }

  test("extracted text assembly is deterministic and strips blank lines") {
    val text = "  a  \n\n\n b \nc  \n"
    assert(Segmentation.assembleText(text) == "a\n\nb\nc")
    assert(Segmentation.assembleText(text) == Segmentation.assembleText(text))
  }

  test("empty and junk payloads produce empty results without errors (F9)") {
    val r = Engine.parseTurn("c", 2, "")
    assert(r.best_count == 0 && r.needs_fallback)
    val r2 = Engine.parseTurn("c", 3, "short")
    assert(r2.needs_fallback && !r2.has_text)
    val r3 = Engine.parseTurn("c", 4, null)
    assert(r3.n_chars == 0)
  }

  // exception scope: a mapped index past a ragged row's end raises
  // RowIndexError, which each reference parser catches per row
  private val ragged = Tab(
    Vector(Some("Цена"), Some("Количество"), Some("Наименование")),
    Vector(
      Vector(Some("100"), Some("10"), Some("Кабель ВВГ 3х2,5")),
      Vector(Some("250"), Some("4"), Some("Провод ПВС 2х1,5")),
      Vector(Some("300"), Some("2")), // no name cell
      Vector(Some("150"), Some("8"), Some("Кабель АВВГ 4х16"))))

  test("a row that raises in a mapped table pass drops only that row") {
    def sources(items: Seq[Item]) = items.map(_.source)
    val kept = Seq("table_0_row_0", "table_0_row_1", "table_0_row_3")
    assert(sources(TextParser.parse("", Seq(ragged))) == kept)
    assert(sources(InvoiceParser.parse("", Seq(ragged))) == kept)
    assert(sources(CommercialParser.parse("", Seq(ragged))) == kept)
    assert(sources(UniversalCoreParser.parse("", Seq(ragged))) == kept.map("universal_" + _))
    // competitive skips row 0 as its header, by position
    assert(sources(CompetitiveParser.parse("", Seq(ragged))) == kept.tail)
  }

  test("a row that raises in TextParser's row-text fallback empties its table") {
    def fallback(rows: Vector[Option[String]]*) =
      TextParser.parse("", Seq(Tab(Vector(Some("a"), Some("b")), rows.toVector)))
    val line = Vector(Some("Кабель ВВГ 10 шт 100 руб"), None)
    assert(fallback(line).map(_.source) == Seq("table_0_row_0"))
    // a null cell makes the row's notna-join raise: no per-row catch there
    assert(fallback(line, Vector(Some("x"), null)).isEmpty)
  }
}
