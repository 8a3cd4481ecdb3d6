package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Keywords, Py}
import graft.rules.Rules

/** [[Keywords]] against the keyword tests it replaced ([[KeywordRefs]]):
  * `inLower` is `any(w in s.lower())`, `inUpper` is `any(w in s.upper())`
  * and `foundLower` marks each `w in s.lower()`, so that its bit count is
  * `sum(w in s.lower())`, on every string. */
class KeywordsSpec extends AnyFunSuite {

  private def check(kw: Keywords, s: String): Unit = {
    val ws = kw.words
    val lowerRef = KeywordRefs.containsAny(Py.lower(s), ws)
    assert(kw.inLower(s) == lowerRef, s"inLower '$s' $ws")
    assert(KeywordRefs.containsAnyLowered(s, ws) == lowerRef, s"containsAnyLowered '$s' $ws")
    val upperRef = KeywordRefs.containsAny(Py.upper(s), ws)
    assert(kw.inUpper(s) == upperRef, s"inUpper '$s' $ws")
    assert(KeywordRefs.containsAnyUppered(s, ws) == upperRef, s"containsAnyUppered '$s' $ws")
    if (ws.length <= 64) {
      val found = kw.foundLower(s)
      assert(java.lang.Long.bitCount(found) == KeywordRefs.countContains(Py.lower(s), ws), s"count '$s' $ws")
      ws.indices.foreach(k => assert(((found >>> k & 1) == 1) == Py.lower(s).contains(ws(k)), s"found '$s' ${ws(k)}"))
    }
  }

  private def count(kw: Keywords, s: String): Int = java.lang.Long.bitCount(kw.foundLower(s))

  /** Every keyword list of [[Rules]]: its `Keywords` values and the word
    * lists of its column-synonym maps. */
  private val ruleLists: Seq[(String, Keywords)] = {
    val direct = Rules.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 && m.getReturnType == classOf[Keywords])
      .map(m => m.getName -> m.invoke(Rules).asInstanceOf[Keywords])
    val maps = Seq("textColumnPatterns" -> Rules.textColumnPatterns,
      "universalColumnSynonyms" -> Rules.universalColumnSynonyms,
      "commercialHeaderPatterns" -> Rules.commercialHeaderPatterns,
      "competitiveHeaderPatterns" -> Rules.competitiveHeaderPatterns,
      "invoiceColumnWords" -> Rules.invoiceColumnWords)
    direct.sortBy(_._1) ++ maps.flatMap { case (n, fields) => fields.map { case (f, kw) => s"$n.$f" -> kw } }
  }

  test("every Rules keyword list is found") {
    assert(ruleLists.size >= 60, ruleLists.map(_._1))
    assert(ruleLists.exists(_._1 == "tokenCurrencies") && ruleLists.exists(_._1 == "serviceRowInvoice"))
  }

  test("property: every Rules list in the lower, upper and found modes on mixed-script strings") {
    val rnd = new scala.util.Random(77)
    val alphabet = "абвИТОГОитого AbCdİßΣσς№éÉ0129-  всего"
    ruleLists.foreach { case (_, kw) =>
      val pieces = kw.words.flatMap(w => Seq(w, Py.upper(w), w.take(2), w.drop(1)))
      (1 to 1500).foreach { _ =>
        val sb = new StringBuilder
        (0 until rnd.nextInt(8)).foreach { _ =>
          if (rnd.nextInt(3) == 0) sb ++= pieces(rnd.nextInt(pieces.length))
          else (0 until rnd.nextInt(6)).foreach(_ => sb += alphabet(rnd.nextInt(alphabet.length)))
        }
        check(kw, sb.toString)
      }
    }
  }

  test("edge cases: long words, overlaps, repeats, empty word, empty string") {
    val cases = Seq(
      Keywords("итого всего", "сумма") -> Seq("итого", "сумм", "", "ИТОГО ВСЕГО!", "сУММа"),
      Keywords("ого", "гого", "иго", "ого в") -> Seq("иГоГо", "гогого", "ого всего", "огоогого", "ог"),
      Keywords("сумма", "сумма", "итого") -> Seq("Сумма итого", "сумма", "", "СУММ"),
      Keywords("", "шт") -> Seq("", "шт", "кг", "İ", "Σ"),
      Keywords() -> Seq("", "итого"),
      Keywords("i̇", "σ", "ς", "ss") -> Seq("İ", "ΑΣ", "ΑΣΑ", "Σ", "ß", "aß", "İß"))
    cases.foreach { case (kw, strings) => strings.foreach(check(kw, _)) }
    assert(count(Keywords("сумма", "сумма", "итого"), "СУММА и ИТОГО") == 3)
    assert(count(Keywords("", "шт"), "") == 1 && Keywords("").inLower("") && Keywords("").inUpper(""))
    assert(!Keywords().inLower("итого") && count(Keywords(), "итого") == 0)
  }

  test("64 words fill the found-mask; a longer list answers the any modes only") {
    val full = new Keywords((0 until 63).map(i => s"w$i") :+ "w1")
    Seq("W1 w62 w7", "", "w1w2w3w4w5w6w7w8w9", "W1 İ w62", (0 until 63).map(i => s"w$i").mkString(" "))
      .foreach(check(full, _))
    assert(count(full, "W1 w62") == 4) // w1, w62, the repeated w1, and w6 inside w62
    assert(full.foundLower((0 until 63).map(i => s"w$i").mkString) == -1L)
    val long = new Keywords((0 until 70).map(i => s"w$i"))
    Seq("W69", "", "w7İ", "x").foreach(check(long, _))
    intercept[IllegalArgumentException](long.foundLower("w1"))
  }

  test("each BMP char folds as Python's lower and upper do in context") {
    intercept[IllegalArgumentException](Keywords("a\uFFFF")) // the table's no-fold mark
    var c = 0
    while (c < 0xFFFF) {
      val ch = c.toChar
      val one = String.valueOf(ch)
      val kws = Seq(String.valueOf(Character.toLowerCase(ch)), String.valueOf(Character.toUpperCase(ch)),
        Py.lower(one), Py.upper(one)).map(w => w -> Keywords(w))
      Seq(one, "a" + ch, ch + "a", "Α" + ch + "β", "x" + ch + ch).foreach { s =>
        kws.foreach { case (w, kw) =>
          assert(kw.inLower(s) == Py.lower(s).contains(w), f"inLower U+$c%04X '$w'")
          assert(kw.inUpper(s) == Py.upper(s).contains(w), f"inUpper U+$c%04X '$w'")
          assert(kw.foundLower(s) == (if (Py.lower(s).contains(w)) 1L else 0L), f"foundLower U+$c%04X '$w'")
        }
      }
      c += 1
    }
  }

  test("Py.lower is idempotent on every code point, so a lowered string may be passed") {
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      val l = Py.lower(new String(Character.toChars(cp)))
      assert(Py.lower(l) == l, f"U+$cp%04X")
      cp += 1
    }
    Seq("ΑΣ", "ΑΣ Α", "İİ", "ΣΑΣ").foreach(s => assert(Py.lower(Py.lower(s)) == Py.lower(s), s))
  }

  test("every column-synonym list is lowercase, as the synonym mapping assumes") {
    ruleLists.filter(_._1.contains('.')).foreach { case (n, kw) =>
      kw.words.foreach(w => assert(Py.lower(w) == w, s"$n: '$w'"))
    }
  }
}
