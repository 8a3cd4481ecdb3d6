package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Num

/** P1 — locale-aware number parsing (reference app/pipeline/parser.py:247-281). */
class NumSpec extends AnyFunSuite {

  private def p(s: String): Option[Double] = Num.parse(s)

  test("US format with both separators drops commas") {
    assert(p("1,234.56").contains(1234.56))
    assert(p("12,345,678.9").contains(12345678.9))
  }

  test("RU decimal comma") {
    assert(p("1 234,56").contains(1234.56))
    assert(p("1,5").contains(1.5))
    assert(p("12,34").contains(12.34))
  }

  test("comma as thousands separator when >2 trailing digits or multiple commas") {
    assert(p("1,234").contains(1234.0))
    assert(p("1,2,3").contains(123.0))
  }

  test("spaces removed; currency and units stripped") {
    assert(p("2 000").contains(2000.0))
    assert(p("100.50 руб").contains(100.5))
    // "руб." leaves a stray dot -> float() fails -> None, as in Python
    assert(p("100.50 руб.").isEmpty)
    assert(p("шт 5").contains(5.0))
  }

  test("invalid inputs yield None") {
    assert(p("").isEmpty)
    assert(p(null).isEmpty)
    assert(p("abc").isEmpty)
    assert(p("1.2.3").isEmpty)
    assert(p("-").isEmpty)
    assert(p("Товар").isEmpty)
  }

  test("negatives, trailing dot, leading whitespace") {
    assert(p("-5").contains(-5.0))
    assert(p("5.").contains(5.0))
    assert(p("  7,25 ").contains(7.25))
  }

  test("non-breaking space inside a number defeats float(), like Python") {
    // Python:   survives the [^\d.,\s-] filter (it is \s), but
    // replace(' ','') does not remove it -> float() fails -> None
    assert(p("1 234,56").isEmpty)
  }

  test("property: formatted doubles round-trip in both locales") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val int = rnd.nextLong(100000000L)
      val frac = rnd.nextInt(100)
      val us = f"$int%d.$frac%02d"
      assert(p(us).contains(us.toDouble), us)
      val ru = f"$int%d,$frac%02d"
      assert(p(ru).contains(us.toDouble), ru)
      // grouped with spaces
      val grouped = f"$int%,d".replace(",", " ") + f",$frac%02d"
      assert(p(grouped).contains(us.toDouble), grouped)
    }
  }

  test("property: ASCII fast path is bit-identical to the general pipeline") {
    val rnd = new scala.util.Random(1234)
    val alphabet = "0123456789.,- " // exactly the fast-path character set
    (1 to 30000).foreach { _ =>
      val s = (0 until rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val fast = graft.core.Num.parse(s)
      val slow = graft.core.Num.parseSlow(s)
      assert(fast == slow, s"'$s': fast=$fast slow=$slow")
      // bit-identical doubles, not just ==
      assert(fast.map(java.lang.Double.doubleToRawLongBits) ==
        slow.map(java.lang.Double.doubleToRawLongBits), s"'$s' bits differ")
    }
    // targeted edges: long digit runs (Long fast path boundary), signs, dots
    Seq("999999999999999", "1000000000000000", "00000000000000007",
        "-", ".", ",", " , ", "5.", ".5", "-0", "1-2", "--5", "12,", ",5",
        "1,2,3", "1.2.3", "1 2 3", "12 , 34", "  42  ").foreach { s =>
      assert(graft.core.Num.parse(s) == graft.core.Num.parseSlow(s), s)
    }
  }

  test("property: containsAnyLowered equals lower-then-contains on mixed unicode") {
    val rnd = new scala.util.Random(77)
    val alphabet = "абвИТОГОитого AbCdİßΣσς№éÉ0129-  всего"
    val words = Seq("итого", "всего", "abc", "№", "ого в")
    (1 to 20000).foreach { _ =>
      val s = (0 until rnd.nextInt(25)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val exact = KeywordRefs.containsAny(graft.core.Py.lower(s), words)
      val fast = KeywordRefs.containsAnyLowered(s, words)
      assert(fast == exact, s"'$s'")
    }
  }

  test("property: never throws on arbitrary junk") {
    val rnd = new scala.util.Random(7)
    val alphabet = "0123456789.,- абвгдABC \t\n₽руб"
    (1 to 2000).foreach { _ =>
      val s = (1 to rnd.nextInt(20)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      p(s) // must not throw
    }
    succeed
  }
}
