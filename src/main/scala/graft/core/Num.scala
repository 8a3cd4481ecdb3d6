package graft.core

import java.util.regex.Pattern

/**
 * Locale-aware numeric parsing, mirroring the reference's `_parse_number`
 * (app/pipeline/parser.py:247-281, duplicated 8x there; implemented once here).
 *
 * Semantics (byte-exact with the Python algorithm):
 *  1. str.strip() (Python whitespace set — see [[Py.isPySpace]]);
 *  2. drop every char not in [\d.,\s-] (\d = Unicode Nd; \s = Python's re
 *     whitespace, i.e. Unicode White_Space + U+001C-1F);
 *  3. if both ',' and '.' present -> drop ',' (US 1,234.56);
 *     elif ',' present -> if exactly one ',' and <=2 chars after it, ','->'.'
 *     (RU decimal 1 234,56); else drop ',' (thousands);
 *  4. drop ASCII spaces only (Python `replace(' ', '')` — other whitespace
 *     kept);
 *  5. float(): strips Unicode White_Space (NOT U+001C-1F!) from the ends,
 *     accepts Unicode Nd digits, rejects anything else non-numeric.
 */
object Num {
  private val nonNumeric: Pattern =
    Pattern.compile("[^\\d\\.,\\s\\x1c-\\x1f-]", Pattern.UNICODE_CHARACTER_CLASS)

  /** Unicode White_Space (the float()-stripping set; narrower than
    * Py.isPySpace — excludes U+001C-1F). */
  private def isFloatWs(c: Char): Boolean =
    (c >= '\u0009' && c <= '\u000D') || c == ' ' || c == '\u0085' ||
    c == '\u00A0' || c == '\u1680' || (c >= '\u2000' && c <= '\u200A') ||
    c == '\u2028' || c == '\u2029' || c == '\u202F' || c == '\u205F' || c == '\u3000'

  /** Python float(str): end-strip White_Space, accept Unicode Nd digits,
    * then parse; None on anything float() would reject. */
  private def pyFloat(s: String): Option[Double] = {
    var a = 0
    var b = s.length
    while (a < b && isFloatWs(s.charAt(a))) a += 1
    while (b > a && isFloatWs(s.charAt(b - 1))) b -= 1
    if (a >= b) return None
    // java parseDouble trims any char <= 0x20 — Python float() does not,
    // so remaining boundary controls (e.g. U+001C) must fail here
    if (s.charAt(a) <= ' ' || s.charAt(b - 1) <= ' ') return None
    val sb = new java.lang.StringBuilder(b - a)
    var i = a
    while (i < b) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') sb.append(c)
      else if (Character.isDigit(c)) {
        val d = Character.digit(c, 10)
        if (d < 0) return None
        sb.append(('0' + d).toChar)
      } else sb.append(c)
      i += 1
    }
    try Some(java.lang.Double.parseDouble(sb.toString))
    catch { case _: NumberFormatException => None }
  }

  /**
   * Exact fast path for pure-ASCII `[0-9., space -]` inputs — the
   * overwhelming majority of table cells and numeric tokens. Within this
   * character set the full pipeline reduces to: trim spaces, apply the
   * comma rule (afterLen counted BEFORE space removal, like the slow
   * path), drop spaces, parseDouble; all-digit results <= 15 chars parse
   * as an exact Long (< 2^53, so Long->Double conversion is exact and
   * identical to parseDouble). Verified equal to the slow path over NumSpec
   * vectors, the q02 DuckDB oracle and the reference-parity sweeps.
   */
  private def parseAsciiFast(raw: String): Option[Double] = {
    var a = 0
    var b = raw.length
    while (a < b && raw.charAt(a) == ' ') a += 1
    while (b > a && raw.charAt(b - 1) == ' ') b -= 1
    if (a >= b) return None
    var commas = 0
    var dots = 0
    var lastComma = -1
    var i = a
    while (i < b) {
      val c = raw.charAt(i)
      if (c == ',') { commas += 1; lastComma = i }
      else if (c == '.') dots += 1
      i += 1
    }
    val commaToDot = commas == 1 && dots == 0 && (b - lastComma - 1) <= 2
    val buf = new Array[Char](b - a)
    var len = 0
    var allDigits = true
    i = a
    while (i < b) {
      val c = raw.charAt(i)
      if (c == ' ') ()
      else if (c == ',') { if (commaToDot) { buf(len) = '.'; len += 1; allDigits = false } }
      else {
        buf(len) = c
        len += 1
        if (c < '0' || c > '9') allDigits = false
      }
      i += 1
    }
    if (len == 0) return None
    if (allDigits && len <= 15) {
      var v = 0L
      var j = 0
      while (j < len) { v = v * 10 + (buf(j) - '0'); j += 1 }
      return Some(v.toDouble)
    }
    try Some(java.lang.Double.parseDouble(new String(buf, 0, len)))
    catch { case _: NumberFormatException => None }
  }

  def parse(raw: String): Option[Double] = {
    if (raw == null) return None
    val n = raw.length
    if (n > 0) {
      var i = 0
      var ascii = true
      while (ascii && i < n) {
        val c = raw.charAt(i)
        ascii = (c >= '0' && c <= '9') || c == '.' || c == ',' || c == ' ' || c == '-'
        i += 1
      }
      if (ascii) return parseAsciiFast(raw)
    }
    parseSlow(raw)
  }

  /** The general pipeline (kept reachable for the fast-vs-slow differential
    * in NumSpec). */
  private[graft] def parseSlow(raw: String): Option[Double] = {
    if (raw == null) return None
    var s = Py.pyStrip(raw)
    // digit-free bail: the cleanup keeps only [\d.,\s-], so without a digit
    // (Unicode Nd — exactly what \d admits) every surviving string is some
    // mix of '.', ',', '-', whitespace — all of which float() rejects. The
    // common case here is a Cyrillic name/unit cell fed through the content
    // fallback, which otherwise pays a full regex replaceAll for a
    // guaranteed None. (Covered by NumSpec's fast-vs-slow differential and
    // the reference-parity sweeps.)
    var hasDigit = false
    var di = 0
    while (!hasDigit && di < s.length) {
      hasDigit = Character.isDigit(s.charAt(di)); di += 1
    }
    if (!hasDigit) return None
    s = Patterns.cachedMatcher(nonNumeric, s).replaceAll("")
    val hasComma = s.indexOf(',') >= 0
    val hasDot = s.indexOf('.') >= 0
    if (hasComma && hasDot) {
      s = s.replace(",", "")
    } else if (hasComma) {
      val idx = s.lastIndexOf(',')
      val commaCount = s.count(_ == ',')
      val afterLen = s.length - idx - 1
      if (commaCount == 1 && afterLen <= 2) s = s.replace(',', '.')
      else s = s.replace(",", "")
    }
    s = s.replace(" ", "")
    if (s.isEmpty) None else pyFloat(s)
  }

  /** [[parse]] over a Catalyst string, boxed null on unparsable — the
    * static target of `graft.expr.functions.parse_number`. */
  def parseOrNull(raw: org.apache.spark.unsafe.types.UTF8String): java.lang.Double =
    parse(raw.toString).map(java.lang.Double.valueOf).orNull
}
