package graft.core

import java.util.regex.Pattern

/**
 * Shared text helpers + the embedded-table model.
 *
 * An [[Tab]] mirrors the reference's pandas table: `header` is the first
 * grid row (pandas `columns`), `rows` the rest; the metadata columns
 * `_page` / `_table_id` appended by the extractor
 * (app/pipeline/extractor.py:93-94) are INCLUDED in header/rows — their
 * presence affects column counts and positional layouts (e.g. the >=13
 * layout in precise_table_parser.py:193-203 counts them).
 *
 * Cells are Option[String]: None mirrors pandas NaN (pd.isna true); the
 * reference's `str(cell)` of a missing value yields "None", mirrored by
 * [[Py.pyStr]].
 */
final case class Tab(header: IndexedSeq[Option[String]], rows: IndexedSeq[IndexedSeq[Option[String]]]) {
  def nCols: Int = header.length
  /** Per-row `rowValues` cache: four parsers' content fallbacks recompute
    * the identical non-null/strip/filter pass over the same rows — pure
    * reuse, zero semantic change (rowValues is a pure function). */
  lazy val rowVals: IndexedSeq[IndexedSeq[String]] = rows.map(ParserCommon.rowValues)
  /** `lower(str(col)).strip()` per header column — the clean=false synonym
    * key; recomputed identically by several parsers per turn. */
  lazy val headerLower: IndexedSeq[String] =
    header.map(c => Py.pyStrip(Py.lower(Py.pyStr(c))))
  /** `cleanColName(str(col))` per header column — the clean=true synonym
    * key (regex cleanup + token join, the expensive one). */
  lazy val headerClean: IndexedSeq[String] =
    header.map(c => Py.cleanColName(Py.pyStr(c)))
}

/** Python-semantics string helpers (Unicode classes, casefolding).
  *
  * Whitespace fidelity: Python has TWO whitespace sets —
  *  - `str.strip()/str.split()/re \s` = Unicode White_Space PLUS the bidi
  *    B/S controls U+001C-001F (and U+0085);
  *  - `float()` end-stripping = Unicode White_Space only (rejects U+001C).
  * Java's `String.strip` (isWhitespace) misses NBSP/U+0085; Java regex `\s`
  * with UNICODE_CHARACTER_CLASS misses U+001C-1F. Both are patched here.
  */
object Py {
  private val wsRun = Pattern.compile("[\\s\\x1c-\\x1f]+", Pattern.UNICODE_CHARACTER_CLASS)
  private val nlRun = Pattern.compile("\\n+")
  private val nonWordSpace = Pattern.compile("[^\\w\\s\\x1c-\\x1f]", Pattern.UNICODE_CHARACTER_CLASS)

  /** Python str whitespace: Character.isWhitespace (covers \t\n\x1c-\x1f,
    * Zs-without-noBreak...) OR isSpaceChar (covers NBSP/Zs/Zl/Zp) OR NEL. */
  def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'

  /** Python str.strip(). */
  def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  private val emptyStrArray = new Array[String](0)

  /** Python str.split() (no argument): split on runs of str-whitespace,
    * no empty tokens. Hand-rolled two-pass char scan over [[isPySpace]] —
    * the same set as the `[\s\x1c-\x1f]` UNICODE class used elsewhere
    * (guarded by the exotic-whitespace parity corpus) — so the only
    * allocations are the exact-size result array and the token substrings
    * (a regex split pays a matcher reset + growable buffer + copy). */
  def pySplit(s: String): Array[String] = {
    val t = pyStrip(s)
    val len = t.length
    if (len == 0) return emptyStrArray
    var i = 0
    var count = 0
    var inTok = false
    while (i < len) {
      if (!isPySpace(t.charAt(i))) { if (!inTok) { count += 1; inTok = true } }
      else inTok = false
      i += 1
    }
    if (count == 1) return Array(t) // stripped, so a single token IS t
    val out = new Array[String](count)
    var k = 0
    i = 0
    while (i < len) {
      if (!isPySpace(t.charAt(i))) {
        var j = i + 1
        while (j < len && !isPySpace(t.charAt(j))) j += 1
        out(k) = t.substring(i, j)
        k += 1
        i = j
      } else i += 1
    }
    out
  }

  /** length of pyStrip(s) without allocating the stripped copy. */
  def pyStripLen(s: String): Int = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    b - a
  }

  implicit final class PyStringOps(private val s: String) extends AnyVal {
    def pyStrip: String = Py.pyStrip(s)
  }

  /** `str(cell)` over an optional cell: missing -> "None" (pandas NaN str). */
  def pyStr(cell: Option[String]): String = cell.getOrElse("None")

  /** Python str.lower(): Locale-independent toLowerCase. */
  def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Python str.upper(): Locale-independent toUpperCase (default-locale
    * toUpperCase would be Turkish-i hazardous). */
  def upper(s: String): String = s.toUpperCase(java.util.Locale.ROOT)

  /** Python str.strip(). */
  def strip(s: String): String = pyStrip(s)

  /** `_clean_name` (invoice_parser.py:413-420): \s+ -> ' ', \n+ -> ' ', strip.
    * Fast path: a name whose only whitespace is single interior ASCII
    * spaces is already in normal form — both regex passes and the strip
    * are no-ops, so return it unchanged (the common case for table cells
    * and regex-captured names). */
  def cleanName(name: String): String = {
    if (name.nonEmpty && isWsNormal(name)) return name
    var n = Patterns.cachedMatcher(wsRun, name).replaceAll(" ")
    n = Patterns.cachedMatcher(nlRun, n).replaceAll(" ")
    pyStrip(n)
  }

  /** Column-name cleanup used by synonym matchers
    * (universal_parser.py:478-479): lower, [^\w\s] -> ' ', collapse spaces. */
  def cleanColName(col: String): String = {
    var s = pyStrip(lower(col))
    s = Patterns.cachedMatcher(nonWordSpace, s).replaceAll(" ")
    pySplit(s).mkString(" ") // ' '.join(s.split())
  }

  /** Is `s` already whitespace-normal (no leading/trailing space, only
    * single interior ASCII spaces)? Then collapse/strip are no-ops. */
  private def isWsNormal(s: String): Boolean = {
    if (s.isEmpty) return true
    if (s.charAt(0) == ' ' || s.charAt(s.length - 1) == ' ') return false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') { if (i + 1 < s.length && s.charAt(i + 1) == ' ') return false }
      else if (isPySpace(c)) return false
      i += 1
    }
    true
  }

  /** Collapse \s+ to ' ' then strip (precise_table_parser.py:145,297). */
  def collapseWs(s: String): String =
    if (isWsNormal(s)) s
    else pyStrip(Patterns.cachedMatcher(wsRun, s).replaceAll(" "))
}

/** A keyword list compiled once for the engine's keyword tests: does any
  * word occur in Python's `s.lower()` ([[inLower]]) or `s.upper()`
  * ([[inUpper]]), and which of the words occur in `s.lower()`
  * ([[foundLower]], whose bit count is `sum(w in s.lower() for w in words)`)?
  * One left-to-right pass folds each char of `s` through a per-char case
  * table and checks in place the words that can start there; nothing is
  * allocated. A string holding a char the table cannot fold — one whose case
  * is not one char in every context: İ, ß, Σ, a surrogate — takes the exact
  * path instead: lower or upper the string, then test containment.
  *
  * `Py.lower` is idempotent (KeywordsSpec checks every code point), so a
  * caller that holds an already-lowered string for other uses passes it. */
final class Keywords(val words: IndexedSeq[String]) {
  import Keywords._
  require(!words.exists(_.indexOf(NoFold) >= 0), "a keyword holds U+FFFF")

  private val ws = words.toArray
  private val emptyMask = ws.indices.filter(ws(_).isEmpty).foldLeft(0L)((m, k) => m | 1L << k)
  /** Indices of the one-char words. */
  private val singles: Array[Int] = ws.indices.filter(ws(_).length == 1).toArray
  /** Indices of the longer words by the [[pair]] slot of their first two chars. */
  private val byPair: Array[Array[Int]] = {
    val b = new Array[Array[Int]](PairSlots)
    ws.indices.filter(ws(_).length >= 2).groupBy(k => pair(ws(k).charAt(0), ws(k).charAt(1)))
      .foreach { case (slot, idx) => b(slot) = idx.toArray }
    b
  }

  def inLower(s: String): Boolean = find(s, upper = false, all = false) != 0
  def inUpper(s: String): Boolean = find(s, upper = true, all = false) != 0

  /** Bit k set when `words(k)` occurs in `s.lower()`; at most 64 words. */
  def foundLower(s: String): Long = {
    require(ws.length <= 64, "a found-mask covers at most 64 words")
    find(s, upper = false, all = true)
  }

  /** Bit k (mod 64) set when `words(k)` occurs in the lowered (uppered)
    * `s`; unless `all`, any non-zero value once one word occurs. */
  private def find(s: String, upper: Boolean, all: Boolean): Long = {
    val found = scan(s, if (upper) Upper else Lower, all)
    if (found != NotFolded) found | emptyMask
    else { // the exact path
      val t = if (upper) Py.upper(s) else Py.lower(s)
      var m = 0L
      var k = 0
      while (k < ws.length) { if (t.contains(ws(k))) m |= 1L << k; k += 1 }
      m
    }
  }

  /** The non-empty words occurring in the fold of `s`, found in place: the
    * mask of all of them when `all`, else 1 at the first one; [[NotFolded]]
    * at the first char the table cannot fold (or when all 64 bits are
    * found: the exact path then answers). A word found before that char is
    * exact: every char up to its end folds 1:1 in any context, so its
    * folded span is a substring of the lowered (uppered) string. */
  private def scan(s: String, fold: Array[Char], all: Boolean): Long = {
    val n = s.length
    var found = 0L
    var prev = NoFold
    var i = 0
    while (i < n) {
      val f = fold(s.charAt(i))
      if (f == NoFold) return NotFolded
      var k = 0
      while (k < singles.length) {
        if (ws(singles(k)).charAt(0) == f) {
          if (!all) return 1L
          found |= 1L << singles(k)
        }
        k += 1
      }
      val b = byPair(pair(prev, f))
      if (b != null && i > 0) { // a longer word may start at i - 1
        k = 0
        while (k < b.length) {
          val wi = b(k)
          if ((found & (1L << wi)) == 0 && occursAt(s, i - 1, ws(wi), fold)) {
            if (!all) return 1L
            found |= 1L << wi
          }
          k += 1
        }
      }
      prev = f
      i += 1
    }
    found
  }
}

object Keywords {
  def apply(words: String*): Keywords = new Keywords(words.toIndexedSeq)

  private final val NoFold = '\uFFFF'
  private final val NotFolded = -1L

  /** A slot for two consecutive chars: their low five bits each, so the
    * bigrams of the basic Cyrillic and ASCII lowercase letters do not
    * collide among themselves. */
  private final val PairSlots = 1024
  private def pair(a: Char, b: Char): Int = (a & 31) << 5 | (b & 31)

  /** `f` of each BMP char where it is one char in every context, else
    * [[NoFold]]: İ lowers and ß uppers to two chars, Σ lowers by context
    * (final sigma), a surrogate is half a code point. */
  private def table(f: String => String, contextual: Char): Array[Char] = {
    val t = new Array[Char](0x10000)
    var c = 0
    while (c < t.length) {
      val ch = c.toChar
      val m = if (Character.isSurrogate(ch) || ch == contextual || ch == NoFold) "" else f(String.valueOf(ch))
      t(c) = if (m.length == 1) m.charAt(0) else NoFold
      c += 1
    }
    t
  }
  private val Lower = table(Py.lower, '\u03A3')
  private val Upper = table(Py.upper, NoFold)

  /** Does `w` occur at `i` in the fold of `s`? */
  private def occursAt(s: String, i: Int, w: String, fold: Array[Char]): Boolean = {
    val m = w.length
    if (i + m > s.length) return false
    var j = 0
    while (j < m && fold(s.charAt(i + j)) == w.charAt(j)) j += 1
    j == m
  }
}

/** Compiled regex patterns with Python-equivalent flags. */
object Patterns {
  import graft.rules.Rules

  /** Compile with Python-re-equivalent semantics. Besides the Unicode
    * flags, Python's \s additionally matches the bidi controls U+001C-1F
    * (not in Unicode White_Space, so Java's UNICODE \s misses them) — every
    * `\s` is widened to the union class. Safe textually: `\s` only ever
    * appears inside a class (nested-class union) or as `\s+`/`\s*`. */
  /** UNIX_LINES: Python's `.`/`^`/`$` recognize ONLY \n as a line
    * terminator; Java without this flag also breaks on \r, U+0085,
    * U+2028/29 — a real divergence under exotic whitespace. */
  // NOTE (round-2 measurement): an enumerated Python-whitespace class
  // ([\x09-\x0d\x20... all 10 ranges]) benchmarked 3x SLOWER than this
  // [\s\x1c-\x1f] union — Java optimizes the \s predicate with a latin-1
  // fast path that a many-range class does not get. Keep the union form.
  private def py(p: String): Pattern =
    Pattern.compile(p.replace("\\s", "[\\s\\x1c-\\x1f]"),
      Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE |
      Pattern.MULTILINE | Pattern.UNICODE_CHARACTER_CLASS | Pattern.UNIX_LINES)

  // exact-match helpers (Python re.match anchors at start only)
  // \d must be Unicode Nd, like Python's (e.g. Arabic-Indic digits match)
  val digitsOnly: Pattern = Pattern.compile("^\\d+$", Pattern.UNICODE_CHARACTER_CLASS)
  val allNumericLine: Pattern = py("^[\\d\\s\\.,]+$")
  val hasLetter: Pattern = py("[а-яёa-z]")
  val hasCyr2: Pattern = Pattern.compile("[А-Яа-я]{2,}") // universal_parser.py:406 (no IGNORECASE)
  val hasLetter2: Pattern = py("[а-яёa-z]{2,}")
  val itogoLine: Pattern = py(Rules.itogoLine)
  val hasDigit: Pattern = Pattern.compile("\\d", Pattern.UNICODE_CHARACTER_CLASS)
  val techSpecDim: Pattern = py("\\d+[х×]\\d+")
  val techSpecUnit: Pattern = py("\\d+[кмлшт]")
  /** P6 unit cleanup `[^\w.]` — Python \w is Unicode (keeps Cyrillic). */
  val unitCleanup: Pattern = Pattern.compile("[^\\w\\.]", Pattern.UNICODE_CHARACTER_CLASS)
  val commercialTechPrefix: Pattern =
    Pattern.compile(Rules.commercialTechPrefix, Pattern.UNICODE_CHARACTER_CLASS) // no IGNORECASE in reference
  val startsWithLetter: Pattern = py("^[а-яёa-z]")
  val numericToken: Pattern = Pattern.compile("^[\\d\\.,]+$", Pattern.UNICODE_CHARACTER_CLASS)

  val textPatterns: Seq[Pattern] = Seq(py(Rules.textP1), py(Rules.textP2), py(Rules.textP3))
  val invoicePatterns: Seq[Pattern] = Seq(py(Rules.invoiceP1))
  val commercialPatterns: Seq[Pattern] = Seq(py(Rules.commercialP1))
  val competitivePatterns: Seq[Pattern] =
    Seq(py(Rules.competitiveP1), py(Rules.competitiveP2), py(Rules.competitiveP3), py(Rules.competitiveP4))
  val universalPatterns: Seq[Pattern] = Seq(py(Rules.universalP1), py(Rules.universalP2))

  val productPatterns: Seq[Pattern] = Rules.productPatterns.map(py)
  val innPatterns: Seq[Pattern] = Rules.innPatterns.map(py)

  /** profile header compat patterns (supplier_profiles.py:298-299 etc.) */
  def profilePattern(p: String): Pattern =
    Pattern.compile(p, Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE |
      Pattern.UNICODE_CHARACTER_CLASS | Pattern.UNIX_LINES)

  /** Per-thread Matcher reuse: Matcher construction (group arrays + reset)
    * was the single hottest allocation site in the per-turn engine loop
    * (sampled round 2); reset(s) on a cached instance reuses the arrays.
    * Safe because every use below is complete before the same pattern can
    * be requested again on the thread (no interleaved iteration). */
  private val localMatchers =
    ThreadLocal.withInitial[java.util.IdentityHashMap[Pattern, java.util.regex.Matcher]](
      () => new java.util.IdentityHashMap[Pattern, java.util.regex.Matcher]())

  def cachedMatcher(p: Pattern, s: CharSequence): java.util.regex.Matcher = {
    val map = localMatchers.get()
    var m = map.get(p)
    if (m == null) { m = p.matcher(s); map.put(p, m) } else m.reset(s)
    m
  }

  /** re.search equivalent. */
  def search(p: Pattern, s: String): Boolean = cachedMatcher(p, s).find()
  /** re.match equivalent (anchored at start). */
  def matchAt(p: Pattern, s: String): Boolean = cachedMatcher(p, s).lookingAt()

  /** Named group or null if absent/unmatched. */
  def group(m: java.util.regex.Matcher, name: String): String =
    try m.group(name) catch { case _: IllegalArgumentException => null }
}
