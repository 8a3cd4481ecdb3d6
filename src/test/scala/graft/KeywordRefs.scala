package graft

import graft.core.Py

/** The keyword tests the engine ran before [[graft.core.Keywords]]: plain
  * containment over a lowered string, the keyword-hit count, and the
  * in-place lower/upper variants that fold one char at a time per word and
  * offset. KeywordsSpec runs every `Keywords` mode against them, string by
  * string. Nothing in the program calls them. */
object KeywordRefs {

  /** any(indicator in s for indicator in words) over a lowercase string.
    * Hand loop: `words.exists(sLower.contains)` allocates a capturing
    * closure on every call, and this runs per line per filter per parser. */
  def containsAny(sLower: String, words: Seq[String]): Boolean = {
    words match {
      case l: List[String] =>
        var w = l
        while (w ne Nil) {
          if (sLower.contains(w.head)) return true
          w = w.tail
        }
        false
      case _ =>
        var i = 0
        val n = words.length
        while (i < n) {
          if (sLower.contains(words(i))) return true
          i += 1
        }
        false
    }
  }

  /** count(1 for w in words if w in sLower) — allocation-free sibling of
    * [[containsAny]] for the keyword-hit scores. */
  def countContains(sLower: String, words: Seq[String]): Int = {
    var c = 0
    words match {
      case l: List[String] =>
        var w = l
        while (w ne Nil) {
          if (sLower.contains(w.head)) c += 1
          w = w.tail
        }
      case _ =>
        var i = 0
        val n = words.length
        while (i < n) {
          if (sLower.contains(words(i))) c += 1
          i += 1
        }
    }
    c
  }

  /** `containsAny(Py.lower(s), words)` without allocating the lowered copy:
    * when every char of `s` is ASCII or basic-Cyrillic (where
    * Character.toLowerCase is exactly Python str.lower — 1:1, no locale
    * expansions), search case-insensitively in place; anything else falls
    * back to the exact lower-then-contains path. Only for call sites
    * whose lowered string is used for NOTHING but the containment check. */
  def containsAnyLowered(s: String, words: Seq[String]): Boolean = {
    var simple = true
    var i = 0
    while (simple && i < s.length) {
      val c = s.charAt(i)
      simple = c < 0x80 || (c >= 0x0400 && c <= 0x04FF)
      i += 1
    }
    if (!simple) return containsAny(Py.lower(s), words)
    words match {
      case l: List[String] =>
        var w = l
        while (w ne Nil) {
          if (containsLowered(s, w.head)) return true
          w = w.tail
        }
        false
      case _ =>
        var j = 0
        val n = words.length
        while (j < n) {
          if (containsLowered(s, words(j))) return true
          j += 1
        }
        false
    }
  }

  /** `containsAny(Py.upper(s), words)` without allocating the uppered copy —
    * the exact mirror of [[containsAnyLowered]] (Character.toUpperCase is
    * 1:1 with Python str.upper on ASCII + basic Cyrillic; anything else
    * falls back to the exact upper-then-contains path). */
  def containsAnyUppered(s: String, words: Seq[String]): Boolean = {
    var simple = true
    var i = 0
    while (simple && i < s.length) {
      val c = s.charAt(i)
      simple = c < 0x80 || (c >= 0x0400 && c <= 0x04FF)
      i += 1
    }
    if (!simple) return containsAny(Py.upper(s), words)
    words match {
      case l: List[String] =>
        var w = l
        while (w ne Nil) {
          if (containsUppered(s, w.head)) return true
          w = w.tail
        }
        false
      case _ =>
        var j = 0
        val n = words.length
        while (j < n) {
          if (containsUppered(s, words(j))) return true
          j += 1
        }
        false
    }
  }

  /** Is uppercase `w` a substring of upper(s)? 1:1-uppering inputs only. */
  def containsUppered(s: String, w: String): Boolean = {
    val n = s.length
    val m = w.length
    if (m == 0) return true
    var i = 0
    while (i + m <= n) {
      var j = 0
      while (j < m && Character.toUpperCase(s.charAt(i + j)) == w.charAt(j)) j += 1
      if (j == m) return true
      i += 1
    }
    false
  }

  /** Is lowercase `w` a substring of lower(s)? 1:1-lowering inputs only. */
  def containsLowered(s: String, w: String): Boolean = {
    val n = s.length
    val m = w.length
    if (m == 0) return true
    var i = 0
    while (i + m <= n) {
      var j = 0
      while (j < m && Character.toLowerCase(s.charAt(i + j)) == w.charAt(j)) j += 1
      if (j == m) return true
      i += 1
    }
    false
  }
}
