package graft.core

import scala.collection.mutable

/**
 * Turn-payload segmentation: line splitting (T1), blank-line block splitting
 * (T5), and table-region detection by whitespace-column clustering (T3 —
 * the text-payload analog of the reference's pdfplumber char clustering,
 * app/pipeline/extractor.py:193-220, gap threshold there 20px; here a run of
 * >=2 spaces is a column gap).
 *
 * A detected region becomes a [[Tab]]: first row = header (pandas `columns`),
 * rest = rows, padded rectangular, with the reference's `_page` / `_table_id`
 * metadata columns appended (extractor.py:93-94) — their presence is
 * semantically significant for positional column layouts.
 */
object Segmentation {

  // precompiled: String.split(String) recompiles a multi-char regex on
  // EVERY call — this runs once per tabular line per turn
  private val cellGap = java.util.regex.Pattern.compile("\\s{2,}")

  final case class Segmented(lines: IndexedSeq[String], blocks: IndexedSeq[String], tables: IndexedSeq[Tab])

  def segment(text: String): Segmented =
    segmentShared(new graft.core.ParserCommon.SharedLines(text))

  def segmentShared(shared: graft.core.ParserCommon.SharedLines): Segmented = {
    val lines: IndexedSeq[String] =
      if (shared.text == null || shared.text.isEmpty) IndexedSeq.empty
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(shared.raw)
    Segmented(lines, blocks(shared.text), tables(lines))
  }

  /** Does the `\n\s*\n` block separator occur at all? Existence scan that
    * lets the common single-block turn skip the regex split entirely. */
  private def hasBlockGap(s: String): Boolean = {
    var i = s.indexOf('\n')
    while (i >= 0) {
      var j = i + 1
      while (j < s.length && s.charAt(j) != '\n' && isSplitWs(s.charAt(j))) j += 1
      if (j < s.length && s.charAt(j) == '\n') return true
      i = s.indexOf('\n', i + 1)
    }
    false
  }

  /** T5: blank-line separated blocks, trimmed, empties dropped. */
  def blocks(text: String): IndexedSeq[String] =
    if (text == null || text.isEmpty) IndexedSeq.empty
    else if (!hasBlockGap(text)) {
      val t = text.strip()
      if (t.isEmpty) IndexedSeq.empty else IndexedSeq(t)
    }
    else text.split("\\n\\s*\\n", -1).toIndexedSeq.map(_.strip()).filter(_.nonEmpty)

  /** The engine's normalized per-turn text: blocks of trimmed non-empty
    * lines joined with "\n", blocks joined with "\n\n" (span assembly —
    * the byte-compared "extracted text" of the north rule). */
  def assembleText(text: String): String = assembleFromBlocks(blocks(text))

  def assembleFromBlocks(bs: IndexedSeq[String]): String =
    bs.map { b =>
      b.split("\n", -1).map(_.strip()).filter(_.nonEmpty).mkString("\n")
    }.mkString("\n\n")

  /** Fast assembly for turns whose block split produced <= 1 block (the
    * overwhelming majority): with no inter-block "\n\n" separator to place,
    * the assembled text is exactly the non-empty stripped raw lines joined
    * with "\n" — identical to assembleFromBlocks (separator-consumed lines
    * are all-whitespace, so they strip to empty and are filtered either
    * way) without re-splitting the payload. */
  def assembleSingleBlock(rawLines: Array[String]): String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < rawLines.length) {
      val t = rawLines(i).strip()
      if (!t.isEmpty) {
        if (sb.length > 0) sb.append('\n')
        sb.append(t)
      }
      i += 1
    }
    sb.toString
  }

  /** T3: whitespace-column table regions. A line is tabular when its trimmed
    * form splits into >=2 cells on runs of >=2 spaces; a run of >=2
    * consecutive tabular lines is a region. */
  def tables(lines: IndexedSeq[String]): IndexedSeq[Tab] = {
    val out = mutable.ArrayBuffer.empty[Tab]
    var runStart = -1
    var tableId = 0
    val cells = new Array[IndexedSeq[Option[String]]](lines.length)
    var ci = 0
    while (ci < lines.length) { cells(ci) = splitCells(lines(ci)); ci += 1 }

    // pad to width and append the _page / _table_id meta columns in ONE
    // array build per row (the padTo + ++ chain copied every row twice)
    def padMeta(r: IndexedSeq[Option[String]], width: Int,
                m1: Option[String], m2: Option[String]): IndexedSeq[Option[String]] = {
      val a = new Array[Option[String]](width + 2)
      var i = 0
      while (i < width) { a(i) = if (i < r.length) r(i) else None; i += 1 }
      a(width) = m1
      a(width + 1) = m2
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }

    def flush(endExclusive: Int): Unit = {
      if (runStart >= 0 && endExclusive - runStart >= 2) {
        var width = 0
        var i = runStart
        while (i < endExclusive) {
          if (cells(i).length > width) width = cells(i).length
          i += 1
        }
        // validation reads the UNPADDED grid: padding only appends None
        // cells, which change neither the header's non-empty count nor a
        // row's any-defined-cell test, and header.length < 2 == width < 2
        // under padding — so validate first, build the final padded+meta
        // rows once, only for grids that survive
        if (isValidGridRun(cells, runStart, endExclusive, width)) {
          tableId += 1
          val tidCell = Some(tableId.toString)
          val metaHeader = padMeta(cells(runStart), width, Some("_page"), Some("_table_id"))
          val metaRows = (runStart + 1 until endExclusive)
            .map(i => padMeta(cells(i), width, Some("1"), tidCell))
          out += Tab(metaHeader, metaRows)
        }
      }
      runStart = -1
    }

    var i = 0
    while (i < lines.length) {
      if (cells(i).length >= 2) { if (runStart < 0) runStart = i }
      else flush(i)
      i += 1
    }
    flush(lines.length)
    out.toIndexedSeq
  }

  /** Java-regex-default \s (the class `cellGap` compiles with). */
  private def isSplitWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** Any two consecutive gap chars? Cheap scan that skips the regex split
    * for the (majority) non-tabular lines — pure fast path, same result. */
  private def hasCellGap(s: String): Boolean = {
    var i = 1
    while (i < s.length) {
      if (isSplitWs(s.charAt(i)) && isSplitWs(s.charAt(i - 1))) return true
      i += 1
    }
    false
  }

  private val singleNone: IndexedSeq[Option[String]] = IndexedSeq(None)

  private def splitCells(line: String): IndexedSeq[Option[String]] = {
    val t = line.strip()
    if (t.isEmpty) return singleNone
    if (!hasCellGap(t)) return IndexedSeq(Some(t))
    cellGap.split(t, -1).toIndexedSeq.map { c =>
      val s = c.strip()
      if (s.isEmpty) None else Some(s)
    }
  }

  /** is_valid_table (extractor.py:222-249): >=1 row, >=2 cols, >=2 non-empty
    * headers, >=1 row with any non-empty cell — evaluated on the UNPADDED
    * run (equivalent: the padding cells are all None). */
  private def isValidGridRun(cells: Array[IndexedSeq[Option[String]]],
                             runStart: Int, endExclusive: Int, width: Int): Boolean = {
    if (endExclusive - runStart < 2) return false // no data row
    if (width < 2) return false                   // padded header length < 2
    val nonEmptyCols = cells(runStart).count(_.exists(_.strip().nonEmpty))
    if (nonEmptyCols < 2) return false
    var i = runStart + 1
    while (i < endExclusive) {
      if (cells(i).exists(_.isDefined)) return true
      i += 1
    }
    false
  }
}
