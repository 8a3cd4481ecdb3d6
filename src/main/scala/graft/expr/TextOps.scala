package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, lower}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native kernels for the corpus token/shingle/gram pipeline, called
 * statically from whole-stage codegen through [[textops]].
 *
 * The declarative chain `filter(split(lower(text), "[^a-z0-9]+"), _ != "")`
 * -> arrays_zip of k shifted slices -> transform(concat_ws) ->
 * array_distinct re-evaluates the token split per slice reference, runs
 * every lambda interpreted, and recompiles the split regex on every row.
 * These kernels produce bit-identical outputs in one pass per row.
 *
 * Tokens come from one scanner over the bytes of the lowered
 * `UTF8String`: the maximal `[a-z0-9]` byte runs. They are exactly the
 * non-empty parts of the regex split, with no decode: the separator class
 * is ASCII, every byte of a multi-byte UTF-8 character is >= 0x80 (so it
 * lies in a separator run), and `Lower` always returns valid UTF-8 (an
 * invalid input decodes to U+FFFD, a separator). Tokens and shingles are
 * copied out of that buffer, never views into it (codegen reuses the
 * input row's buffer across rows). Shingles are the space-joined k-grams
 * in array_distinct's first-occurrence order; every 60-bit hash is
 * [[SigCore.hash60]] of an md5 (== `conv(substring(md5(s),1,15),16,10)`).
 * Lower stays a real Catalyst `Lower` child, so case mapping is
 * byte-for-byte Spark's. TextOpsSpec holds the differential against the
 * HOF formulations on real documents and adversarial strings.
 *
 * Null semantics replicated: tokens(null) = null (split is
 * null-intolerant); shingles/gram-hashes of a null input = EMPTY array
 * (the HOF's `when(size(null) >= k, ...)` takes the otherwise(empty)
 * branch), so those two are non-nullable.
 */
object TextCore {

  private def isTokenByte(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** The scanner: the maximal `[a-z0-9]` byte runs of the lowered text,
    * each copied out as a token. */
  private def scan(lowered: UTF8String): java.util.ArrayList[UTF8String] = {
    val bytes = lowered.getBytes
    val toks = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < bytes.length) {
      if (isTokenByte(bytes(i))) {
        val start = i
        while (i < bytes.length && isTokenByte(bytes(i))) i += 1
        toks.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i)))
      } else i += 1
    }
    toks
  }

  /** `filter(split(lowered, "[^a-z0-9]+"), _ != "")` in one pass. */
  def tokens(lowered: UTF8String): ArrayData = new GenericArrayData(scan(lowered).toArray)

  private val space = UTF8String.fromString(" ")

  /** Distinct word k-shingles of the lowered text — k tokens joined by one
    * space, first-occurrence order (exactly array_distinct's); null or
    * fewer than k tokens -> empty. */
  private def distinctShingles(lowered: UTF8String, k: Int): java.util.LinkedHashSet[UTF8String] = {
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (lowered == null) return seen
    val toks = scan(lowered)
    var i = 0
    while (i <= toks.size - k) {
      seen.add(UTF8String.concatWs(space, toks.subList(i, i + k).toArray(new Array[UTF8String](k)): _*))
      i += 1
    }
    seen
  }

  /** The distinct word k-shingles of the lowered text, as strings. */
  def shingles(lowered: UTF8String, k: Int): ArrayData =
    new GenericArrayData(distinctShingles(lowered, k).toArray)

  /** 60-bit md5 hash of every positional k-gram of a token array, index
    * order, non-distinct — the [[graft.dedup.Dedup]] dupSpans gram
    * pipeline fused so the gram strings are never materialized as rows.
    * Fewer than k tokens -> empty; null input -> empty (when-otherwise
    * branch in the HOF); a null token is left out of its grams, as
    * concat_ws leaves it out. */
  def gramHashes(toks: ArrayData, k: Int): ArrayData = {
    if (toks == null) return ArrayData.toArrayData(new Array[Long](0))
    val n = toks.numElements()
    if (n < k) return ArrayData.toArrayData(new Array[Long](0))
    val bs = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { if (!toks.isNullAt(i)) bs(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      // concat_ws(" ", ...) of the HOF: a null token and its separator are skipped
      val d = SigCore.md5()
      var first = true
      var j = 0
      while (j < k) {
        if (bs(i + j) != null) {
          if (!first) d.update(' '.toByte)
          d.update(bs(i + j)); first = false
        }
        j += 1
      }
      out(i) = SigCore.hash60(d.digest())
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** 60-bit md5 hash of every DISTINCT word k-shingle (first-occurrence
    * order) — [[shingles]] hashed without materializing the gram strings
    * as rows (the contamination pipeline's corpus pass, which KeyCaps runs
    * twice). Null / <k tokens -> empty. */
  def shingleHashes(lowered: UTF8String, k: Int): ArrayData = {
    val seen = distinctShingles(lowered, k)
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = SigCore.md5Hash60(it.next().getBytes); m += 1 }
    ArrayData.toArrayData(out)
  }

  /** Longest equal-run over the token array after grouping equal tokens
    * adjacently — the Gopher most-frequent-word count. Result is
    * sort-order-independent (only equal-adjacency matters), identical to
    * the `aggregate` fold over sort_array in the HOF reference. Empty ->
    * 0. A null token is a run of its own (null never equals the previous
    * token in the fold), so it counts 1 and joins no run. */
  def topRunCount(toks: ArrayData): Long = {
    val n0 = toks.numElements()
    if (n0 == 0) return 0L
    val arr = new Array[UTF8String](n0)
    var n = 0
    var i = 0
    while (i < n0) { if (!toks.isNullAt(i)) { arr(n) = toks.getUTF8String(i); n += 1 }; i += 1 }
    if (n == 0) return 1L
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]], 0, n)
    var best = 1L; var run = 1L
    i = 1
    while (i < n) {
      if (arr(i).equals(arr(i - 1))) run += 1 else run = 1
      if (run > best) best = run
      i += 1
    }
    best
  }

  /** struct(n_tokens, score_int) of the hashed-linear-classifier fold
    * (q68): per token, bucket = md5_60("w:" + tok) mod nBuckets
    * ([[SigCore.hash60]]), weight = (bucket * 2654435761) mod 8191 - 4095,
    * summed left-to-right. All intermediates are non-negative and
    * bounded (nBuckets is capped at the wrapper so bucket * 2654435761
    * cannot overflow), so % == pmod and Long arithmetic is exact. The
    * declarative `aggregate` fold ran every lambda interpreted and
    * built the "w:"-prefixed string, the hex md5 string and a conv()
    * parse per token; this is one digest per token, no strings. A null
    * token nulls score_int, as the HOF's null concat nulls its fold. */
  def classifierScore(toks: ArrayData, nBuckets: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    var score = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return org.apache.spark.sql.catalyst.InternalRow(n.toLong, null)
      val d = SigCore.md5()
      d.update('w'.toByte)
      d.update(':'.toByte)
      d.update(toks.getUTF8String(i).getBytes)
      val h = SigCore.hash60(d.digest())
      score += (h % nBuckets) * 2654435761L % 8191L - 4095L
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, score)
  }

  /** (n_2grams, n_dup_2grams) of the non-distinct word 2-gram list — the
    * Gopher duplicate-2-gram signal, one pass with a hash set instead of
    * materializing the gram array twice (size + array_distinct). Null or
    * <2 tokens -> (0, 0), the HOF's when-otherwise(empty) branch. A null
    * token is left out of its grams, as the HOF's concat_ws leaves it out
    * (`UTF8String.concatWs` skips a null input the same way). */
  def twoGramCounts(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (toks == null || toks.numElements() < 2)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L)
    val n = toks.numElements()
    def tok(i: Int): UTF8String = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
    val seen = new java.util.HashSet[UTF8String]()
    var dup = 0L
    var i = 0
    while (i < n - 1) {
      if (!seen.add(UTF8String.concatWs(space, tok(i), tok(i + 1)))) dup += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow((n - 1).toLong, dup)
  }
}

/** Column-level surface: each builder is one static [[TextCore]] call
  * (see [[Bridge.staticInvoke]]). `Lower` stays a Catalyst argument, so
  * case mapping is Spark's own. */
object textops {
  private val strings = ArrayType(StringType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)
  private val tokenArray = ArrayType(StringType)

  /** tokens_of(text): lowercase alnum tokens; null -> null. */
  def tokens_of(text: Column): Column =
    Bridge.staticInvoke(TextCore, "tokens", strings, Seq(lower(text) -> StringType),
      propagateNull = true)

  /** shingles_of(text, k): distinct word k-grams of the lowered text;
    * null -> empty. */
  def shingles_of(text: Column, k: Int): Column =
    Bridge.staticInvoke(TextCore, "shingles", strings,
      Seq(lower(text) -> StringType, lit(k) -> IntegerType), propagateNull = false)

  /** gram_hashes(tokens, k): 60-bit md5 per positional k-gram; null -> empty. */
  def gram_hashes(tokens: Column, k: Int): Column =
    Bridge.staticInvoke(TextCore, "gramHashes", longs,
      Seq(tokens -> tokenArray, lit(k) -> IntegerType), propagateNull = false)

  /** shingle_hashes(text, k): 60-bit md5 per distinct word k-gram; null -> empty. */
  def shingle_hashes(text: Column, k: Int): Column =
    Bridge.staticInvoke(TextCore, "shingleHashes", longs,
      Seq(lower(text) -> StringType, lit(k) -> IntegerType), propagateNull = false)

  /** top_run_count(tokens): Gopher most-frequent-word count; null -> null
    * (the HOF aggregate over sort_array(null)). */
  def top_run_count(tokens: Column): Column =
    Bridge.staticInvoke(TextCore, "topRunCount", LongType, Seq(tokens -> tokenArray),
      propagateNull = true)

  /** two_gram_counts(tokens): struct(n2, ndup) of the word 2-gram list;
    * null -> (0, 0). */
  def two_gram_counts(tokens: Column): Column =
    Bridge.staticInvoke(TextCore, "twoGramCounts",
      StructType(Seq(StructField("n2", LongType, nullable = false),
        StructField("ndup", LongType, nullable = false))),
      Seq(tokens -> tokenArray), propagateNull = false)

  /** classifier_score(tokens, nBuckets): struct(n_tokens, score_int) of
    * the hashed linear classifier; null tokens -> null (the HOF's
    * size(null)/aggregate(null) propagation), a null token -> null
    * score_int (the HOF's null concat poisons the fold). The cap keeps
    * bucket * 2654435761 within Long exactly, so native % == the HOF's
    * pmod on every path. */
  def classifier_score(tokens: Column, nBuckets: Long): Column = {
    require(nBuckets > 0 && nBuckets <= Long.MaxValue / 2654435761L,
      s"nBuckets must be in (0, 2^31.7]: $nBuckets")
    Bridge.staticInvoke(TextCore, "classifierScore",
      StructType(Seq(StructField("n_tokens", LongType, nullable = false),
        StructField("score_int", LongType, nullable = true))),
      Seq(tokens -> tokenArray, lit(nBuckets) -> LongType), propagateNull = true)
  }
}
