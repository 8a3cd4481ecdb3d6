package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Native kernels for the dedup signature computations, called statically
 * from whole-stage codegen through [[signatures]].
 *
 * The declarative formulation (a single `aggregate` fold whose accumulator
 * is the running array of minima / bit-sums) is semantically right but
 * allocates one boxed accumulator array PER ELEMENT — for SimHash that is
 * a 64-slot array per token. These kernels keep the exact same math
 * (md5 of the UTF-8 string, hex-prefix integer parse, affine mixing mod
 * 2^31-1) with ONE primitive array per row. The DuckDB oracles in
 * SparkEntry replicate the identical math, so outputs are bit-equal to
 * both the HOF formulation and the SQL.
 */
object SigCore {

  private val md5Local = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** This thread's MD5, reset — the one digest every graft.expr kernel
    * hashes with. */
  private[expr] def md5(): java.security.MessageDigest = {
    val d = md5Local.get()
    d.reset()
    d
  }

  /** A finished md5 digest's first 15 hex chars as a 60-bit non-negative
    * long (== ('0x'||substr(md5(s),1,15))::BIGINT ==
    * conv(substring(md5hex,1,15),16,10)). */
  private[expr] def hash60(dig: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) & 0xffL) >>> 4)
  }

  /** [[hash60]] of the md5 of `bytes`. */
  def md5Hash60(bytes: Array[Byte]): Long = hash60(md5().digest(bytes))

  private val P = 2147483647L

  /** (a_i, c_i) tables per family count, interleaved [a0,c0,a1,c1,...]. */
  private val paramCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()
  private def params(numHashes: Int): Array[Long] =
    paramCache.computeIfAbsent(numHashes, n => {
      val ps = graft.dedup.Dedup.hashParams(n)
      val arr = new Array[Long](n * 2)
      ps.zipWithIndex.foreach { case ((a, c), i) => arr(2 * i) = a; arr(2 * i + 1) = c }
      arr
    })

  /** MinHash signature of a shingle array: sig_i = min over shingles of
    * (a_i * (md5Hash60 mod P) + c_i) mod P; empty input -> all P (the fold
    * init), matching the HOF formulation; a null shingle -> null, as for a
    * null array. */
  def minhash(arr: ArrayData, numHashes: Int): ArrayData = {
    val ps = params(numHashes)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, P)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val h = md5Hash60(arr.getUTF8String(i).getBytes) % P
      var j = 0
      while (j < numHashes) {
        val g = (ps(2 * j) * h + ps(2 * j + 1)) % P
        if (g < sig(j)) sig(j) = g
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** SimHash 4x16-bit blocks of a token array: global bit g of the token
    * hash comes from the two 32-bit md5-hex halves (hi = hex chars 1-8 =
    * digest bytes 0-3, lo = chars 9-16 = bytes 4-7); bit g of the
    * signature is set when the +-1 sign-sum over tokens is positive; a
    * null token -> null, as for a null array. */
  def simhashBlocks(arr: ArrayData): ArrayData = {
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val dig = md5().digest(arr.getUTF8String(i).getBytes)
      val hi = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) | ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      val lo = ((dig(4) & 0xffL) << 24) | ((dig(5) & 0xffL) << 16) | ((dig(6) & 0xffL) << 8) | (dig(7) & 0xffL)
      var g = 0
      while (g < 64) {
        val bit = if (g < 32) (lo >>> g) & 1L else (hi >>> (g - 32)) & 1L
        counts(g) += (if (bit == 1L) 1 else -1)
        g += 1
      }
      i += 1
    }
    val blocks = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) {
        if (counts(16 * b + j) > 0) v |= (1L << j)
        j += 1
      }
      blocks(b) = v
      b += 1
    }
    ArrayData.toArrayData(blocks)
  }
}

/** Column-level surface: static [[SigCore]] calls (see
  * [[Bridge.staticInvoke]]); a null input or a null element gives a null
  * signature. */
object signatures {
  private val longs = ArrayType(LongType, containsNull = false)

  /** minhash_sig(shingles, n): array<long> of n per-family minima. */
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    Bridge.staticInvoke(SigCore, "minhash", longs,
      Seq(shingles -> ArrayType(StringType), lit(numHashes) -> IntegerType),
      propagateNull = true, returnNullable = true)

  /** simhash_blocks(tokens): array<long> of 4 16-bit signature blocks. */
  def simhash_blocks(tokens: Column): Column =
    Bridge.staticInvoke(SigCore, "simhashBlocks", longs, Seq(tokens -> ArrayType(StringType)),
      propagateNull = true, returnNullable = true)
}
