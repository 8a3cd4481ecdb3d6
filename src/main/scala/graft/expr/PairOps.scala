package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Native in-bucket pair enumeration for the LSH/SimHash candidate
 * generators. The declarative shape —
 * `explode(flatten(transform(ms, (x, i) => transform(slice(ms, i+2, n-i-1),
 * y => struct(x, y)))))` — runs every lambda interpreted and `slice`
 * ALLOCATES a fresh sub-array per outer element (O(m) array copies per
 * m-member bucket on top of the O(m^2) pairs themselves). These
 * kernels emit the identical pair structs in one native nested loop
 * over the sorted member list; id values are copied type-agnostically, so
 * the same kernel serves long-keyed (doc ids) and string-keyed
 * (family hashes) callers. The hamming variant computes the same
 * `sum over blocks of bit_count(a xor b)` integer statistic inline.
 * PairOpsSpec holds the differentials against the HOF formulations.
 */
object PairCore {

  /** All (i < j) pairs of a plain member-id array, list order (the
    * callers sort). */
  def pairs(ms: ArrayData, idType: DataType): ArrayData = {
    val n = ms.numElements()
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val ids = new Array[Any](n)
    var i = 0
    while (i < n) { ids(i) = ms.get(i, idType); i += 1 }
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = new GenericInternalRow(Array[Any](ids(i), ids(j)))
        o += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (i < j) pairs where at least one side's is_new flag (ordinal 1) is
    * set — the incremental-epoch emission (old/old pairs skipped). */
  def pairsNewOnly(ms: ArrayData, idType: DataType): ArrayData = {
    val n = ms.numElements()
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val ids = new Array[Any](n)
    val isNew = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val st = ms.getStruct(i, 2)
      ids(i) = st.get(0, idType)
      isNew(i) = st.getBoolean(1)
      i += 1
    }
    val buf = new scala.collection.mutable.ArrayBuffer[AnyRef](n)
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (isNew(i) || isNew(j))
          buf += new GenericInternalRow(Array[Any](ids(i), ids(j)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(buf.toArray)
  }

  /** (i < j) pairs with the block hamming distance
    * (sum of bit_count(a xor b) over the 4 16-bit blocks at ordinal 1). */
  def hammingPairs(ms: ArrayData, idType: DataType): ArrayData = {
    val n = ms.numElements()
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val ids = new Array[Any](n)
    val blocks = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val st = ms.getStruct(i, 2)
      ids(i) = st.get(0, idType)
      blocks(i) = st.getArray(1).toLongArray()
      i += 1
    }
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        var h = 0L
        val ba = blocks(i); val bb = blocks(j)
        var b = 0
        val m = math.min(ba.length, bb.length)
        while (b < m) { h += java.lang.Long.bitCount(ba(b) ^ bb(b)); b += 1 }
        out(o) = new GenericInternalRow(Array[Any](ids(i), ids(j), h))
        o += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Column-level surface: static [[PairCore]] calls (see
  * [[Bridge.staticInvoke]]). A StaticInvoke fixes its result type when it
  * is built, so each builder takes the resolved type of the member column
  * (`df.schema("ms").dataType`) and checks its shape there; the id type
  * reaches the kernel as an object literal. A null member list gives a
  * null pair array. */
object pairops {
  /** pair_emit(ms): array<struct<id_a, id_b>> of all (i<j) pairs of a
    * plain id array. */
  def pair_emit(ms: Column, msType: DataType): Column = msType match {
    case ArrayType(_: StructType, _) => throw new IllegalArgumentException(
      "pair_emit takes a PLAIN id array; for struct members use the specialized variants")
    case ArrayType(id, idNullable) => emit("pairs", ms, msType, id, idNullable)
    case other => throw new IllegalArgumentException(s"pair_emit needs an array input, got $other")
  }

  /** pair_emit_new_only(ms): pairs with >= 1 new-epoch member. */
  def pair_emit_new_only(ms: Column, msType: DataType): Column = msType match {
    case ArrayType(st: StructType, _) if st.length >= 2 && st(1).dataType == BooleanType =>
      emit("pairsNewOnly", ms, msType, st(0).dataType, st(0).nullable)
    case other => throw new IllegalArgumentException(
      s"pair_emit_new_only needs array<struct<id, is_new: boolean>>, got $other")
  }

  /** pair_emit_hamming(ms): pairs + block hamming distance. */
  def pair_emit_hamming(ms: Column, msType: DataType): Column = msType match {
    case ArrayType(st: StructType, _) if st.length >= 2 &&
        (st(1).dataType match { case ArrayType(LongType, _) => true; case _ => false }) =>
      emit("hammingPairs", ms, msType, st(0).dataType, st(0).nullable,
        StructField("hamming", LongType, nullable = false))
    case other => throw new IllegalArgumentException(
      s"pair_emit_hamming needs array<struct<id, blocks: array<bigint>>>, got $other")
  }

  private def emit(fn: String, ms: Column, msType: DataType, idType: DataType,
                   idNullable: Boolean, extra: StructField*): Column =
    Bridge.staticInvoke(PairCore, fn,
      ArrayType(StructType(Seq(StructField("id_a", idType, idNullable),
        StructField("id_b", idType, idNullable)) ++ extra), containsNull = false),
      Seq(ms -> msType,
        Bridge.column(Literal.fromObject(idType)) -> ObjectType(classOf[DataType])),
      propagateNull = true)
}
