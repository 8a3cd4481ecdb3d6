package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Native kernels for the embedding-vector hot path.
 *
 * The declarative formulation of cosine similarity
 * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)` plus two norm folds) is
 * semantically right but runs INTERPRETED — higher-order functions have no
 * codegen — with one lambda dispatch and one boxed accumulator per element,
 * and the IVF argmax recomputes the stream-side norm once per centroid. At
 * q30's shape that kept HotSpot compiling megamorphic interpreter paths
 * (2-5 s of JIT per run, 20+ s cold) on top of 4 array passes per cosine.
 * These kernels keep the EXACT evaluation semantics — sequential
 * left-to-right IEEE folds from 0.0, `sqrt` of the ordered square sums,
 * final `dot / (na * nb)` — so results are bit-equal to the HOF
 * formulation and to the frozen SQL oracles (the [[SigCore]] guarantee;
 * VecOpsSpec holds the differential over real + adversarial vectors).
 *
 * Replicated edge semantics (pinned by VecOpsSpec):
 *  - Null propagation: any null element nulls the norm it occurs in;
 *    a length mismatch nulls the dot (zip_with pads with null). A null
 *    DIVISOR (either norm null) or a null DIVIDEND yields null; only then
 *    does a zero divisor under ANSI mode throw Spark's DIVIDE_BY_ZERO,
 *    exactly as the HOF's `Divide` does; otherwise IEEE x/0.0 applies.
 *  - Double comparisons use [[SQLOrderingUtil.compareDoubles]] — Spark's
 *    post-SPARK-32110 semantics in BOTH codegen and interpreted paths
 *    (NaN greatest, -0.0 == 0.0) — for the argmax `>` and the sign-LSH
 *    `>= 0` test (a NaN dot sets the plane bit, as the HOF does).
 */
object VecCore {

  /** Cosine with [[graft.ann.Similarity.cosine]]'s exact fold order and
    * null/ANSI semantics; the HOF's null cases return boxed null. */
  def cosineBoxed(a: ArrayData, b: ArrayData, ansi: Boolean): java.lang.Double = {
    val la = a.numElements(); val lb = b.numElements()
    var sa = 0.0
    var i = 0
    while (i < la) {
      if (a.isNullAt(i)) return null // na null -> divisor null -> null, no ANSI error
      val x = a.getDouble(i); sa += x * x
      i += 1
    }
    var sb = 0.0
    i = 0
    while (i < lb) {
      if (b.isNullAt(i)) return null // nb null -> divisor null -> null
      val y = b.getDouble(i); sb += y * y
      i += 1
    }
    // a null dividend nulls `Divide` before its zero-divisor check runs
    if (la != lb) return null // dot null (zip_with pads) -> null dividend
    val div = math.sqrt(sa) * math.sqrt(sb)
    if (div == 0.0 && ansi) throw Bridge.divideByZeroError()
    var dot = 0.0
    i = 0
    while (i < la) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    java.lang.Double.valueOf(dot / div)
  }

  /** Argmax cid over a cid-ascending array<struct<cid,c>> centroid column:
    * the [[graft.ann.Similarity]] fold (init cos=-2.0/cid=-1, SQL-ordering
    * `>` so the FIRST best wins ties) in one pass, with the stream
    * vector's norm computed once instead of once per centroid. Returns a
    * boxed Long — null for a null centroid array, or in the degenerate
    * HOF case where a winning centroid struct carries a null cid. */
  def nearestCid(v: ArrayData, cl: ArrayData, ansi: Boolean): java.lang.Long = {
    // a NULL stream vector nulls every per-centroid cosine (the HOF's
    // zip_with(null, c) case) but not the fold itself -> the init cid -1
    // survives; only a null CENTROID ARRAY nulls the whole expression
    if (cl == null) return null
    val n = if (v == null) 0 else v.numElements()
    var sa = 0.0; var vNull = v == null
    var i = 0
    while (i < n && !vNull) {
      if (v.isNullAt(i)) vNull = true
      else { val x = v.getDouble(i); sa += x * x }
      i += 1
    }
    val na = math.sqrt(sa)
    var bestCos = -2.0
    var bestCid: java.lang.Long = java.lang.Long.valueOf(-1L)
    val k = cl.numElements()
    var j = 0
    while (j < k) {
      if (!cl.isNullAt(j)) {
        val ct = cl.getStruct(j, 2)
        if (!ct.isNullAt(1)) {
          val c = ct.getArray(1)
          val m = c.numElements()
          var sb = 0.0; var cNull = false
          var d = 0
          while (d < m && !cNull) {
            if (c.isNullAt(d)) cNull = true
            else { val y = c.getDouble(d); sb += y * y }
            d += 1
          }
          // divisor null or dot null (zip_with pads a length mismatch) ->
          // cos null -> skip, before `Divide`'s zero-divisor check
          if (!vNull && !cNull && m == n) {
            val div = na * math.sqrt(sb)
            if (div == 0.0 && ansi) throw Bridge.divideByZeroError()
            var dot = 0.0
            d = 0
            while (d < n) { dot += v.getDouble(d) * c.getDouble(d); d += 1 }
            val cos = dot / div
            if (SQLOrderingUtil.compareDoubles(cos, bestCos) > 0) {
              bestCos = cos
              bestCid = if (ct.isNullAt(0)) null else java.lang.Long.valueOf(ct.getLong(0))
            }
          }
        }
      }
      j += 1
    }
    bestCid
  }

  /** Sign-LSH bucket from flat (plane-major) hyperplane weights: bit p set
    * when the ordered-fold dot of plane p satisfies the SQL `>= 0` test —
    * compareDoubles semantics, so a NaN dot SETS the bit; a
    * length-mismatched or null-element vector gives a null dot and hence
    * bit 0, exactly as graft.HofRefs.lshBucketHof. */
  def signBucket(v: ArrayData, w: Array[Double], nPlanes: Int, dim: Int): Long = {
    if (v == null) return 0L // null dots -> when() otherwise-branch -> all bits 0
    val n = v.numElements()
    if (n != dim) return 0L // zip_with pads -> null products -> null dots -> all bits 0
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val off = p * dim
      var d = 0
      while (d < dim) { dot += v.getDouble(d) * w(off + d); d += 1 }
      if (SQLOrderingUtil.compareDoubles(dot, 0.0) >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/** sign_bucket(v): 1-bit-per-plane LSH bucket id from hyperplane weights
  * carried as an expression PARAMETER (a references-array object in
  * codegen) instead of nPlanes x dim array literals — the plan stays O(1)
  * in nPlanes x dim.
  *
  * The one hand-written expression left, kept for its plan text: as a
  * [[Bridge.staticInvoke]] argument the weights are either an array
  * literal (at q25's 6 x 64 planes, 8.8 KB of plan text for the literal
  * alone, against 0.9 KB for the whole projection here) or an object
  * literal printed as the array's identity hash, so two builds of the
  * same query give different plans. */
case class SignLshBucket(child: Expression, weights: Array[Double],
                         nPlanes: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  // a null vector yields bucket 0, not null: each plane's null dot loses
  // the >= test and takes the otherwise(0) branch in the HOF formulation
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sign_bucket needs an array<double> input, got $other")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    VecCore.signBucket(child.eval(input).asInstanceOf[ArrayData], weights, nPlanes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lshWeights", weights, "double[]")
    val vGen = child.genCode(ctx)
    val vVal = if (child.nullable) s"${vGen.isNull} ? null : ${vGen.value}" else vGen.value
    val code =
      code"""
         |${vGen.code}
         |long ${ev.value} = graft.expr.VecCore.signBucket(
         |  ($vVal), $wRef, $nPlanes, $dim);
       """.stripMargin
    ev.copy(code = code, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBucket =
    copy(child = newChild)
}

/** Column-level surface. */
object vecops {
  /** cosine_sim(a, b): exact HOF-fold cosine of two array<double>
    * columns, one static [[VecCore.cosineBoxed]] call (see
    * [[Bridge.staticInvoke]]); `ansi` is captured at plan build so the
    * DIVIDE_BY_ZERO behavior matches the session's `Divide`. */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.staticInvoke(VecCore, "cosineBoxed", DoubleType,
      Seq(a -> ArrayType(DoubleType), b -> ArrayType(DoubleType),
        lit(SQLConf.get.ansiEnabled) -> BooleanType),
      propagateNull = true, returnNullable = true)

  /** nearest_cid(v, cl): argmax-cosine cid over the broadcast
    * array<struct<cid:long, c:array<double>>> centroid column — one
    * static [[VecCore.nearestCid]] call (see [[Bridge.staticInvoke]]); a
    * null stream vector does not null the result, a null centroid array
    * does (inside the kernel). */
  def nearest_cid(v: Column, cl: Column): Column =
    Bridge.staticInvoke(VecCore, "nearestCid", LongType,
      Seq(v -> ArrayType(DoubleType),
        cl -> ArrayType(StructType(Seq(StructField("cid", LongType),
          StructField("c", ArrayType(DoubleType))))),
        lit(SQLConf.get.ansiEnabled) -> BooleanType),
      propagateNull = false, returnNullable = true)

  /** sign_bucket(v, weights): sign-LSH bucket id from literal hyperplanes. */
  def sign_bucket(v: Column, weights: Array[Array[Double]]): Column = {
    val nPlanes = weights.length
    val dim = if (nPlanes == 0) 0 else weights(0).length
    Bridge.column(SignLshBucket(Bridge.expression(v), weights.flatten, nPlanes, dim))
  }
}
