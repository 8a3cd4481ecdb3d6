package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/**
 * Minimal bridge into Spark's `private[sql]` Column<->Expression converters
 * (Spark 4 moved Column off Expression onto ColumnNode). Lives under
 * org.apache.spark.sql so the package-private ExpressionUtils is visible —
 * the standard pattern for third-party Catalyst expression libraries.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The one way graft.expr defines a native expression: a static call
    * `kernel.fn(args...)` into a kernel object (TextCore, SigCore, ...) as
    * Spark's own `StaticInvoke` — one static call inside whole-stage
    * codegen, reflection on the interpreted path. Each argument carries
    * its expected input type (StaticInvoke's `inputTypes`, `private[sql]`,
    * hence bridged), which drives the analysis-time type check;
    * `propagateNull` nulls the result on any null argument instead of
    * passing it to the kernel; `returnNullable` marks a kernel that can
    * itself return null. Build-time constants ride as literal arguments.
    * The arguments are converted eagerly, so the call is complete even
    * where no Dataset converts it later: a SQL function builder returns
    * it straight into analysis. */
  def staticInvoke(kernel: AnyRef, fn: String, dataType: DataType,
                   args: Seq[(Column, AbstractDataType)], propagateNull: Boolean,
                   returnNullable: Boolean = false): Column =
    column(StaticInvoke(kernel.getClass, dataType, fn,
      args.map(a => ColumnNodeToExpressionConverter(a._1.node)), args.map(_._2),
      propagateNull = propagateNull, returnNullable = returnNullable))

  /** The ANSI DIVIDE_BY_ZERO error `Divide` throws — bridged because
    * QueryExecutionErrors is private[sql]; used by graft.expr.VecCore to
    * replicate the HOF cosine's divisor semantics exactly. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Drain the async listener bus so QueryExecutionListener callbacks
    * (graft.skew.CapMetrics) have fired before metrics are read —
    * `listenerBus` is private[spark], hence bridged here. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
