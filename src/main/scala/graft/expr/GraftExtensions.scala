package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/**
 * SparkSessionExtensions entry point: registers the engine's SQL surface
 * (`parse_number`, `minhash_sig`, `simhash_blocks`) so
 * `spark.sql("SELECT parse_number(c) ...")` works cluster-wide via
 * `--conf spark.sql.extensions=graft.expr.GraftExtensions`. Each SQL
 * function builds the same expression as its column builder.
 */
object GraftExtensions {
  /** minhash_sig SQL builder: numHashes must be a foldable integral
    * literal — INT and BIGINT literals both work (Number.intValue);
    * anything non-foldable or non-numeric fails here with a clear message
    * instead of a ClassCastException deep in plan building. */
  private[graft] def minhashSigBuilder(children: Seq[Expression]): Expression = {
    val numHashes = children.lift(1) match {
      case Some(e) if e.foldable => e.eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"minhash_sig: second argument must be an integer literal, got $other")
      }
      case Some(_) => throw new IllegalArgumentException(
        "minhash_sig: second argument (numHashes) must be a foldable literal")
      case None => throw new IllegalArgumentException(
        "minhash_sig(shingles, numHashes) takes exactly 2 arguments")
    }
    Bridge.expression(signatures.minhash_sig(Bridge.column(children.head), numHashes))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, surface: String, build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(surface, name), build))
    inject("parse_number", "graft.expr.functions",
      cs => Bridge.expression(functions.parse_number(Bridge.column(cs.head))))
    inject("minhash_sig", "graft.expr.signatures", GraftExtensions.minhashSigBuilder)
    inject("simhash_blocks", "graft.expr.signatures",
      cs => Bridge.expression(signatures.simhash_blocks(Bridge.column(cs.head))))
  }
}
