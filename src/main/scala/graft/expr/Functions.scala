package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.sql.graftbridge.Bridge

/** Column-level function surface of the engine. */
object functions {
  /** parse_number(col): double — the reference `_parse_number`
    * (app/pipeline/parser.py:247-281) as one static [[graft.core.Num]]
    * call, shared with the row engine; null on unparsable, Python-float
    * semantics. */
  def parse_number(c: Column): Column =
    Bridge.staticInvoke(graft.core.Num, "parseOrNull", DoubleType, Seq(c -> StringType),
      propagateNull = true, returnNullable = true)
}
