package graft

import org.apache.spark.sql.SparkSession

/** Runs a differential check with Spark's silent codegen fallbacks off.
  * A generated kernel call that does not compile would otherwise fall
  * back to interpreted `eval`: the outputs still match their reference,
  * only the speed is lost. `factoryMode=CODEGEN_ONLY` makes such a
  * projection fail instead, `codegen.fallback=false` does the same for
  * whole-stage codegen. `extra` settings apply on top; all of them are
  * restored afterwards. */
object CodegenOnly {
  private val strict = Seq(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  def apply[T](spark: SparkSession, extra: (String, String)*)(body: => T): T = {
    val settings = strict ++ extra
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
