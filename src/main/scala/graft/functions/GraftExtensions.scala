package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension injector — the config-driven deployment path for the
  * engine's native functions (SURVEY.md §2.9):
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions …
  * }}}
  *
  * registers every graft expression on session build, so `spark.sql` users
  * get them without code. In-process callers can instead use
  * [[Fnv1a64Expr.register]] on a live session (same registry, idempotent).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One registry entry: name, info and the arity-checked builder. */
  type Function = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** The entry for expression class `cls` under `name`, `arity` checked. */
  def function(name: String, cls: Class[_], arity: Int)(build: FunctionBuilder): Function =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), args => {
      require(args.length == arity, s"$name takes $arity argument(s), got ${args.length}")
      build(args)
    })

  // a def: each expression's companion builds its entry through this object
  // at its own init, so a val here would read a half-built companion's null
  def functions: Seq[Function] = Seq(Fnv1a64Expr.function, CosineSimExpr.function)

  /** Register one entry on a live session's registry (idempotent). */
  def register(spark: SparkSession, f: Function): Unit =
    spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
}
