package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors —
  * the similarity stack's hot scalar, participating in whole-stage codegen
  * (SURVEY.md §2.9 extension ladder). The higher-order-function
  * formulation (`transform`/`zip_with`/`aggregate`) evaluates its lambdas
  * INTERPRETED per element, which is the dominant cost of a broadcast
  * cosine scan at scale; this generates three tight primitive loops.
  *
  * IEEE-identical to both other formulations in the codebase — the dot
  * runs over the shorter length, each norm over its full vector, all in
  * ascending index order on doubles (exactly
  * [[graft.queries.TrainingOps.cosineF]] and the expression-tree
  * `cosine()` — equivalence pinned in FunctionsSpec), so swapping it in
  * changes no query result, including the DuckDB-oracled ones.
  *
  * Null-safe binary: null array in → null out. Null ELEMENTS are not
  * supported (embeddings are dense); like the other formulations, an
  * empty vector yields NaN (0/0).
  */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<float> arguments, got " +
        s"${left.dataType} and ${right.dataType}")

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < a.numElements()) { val x = a.getFloat(i).toDouble; na += x * x; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.numElements()) { val x = b.getFloat(i).toDouble; nb += x * x; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = (double) $a.getFloat($i); $na += $x * $x;
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  double $x = (double) $b.getFloat($i); $nb += $x * $x;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {

  /** Column-level call — resolves through the session registry at analysis
    * (public `call_function` API), so call [[register]] on the session
    * first; every TrainingOps entry point does. */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)

  /** The `cosine_sim` registry entry, shared by [[register]] and [[GraftExtensions]]. */
  val function = GraftExtensions.function("cosine_sim", classOf[CosineSimExpr], 2)(
    a => CosineSimExpr(a.head, a(1)))

  /** Register `cosine_sim` on a session's function registry (idempotent). */
  def register(spark: SparkSession): Unit = GraftExtensions.register(spark, function)
}
