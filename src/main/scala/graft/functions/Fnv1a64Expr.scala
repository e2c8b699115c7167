package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit FNV-1a over a string's UTF-16 code
  * units — the same function as [[Fnv1a64Expr.hash]], but participating
  * in whole-stage codegen instead of crossing into a Scala closure (the
  * "custom Expression beats UDF" rung of the extension ladder; SURVEY.md
  * §2.9). Used for shingle/fingerprint hashing in SQL contexts.
  *
  * Null-safe unary: null in → null out. Deterministic, foldable when the
  * child is foldable.
  */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fnv1a64 requires a string argument, got ${child.dataType}")
  }
  override def prettyName: String = "fnv1a64"

  override protected def nullSafeEval(input: Any): Any =
    Fnv1a64Expr.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |java.lang.String $s = $c.toString();
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h ^= (long) $s.charAt($i);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64Expr =
    copy(child = newChild)
}

object Fnv1a64Expr {

  /** The one Scala FNV-1a loop: the reference for the codegen path and the
    * hash of the typed (Dataset) gram faces. */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** The `fnv1a64` registry entry, shared by [[register]] and [[GraftExtensions]]. */
  val function =
    GraftExtensions.function("fnv1a64", classOf[Fnv1a64Expr], 1)(a => Fnv1a64Expr(a.head))

  /** Register `fnv1a64` on a session's function registry (idempotent) so
    * it is callable from spark.sql / selectExpr. Registry-level (not a
    * UDF): the optimizer sees a real expression and codegen inlines it. */
  def register(spark: SparkSession): Unit = GraftExtensions.register(spark, function)
}
