package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace token count as a fully codegen'd expression — semantics are
  * exactly `size(split(text, " "))` (spaces + 1, so "" → 1 and a double
  * space yields an empty token) but with `doGenCode` emitting a primitive
  * char scan: no array materialization, stays inside whole-stage codegen.
  * The companion to [[MinHashSignature]] (which is CodegenFallback): together
  * they demo both halves of the custom-Expression extension point.
  */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var cnt = 1L
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val str = ctx.freshName("str")
      val i = ctx.freshName("i")
      s"""
         |java.lang.String $str = $c.toString();
         |long ${ev.value}Tmp = 1L;
         |for (int $i = 0; $i < $str.length(); $i++) {
         |  if ($str.charAt($i) == ' ') ${ev.value}Tmp++;
         |}
         |${ev.value} = ${ev.value}Tmp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  /** An invocation column of the engine's `graft_token_count(text)`. */
  def tokenCount(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_token_count", text)
  }
}
