package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** DEFLATE-compressed byte length of a string — the primitive behind the
  * compression-ratio quality signal (highly repetitive or templated text
  * compresses far below natural prose, so ratio thresholds are a cheap,
  * language-agnostic junk filter for pretraining corpora).
  *
  * Level is pinned (6, zlib default) and dictionaries are off, so the length
  * is deterministic for a given input on a given JDK. Codegen stays inside
  * whole-stage codegen by emitting a static call — the deflate loop itself
  * is not worth inlining into generated Java.
  */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    DeflateLen.compressedLen(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateLen.compressedLen($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

object DeflateLen {

  /** Deflate `bytes` at level 6 (no preset dictionary, zlib wrapper on) and
    * return the compressed length. Allocation-light: one reusable 8 KiB
    * buffer per call, output bytes are counted and discarded.
    */
  def compressedLen(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** An invocation column of the engine's `graft_deflate_len(text)`. */
  def deflateLen(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_deflate_len", text)
  }
}
