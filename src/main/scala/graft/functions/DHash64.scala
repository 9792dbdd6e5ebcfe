package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit difference hash over a binary payload's 9×8 byte grid — the pure
  * kernel of the perceptual fingerprint family: stride-sample the payload to
  * 72 "pixels" (cycled if shorter), set bit (r,c) iff the grid brightens
  * left→right. This is the STUB leg of [[graft.ops.Multimodal.dhashGrid]]
  * (which routes decodable PNG/JPEG payloads through a real ImageIO
  * luminance grid instead — a codec pass that belongs in mapPartitions, not
  * in a per-row codegen'd expression); exposing the byte-grid kernel as
  * `graft_dhash(binary)` gives pure-SQL users the same fingerprint the
  * media pipeline computes for undecodable payloads.
  *
  * Codegen emits a static call — one compiled loop per row, no interpreted
  * HOFs.
  */
case class DHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    DHash64.byteGridDhash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DHash64.byteGridDhash($c)")

  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
}

object DHash64 {

  /** The 9×8 byte grid: payloads longer than 72 bytes stride-sample at
    * (i·len/72).toInt (the [[graft.ops.Multimodal.stubResize]] rule), shorter
    * ones cycle. Null/empty hashes as a single zero byte.
    */
  def byteGridDhash(payload: Array[Byte]): Long = {
    val src = if (payload == null || payload.length == 0) Array[Byte](0) else payload
    val sampled =
      if (src.length <= 72) src
      else {
        val stride = src.length.toDouble / 72
        Array.tabulate(72)(i => src((i * stride).toInt))
      }
    var h = 0L
    var bit = 0
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val a = sampled((r * 9 + c) % sampled.length) & 0xff
        val b = sampled((r * 9 + c + 1) % sampled.length) & 0xff
        if (a < b) h |= (1L << bit)
        bit += 1
        c += 1
      }
      r += 1
    }
    h
  }

  /** An invocation column of the engine's `graft_dhash(binary)`. */
  def dhash(spark: org.apache.spark.sql.SparkSession, payload: Column): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_dhash", payload)
  }
}
