package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native 2-D Hilbert-curve index with real codegen: maps grid cell (x, y)
  * on the 2^bits x 2^bits grid to its distance d along the Hilbert curve
  * (the classic iterative xy2d quadrant walk: per level, quadrant digit
  * `(3·rx) XOR ry` plus a reflect-and-swap rotation of the sub-grid).
  *
  * Why a second space-filling curve next to [[graft.sources.FileFormats]]'
  * Morton/z-order column: the Hilbert curve is CONTINUOUS — consecutive
  * indices are always grid neighbors (Manhattan distance exactly 1),
  * whereas the z-curve teleports at every power-of-two boundary (distance
  * up to the full grid width). For range-partitioned lake files that means
  * a Hilbert-sorted file covers one compact blob of key space instead of
  * two half-planes stitched at a seam, so per-file min/max boxes are
  * tighter and 2-D predicate pruning opens fewer files — the same reason
  * Delta Lake added `OPTIMIZE ... HILBERT` beside ZORDER. `layout_hilbert`
  * measures exactly this on the same files.
  *
  * Inputs are masked into the grid (`& (2^bits − 1)`); null in → null out;
  * O(bits) per row, partition-local, one primitive-long loop inside
  * WholeStageCodegen — no boxing, no allocation.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31, s"hilbert bits must be in [1, 31], got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (integral(left.dataType) && integral(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hilbert requires two integral coordinates, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val n = 1L << bits
    var x = l.asInstanceOf[Number].longValue() & (n - 1)
    var y = r.asInstanceOf[Number].longValue() & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lv, rv) => {
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |long $n = 1L << $bits;
         |long $x = ((long) $lv) & ($n - 1);
         |long $y = ((long) $rv) & ($n - 1);
         |long $d = 0L;
         |for (long $s = $n >> 1; $s > 0; $s >>= 1) {
         |  long $rx = (($x & $s) > 0) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0) {
         |    if ($rx == 1) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_hilbert"

  // Render `bits` in plans and SQL: graft_hilbert(x, y, 8) and
  // graft_hilbert(x, y, 16) must be distinguishable in EXPLAIN output.
  override def toString: String = s"$prettyName($left, $right, $bits)"
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql}, $bits)"
}

object HilbertIndex {
  /** SQL-surface constructor: `graft_hilbert(x, y[, bits])` — `bits` must
    * be a foldable non-null integer literal (default 16). Arity and the
    * bits literal are validated HERE (analysis time) so a bad call fails
    * with a named error, not an index/null exception mid-analysis.
    */
  def fromExprs(exprs: Seq[Expression]): HilbertIndex = {
    require(exprs.length == 2 || exprs.length == 3,
      s"graft_hilbert takes (x, y[, bits]), got ${exprs.length} arguments")
    val bits =
      if (exprs.length == 2) 16
      else {
        val b = exprs(2)
        require(b.foldable, "graft_hilbert bits must be a literal")
        b.eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_hilbert bits must be a non-null integer literal, got $other")
        }
      }
    HilbertIndex(exprs(0), exprs(1), bits)
  }

  def hilbert(spark: org.apache.spark.sql.SparkSession, x: Column, y: Column,
      bits: Int = 16): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_hilbert", x, y,
      org.apache.spark.sql.functions.lit(bits))
  }
}
