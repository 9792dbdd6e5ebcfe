package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Character n-gram GENERATOR — the table-function extension point, the one
  * custom-Expression class the engine didn't yet demo (scalars:
  * [[TokenCount]]/[[DotProduct]]; aggregates: the theta/Kahan Aggregators;
  * this is the row-expanding third kind). `graft_char_ngrams(s, n)` emits
  * one (pos, gram) row per n-length character window of `s` — the shingle
  * primitive of language ID and fuzzy matching, expressed as a first-class
  * Catalyst generator instead of the usual
  * explode(transform(sequence(...))) three-expression stack: one pass, no
  * intermediate array materialization, analyzer-planned into the same
  * `Generate` node explode gets.
  *
  * Generators run eval-per-row by contract (Generate does not fuse into
  * whole-stage codegen for arbitrary generators), hence CodegenFallback —
  * the expansion itself is the work here, not per-row arithmetic.
  * Cf. the reference's delegated n-gram SQL
  * (mkpipe-etl ClickHouse delegation; ClickHouse `ngrams()` is the
  * equivalent surface).
  */
case class CharNgrams(child: Expression, nExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, nExpr)

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && nExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_char_ngrams expects (string, int), got (${child.dataType}, ${nExpr.dataType})")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    val nv = nExpr.eval(input)
    if (s == null || nv == null) Nil
    else {
      val str = s.asInstanceOf[UTF8String].toString
      val n = nv.asInstanceOf[Int]
      if (n <= 0 || str.length < n) Nil
      else (0 to str.length - n).iterator.map { i =>
        InternalRow(i, UTF8String.fromString(str.substring(i, i + n)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CharNgrams =
    copy(child = newChildren(0), nExpr = newChildren(1))
}

object CharNgrams {
  /** An invocation column of the engine's `graft_char_ngrams(s, n)`
    * (explodes to (pos, gram) rows wherever a generator is legal).
    */
  def charNgrams(spark: org.apache.spark.sql.SparkSession, s: Column, n: Column): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_char_ngrams", s, n)
  }
}
