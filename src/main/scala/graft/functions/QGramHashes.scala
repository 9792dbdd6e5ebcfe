package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct q-gram hash GENERATOR — the hot inner kernel of
  * [[graft.ops.LlmPipeline.dedupEditDistance]], previously spelled as the
  * four-expression stack
  * `explode(array_distinct(transform(sequence(1, len−q+1), i ->
  * xxhash64(substring(text, i, q)))))`. That stack walks the string once
  * per gram through `substringSQL` (allocating a fresh UTF8String per
  * window — ~1.5k copies per fixture doc), evaluates the `transform`
  * lambda interpreted (HOFs run outside whole-stage codegen), and
  * materializes the full gram array plus its `array_distinct` copy before
  * `explode` streams it back out. `graft_qgram_hashes(s, q)` emits the
  * same rows in one pass with ZERO byte copies: it walks the UTF8 bytes
  * once to index the character starts (the `substring` contract is
  * CHARACTER windows, so multi-byte code points must advance correctly),
  * then hashes each window's byte range IN PLACE with the same `XXH64`
  * kernel and seed (42) Spark's `xxhash64` uses — bit-identical output,
  * pinned by a fixture-equality test in `OpsSpec` and by the query's
  * DuckDB oracle. First-occurrence distinctness matches `array_distinct`.
  *
  * Null or shorter-than-q input emits no rows — exactly the old
  * `CASE WHEN length(text) >= q … ELSE array()` guard.
  *
  * Generators run eval-per-row by contract (Generate does not fuse into
  * whole-stage codegen for arbitrary generators), hence CodegenFallback —
  * same rationale as [[CharNgrams]].
  */
case class QGramHashes(child: Expression, qExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, qExpr)

  override def elementSchema: StructType = StructType(Seq(
    StructField("gram", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && qExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_qgram_hashes expects (string, int), got (${child.dataType}, ${qExpr.dataType})")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    val qv = qExpr.eval(input)
    if (s == null || qv == null) Nil
    else {
      val str = s.asInstanceOf[UTF8String]
      val q = qv.asInstanceOf[Int]
      val numBytes = str.numBytes()
      // Character-start byte offsets (substring is char-addressed).
      var n = 0
      var b = 0
      val offsets = new Array[Int](numBytes + 1)
      while (b < numBytes) {
        offsets(n) = b
        b += UTF8String.numBytesForFirstByte(str.getByte(b))
        n += 1
      }
      offsets(n) = numBytes
      if (q <= 0 || n < q) Nil
      else {
        val base = str.getBaseObject
        val off = str.getBaseOffset
        val seen = new java.util.HashSet[java.lang.Long](Math.min(n, 1 << 12))
        val out = new scala.collection.mutable.ArrayBuffer[InternalRow](n - q + 1)
        var c = 0
        while (c <= n - q) {
          val start = offsets(c)
          val h = XXH64.hashUnsafeBytes(base, off + start, offsets(c + q) - start, 42L)
          if (seen.add(h)) out += InternalRow(h)
          c += 1
        }
        out
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QGramHashes =
    copy(child = newChildren(0), qExpr = newChildren(1))
}

object QGramHashes {
  /** An invocation column of the engine's `graft_qgram_hashes(s, q)`
    * (explodes to (gram BIGINT) rows wherever a generator is legal).
    */
  def qgramHashes(spark: org.apache.spark.sql.SparkSession, s: Column, q: Column): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_qgram_hashes", s, q)
  }
}
