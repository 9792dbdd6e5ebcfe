package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature expression.
  *
  * The composable HOF formulation (transform/aggregate lambdas) evaluates
  * interpreted per element — 64 hashes × ~400 shingles × interpreted lambda
  * dispatch per document made it the bench hotspot (>250s at sf0.1). This
  * expression computes the whole signature in one JIT-compiled loop per row:
  * tokenize → distinct word shingles → one 64-bit base hash per shingle
  * (FNV-1a) → 64 affine rehashes (odd multipliers ⇒ permutations of Z/2^64)
  * with a running min. ~25k primitive ops per document, no allocation beyond
  * the signature array.
  *
  * This is the engine's "custom Expression beats UDF" extension point
  * (SURVEY §7.6): deterministic, null-safe, partition-local — scales linearly
  * with corpus size and is embarrassingly parallel.
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val tokens = text.split(' ')
    val nShingles = math.max(tokens.length - shingleLen + 1, 1)
    // Distinct shingle base hashes (FNV-1a over the joined shingle text).
    val seen = new mutable.HashSet[Long]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < nShingles) {
      var h = 0xcbf29ce484222325L
      var j = i
      val end = math.min(i + shingleLen, tokens.length)
      while (j < end) {
        val t = tokens(j)
        var k = 0
        while (k < t.length) {
          h = (h ^ t.charAt(k)) * 0x100000001b3L
          k += 1
        }
        h = (h ^ ' ') * 0x100000001b3L
        j += 1
      }
      if (seen.add(h)) {
        var m = 0
        while (m < numHashes) {
          val v = MinHashSignature.A(m) * h + MinHashSignature.B(m)
          if (v < sig(m)) sig(m) = v
          m += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Distinct word-shingle 64-bit hashes as `array<long>`, one JIT-compiled
  * pass per row — the exact-Jaccard companion to [[MinHashSignature]] (same
  * tokenization, same FNV-1a base hash, so a shingle collides across
  * documents iff the text matches, modulo 64-bit hash collisions —
  * negligible at any realistic shingle count, and cross-engine-stable).
  *
  * Motivation: the HOF shingle-set builder (transform ∘ slice ∘ concat_ws)
  * evaluates interpreted per shingle, and shuffling long arrays beats
  * shuffling the shingle strings themselves by ~an order of magnitude in
  * bytes — at 100 TB the verify-stage join moves hash sets, never text.
  */
case class ShingleHashes(child: Expression, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(' ')
    val nShingles = math.max(tokens.length - shingleLen + 1, 1)
    val seen = new mutable.LinkedHashSet[Long]
    var i = 0
    while (i < nShingles) {
      var h = 0xcbf29ce484222325L
      var j = i
      val end = math.min(i + shingleLen, tokens.length)
      while (j < end) {
        val t = tokens(j)
        var k = 0
        while (k < t.length) {
          h = (h ^ t.charAt(k)) * 0x100000001b3L
          k += 1
        }
        h = (h ^ ' ') * 0x100000001b3L
        j += 1
      }
      seen.add(h)
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Registration is name-per-parameter (`graft_shingle_hashes_<len>`):
    * `call_function` resolves at analysis time, not Column construction, so
    * a single shared name would silently rebind earlier Columns to whatever
    * shingleLen the most recent caller passed (and could shadow the
    * engine's len=3 SQL binding, which keeps the plain
    * `graft_shingle_hashes` name).
    */
  def register(spark: org.apache.spark.sql.SparkSession, shingleLen: Int): String = {
    val name = s"graft_shingle_hashes_$shingleLen"
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name,
        exprs => ShingleHashes(exprs.head, shingleLen),
        "built-in")
    name
  }

  def shingleHashes(spark: org.apache.spark.sql.SparkSession, text: Column,
      shingleLen: Int): Column =
    org.apache.spark.sql.functions.call_function(register(spark, shingleLen), text)
}

/** 64-bit SimHash in one pass per row: per-token FNV-1a hash, ±1 votes per
  * bit position, sign of the vote sets the bit. Replaces the 64-way unrolled
  * HOF formulation (64 interpreted `aggregate` lambdas per row — each token
  * hashed 64 times); here every token is hashed once and votes via shifts.
  * Near-duplicate texts differ in few bits; at scale, group by fingerprint
  * prefix for candidate generation.
  */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(' ')
    val votes = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < t.length) {
        h = (h ^ t.charAt(k)) * 0x100000001b3L
        k += 1
      }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def simhash(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.Engine.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_simhash", text)
  }
}

object MinHashSignature {
  /** Deterministic affine-permutation parameters: odd multipliers (bijective
    * mod 2^64) and arbitrary offsets, from a fixed-seed generator.
    */
  private val rng = new scala.util.Random(42)
  private[functions] val A: Array[Long] = Array.fill(256)(rng.nextLong() | 1L)
  private[functions] val B: Array[Long] = Array.fill(256)(rng.nextLong())

  /** Register `graft_minhash_<n>_<len>(text)` in the session's function
    * registry (the Column companion is private[sql] in Spark 4, so a
    * registered builder + `call_function` is the public bridge from
    * Expression to Column — and it makes the function available to SQL too).
    * Name-per-parameter for the same rebinding reason as
    * [[ShingleHashes.register]]; the plain `graft_minhash` SQL name is the
    * engine's ([[graft.Engine]]: 64 hashes, 3-shingles).
    */
  def register(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int, shingleLen: Int): String = {
    val name = s"graft_minhash_${numHashes}_$shingleLen"
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name,
        exprs => MinHashSignature(exprs.head, numHashes, shingleLen),
        "built-in")
    name
  }

  def minhash(spark: org.apache.spark.sql.SparkSession, text: Column,
      numHashes: Int, shingleLen: Int): Column =
    org.apache.spark.sql.functions.call_function(
      register(spark, numHashes, shingleLen), text)
}
