package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** A result's row count and order-insensitive content hash, taken while the
  * result is materialized with all of its columns (one Spark action, the
  * same work as a `noop` write). Floating-point values are compared to nine
  * significant digits and array elements as a multiset, so a change of
  * partitioning or of summation order does not change the hash.
  */
object Fingerprint {
  def of(df: DataFrame): (Long, String) = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.materialize")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L; var h1 = 0L; var h2 = 0L
        it.foreach { r =>
          val s = canon(r, schema)
          n += 1
          h1 += MurmurHash3.stringHash(s, 17).toLong & 0xffffffffL
          h2 += MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL
        }
        Iterator((n, h1, h2))
      }.collect()
    }
    val n = parts.map(_._1).sum
    (n, f"${parts.map(_._2).sum}%016x${parts.map(_._3).sum}%016x")
  }

  private def num(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits)).stripTrailingZeros.toString

  def canon(r: InternalRow, schema: StructType): String =
    schema.fields.indices.map(i => value(r, i, schema.fields(i).dataType)).mkString("|")

  private def value(r: InternalRow, i: Int, t: DataType): String =
    if (r.isNullAt(i)) "∅"
    else t match {
      case DoubleType => num(r.getDouble(i), 9)
      case FloatType => num(r.getFloat(i).toDouble, 6)
      case st: StructType => "(" + canon(r.getStruct(i, st.size), st) + ")"
      case at: ArrayType => array(r.getArray(i), at.elementType)
      case mt: MapType => map(r.getMap(i), mt)
      case d: DecimalType => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.toPlainString
      case BinaryType => r.getBinary(i).map("%02x".format(_)).mkString
      case other => String.valueOf(r.get(i, other))
    }

  private def elements(a: ArrayData, t: DataType): Seq[String] = {
    val row = InternalRow.fromSeq((0 until a.numElements()).map(j => a.get(j, t)))
    (0 until a.numElements()).map(j => value(row, j, t))
  }

  private def array(a: ArrayData, t: DataType): String =
    elements(a, t).sorted.mkString("[", ",", "]")

  private def map(m: MapData, t: MapType): String =
    elements(m.keyArray(), t.keyType).zip(elements(m.valueArray(), t.valueType))
      .map { case (k, v) => s"$k=$v" }.sorted.mkString("{", ",", "}")

  /** name → (rows, hash), as recorded by [[record]]. */
  def expected(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap

  /** Longest a query may take, materialized, to be part of a workload. */
  val MaxQueryS = 30

  /** Record the fingerprint of every graph_loops query on the graph base
    * tables, one line per query: name, rows, hash, seconds. A query still
    * running after [[MaxQueryS]] is cancelled and recorded commented out.
    */
  def record(a: Args, path: String): Unit = {
    val spark = Main.session("record")
    val sc = spark.sparkContext
    val names = Main.GraphQueries
    val lines = names.map { n =>
      sc.setJobGroup(n, n, interruptOnCancel = true)
      val watchdog = new java.util.Timer(true)
      watchdog.schedule(new java.util.TimerTask { def run(): Unit = sc.cancelJobGroup(n) }, MaxQueryS * 1000L)
      val t0 = System.nanoTime()
      val r = scala.util.Try(of(graft.SparkEntry.queries(n)(spark, a.base)))
      val s = (System.nanoTime() - t0) / 1e9
      watchdog.cancel()
      sc.clearJobGroup()
      val line = r match {
        case scala.util.Success((rows, hash)) => f"$n\t$rows\t$hash\t$s%.2f"
        case scala.util.Failure(e) => f"# $n\tnot recorded: cancelled after $s%.0f s or failed (${e.getClass.getSimpleName})"
      }
      System.err.println(s"[perfbench] $line")
      line
    }
    val header = Seq(
      "# graph_loops fingerprints on the graph base tables: name, rows, content hash, seconds taken.",
      "# Written by: python3 perfbench/run.py --record")
    Files.writeString(Paths.get(path), (header ++ lines).mkString("", "\n", "\n"))
    spark.stop()
  }
}
