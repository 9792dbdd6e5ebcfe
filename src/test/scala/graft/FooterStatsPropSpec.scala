package graft

import java.time.{Instant, LocalDate}
import java.time.temporal.ChronoUnit

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.graft.FooterStats
import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.extract.Extractor

/** Footer statistics against Spark's own answers, on parquet files whose
  * row-group layout the generator controls (row groups of 1–6 rows, nulls,
  * all-null row groups, empty files, duplicates at the boundary):
  *
  *   - the stats probe equals `agg(count(lit(1)), max(c))`: the same
  *     empty/non-empty outcome and the same watermark string;
  *   - a `Tables.t` scan, which skips files by their statistics, returns
  *     the rows `spark.read.parquet` returns, for every type the scan
  *     filters parameterize plus TIMESTAMP_NTZ and raw-nanos longs;
  *   - the two watermark shapes of an incremental extract (a long key, a
  *     TIMESTAMP_NTZ event time) read exactly the files whose max is ≥ the
  *     watermark.
  */
object FooterStatsPropSpec extends Properties("FooterStats") {

  /** Dates and timestamps anywhere in years 0001–9999 read as written: the
    * generated files carry no Spark writer metadata, so Spark would rebase
    * (or refuse) pre-Gregorian values under the default read mode.
    */
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    s.conf.set("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    s
  }

  /** (name, parquet declaration of `c`, value generator, group writer,
    * literal of a value against the normalized column).
    */
  private case class Typed(name: String, decl: String, gen: Gen[Any], put: (Group, Any) => Unit, lit: Any => Column)

  private def mix[A](specials: Seq[A], random: Gen[A]): Gen[Any] =
    Gen.frequency(3 -> Gen.oneOf(specials), 5 -> random)
  private def instant(us: Long) = Instant.EPOCH.plus(us, ChronoUnit.MICROS)
  private val (minDay, maxDay) = (-719162, 2932896)
  private val (minUs, maxUs) = (-62135596800000000L, 253402300799999999L)
  private val genUs = mix(Seq(minUs, -1L, 0L, 1L, maxUs), Gen.choose(minUs, maxUs))
  private val intPut: (Group, Any) => Unit = (g, v) => g.append("c", v.asInstanceOf[Number].intValue)
  private val longPut: (Group, Any) => Unit = (g, v) => g.append("c", v.asInstanceOf[Long])
  private val usLit: Any => Column = v => lit(instant(v.asInstanceOf[Long]))

  private val byte = Typed("byte", "int32 c (INT_8)",
    mix(Seq(Byte.MinValue, -1.toByte, 0.toByte, Byte.MaxValue), Arbitrary.arbitrary[Byte]), intPut, v => lit(v))
  private val short = Typed("short", "int32 c (INT_16)",
    mix(Seq(Short.MinValue, 0.toShort, Short.MaxValue), Arbitrary.arbitrary[Short]), intPut, v => lit(v))
  private val int = Typed("int", "int32 c",
    mix(Seq(Int.MinValue, -1, 0, Int.MaxValue), Gen.choose(-20, 20)), intPut, v => lit(v))
  private val long = Typed("long", "int64 c",
    mix(Seq(Long.MinValue, -1L, 0L, Long.MaxValue), Gen.choose(-20L, 20L)), longPut, v => lit(v))
  private val float = Typed("float", "float c",
    mix(Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity, Float.MinValue, Float.MaxValue),
      Arbitrary.arbitrary[Float]), (g, v) => g.append("c", v.asInstanceOf[Float]), v => lit(v))
  private val double = Typed("double", "double c",
    mix(Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinValue, Double.MaxValue),
      Arbitrary.arbitrary[Double]), (g, v) => g.append("c", v.asInstanceOf[Double]), v => lit(v))
  private val date = Typed("date", "int32 c (DATE)",
    mix(Seq(minDay, -1, 0, 1, maxDay), Gen.choose(minDay, maxDay)), intPut,
    v => lit(LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)))
  private val timestamp = Typed("timestamp", "int64 c (TIMESTAMP(MICROS,true))", genUs, longPut, usLit)
  private val ntz = Typed("timestamp_ntz", "int64 c (TIMESTAMP(MICROS,false))", genUs, longPut, usLit)
  /** Raw nanos, normalized by `Tables.t` to `timestamp_micros(c DIV 1000)`
    * and compared at µs, which `PushdownNanosTimestamp` turns back into raw
    * nanos comparisons for literals after the epoch.
    */
  private val nanos = Typed("raw_nanos", "int64 ts (TIMESTAMP(NANOS,true))",
    mix(Seq(-1000L, 0L, 999L, 1000L, 1001L, Long.MaxValue), Gen.choose(-4000000000000000000L, 4000000000000000000L)),
    (g, v) => g.append("ts", v.asInstanceOf[Long]), v => lit(instant(Math.floorDiv(v.asInstanceOf[Long], 1000L))))

  /** One parquet file per element of `files` (rows of (id, value or null)),
    * row groups of `rg` rows, under `<new dir>/t.parquet`; returns the dir.
    */
  private def write(t: Typed, files: Seq[Seq[(Long, Any)]], rg: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-footers").toString
    val schema = MessageTypeParser.parseMessageType(s"message t { required int64 id; optional ${t.decl}; }")
    val groups = new SimpleGroupFactory(schema)
    for ((rows, i) <- files.zipWithIndex) {
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f"$dir/t.parquet/part-$i%05d.parquet"))
        .withType(schema).withRowGroupRowCountLimit(rg).build()
      try rows.foreach { case (id, v) =>
        val g = groups.newGroup().append("id", id)
        if (v != null) t.put(g, v)
        w.write(g)
      } finally w.close()
    }
    dir
  }

  /** Files of 0–8 rows; each file draws its own share of nulls (none, some
    * or all), so all-null row groups and empty files both occur.
    */
  private def genFiles(g: Gen[Any]): Gen[Seq[Seq[Any]]] = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, for {
    rows <- Gen.choose(0, 8)
    nulls <- Gen.oneOf(0, 1, 3, 100)
    vals <- Gen.listOfN(rows, Gen.frequency(nulls -> Gen.const(null), 6 -> g))
  } yield vals.toSeq))

  private def numbered(files: Seq[Seq[Any]]): Seq[Seq[(Long, Any)]] = {
    var id = -1L
    files.map(_.map { v => id += 1; (id, v) })
  }

  private def table(dir: String): DataFrame = Tables.t(spark, dir, "t")

  // --- the probe -------------------------------------------------------

  /** A watermark drawn from the data half the time (duplicates at the
    * boundary), the tautology a quarter of the time.
    */
  private val genProbe = for {
    t <- Gen.oneOf(int, long, date, timestamp, ntz)
    files <- genFiles(t.gen)
    rg <- Gen.choose(1, 6)
    present = files.flatten.filter(_ != null)
    wm <- Gen.frequency(1 -> Gen.const(None), 2 -> t.gen.map(Some(_)),
      (if (present.isEmpty) 0 else 2) -> Gen.oneOf(if (present.isEmpty) Seq(0) else present).map(Some(_)))
  } yield (t, files, rg, wm)

  private def agg(df: DataFrame): (Boolean, Option[Any]) = {
    val r = df.agg(count(lit(1)), max(col("c"))).head()
    (r.getLong(0) > 0, Option(r.get(1)))
  }

  property("the stats probe equals count + max: same outcome, same watermark string") =
    forAllNoShrink(genProbe) { case (t, files, rg, wm) =>
      val df0 = table(write(t, numbered(files), rg))
      val df = wm.fold(df0)(v => df0.filter(col("c") >= t.lit(v)))
      val probe = FooterStats.probe(df, "c")
      val want = agg(df)
      (probe.map { case (n, m) => (n, m.map(Extractor.stringify)) } == Some((want._1, want._2.map(Extractor.stringify))) &&
        probe.forall(_._2.map(_.getClass) == want._2.map(_.getClass))) :|
        s"${t.name} rg=$rg files=$files wm=$wm: probe $probe, aggregate $want"
    }

  property("the stats probe equals count + max on the real TIMESTAMP(NANOS) file") =
    forAllNoShrink(Gen.option(Gen.choose(NanosFixture.base - 2, NanosFixture.base + 7))) { wm =>
      val df0 = Tables.t(spark, NanosFixture.write(), "events")
      val df = wm.fold(df0)(us => df0.filter(col("ts") >= lit(instant(us))))
      val probe = FooterStats.probe(df, "ts")
      val want = df.agg(count(lit(1)), max(col("ts"))).head()
      (probe == Some((want.getLong(0) > 0, Option(want.get(1))))) :| s"wm=$wm: probe $probe, aggregate $want"
    }

  // --- file skipping ----------------------------------------------------

  private val ops: Seq[(String, (Column, Column) => Column)] = Seq(
    ">=" -> (_ >= _), ">" -> (_ > _), "<" -> (_ < _), "<=" -> (_ <= _), "=" -> (_ === _), "<=>" -> (_ <=> _))

  private val genSkip = for {
    t <- Gen.oneOf(byte, short, int, long, float, double, date, timestamp, ntz, nanos)
    files <- genFiles(t.gen)
    rg <- Gen.choose(1, 6)
    present = files.flatten.filter(_ != null)
    k <- if (present.isEmpty) t.gen else Gen.frequency(2 -> t.gen, 1 -> Gen.oneOf(present))
    op <- Gen.oneOf(ops)
    litLeft <- Arbitrary.arbitrary[Boolean]
  } yield (t, files, rg, k, op, litLeft)

  property("a Tables.t scan, skipping files by footer statistics, returns spark.read.parquet's rows") =
    forAllNoShrink(genSkip) { case (t, files, rg, k, (opName, op), litLeft) =>
      val dir = write(t, numbered(files), rg)
      val c = if (t == nanos) col("ts") else col("c")
      val cond = if (litLeft) op(t.lit(k), c) else op(c, t.lit(k))
      def ids(df: DataFrame) = df.filter(cond).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val ours = ids(table(dir))
      val theirs = ids(Tables.normalize(spark.read.parquet(s"$dir/t.parquet")))
      (ours == theirs) :|
        s"${t.name} rg=$rg ${if (litLeft) s"$k $opName c" else s"c $opName $k"} over $files: $ours vs $theirs"
    }

  /** The files a `c >= wm` scan over `Tables.t` reads. */
  private def scanned(dir: String, wm: Column): Set[String] = {
    val plan = table(dir).filter(col("c") >= wm).queryExecution.executedPlan
    plan.collect { case s: FileSourceScanExec =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters).flatMap(_.files.map(_.getPath.getName))
    }.flatten.toSet
  }

  property("the long and TIMESTAMP_NTZ watermark scans read exactly the files whose max is >= wm") =
    forAllNoShrink(for {
      t <- Gen.oneOf(long, ntz)
      files <- genFiles(t.gen)
      rg <- Gen.choose(1, 6)
      present = files.flatten.filter(_ != null)
      wm <- if (present.isEmpty) t.gen else Gen.frequency(1 -> t.gen, 2 -> Gen.oneOf(present))
    } yield (t, files, rg, wm)) { case (t, files, rg, wm) =>
      val dir = write(t, numbered(files), rg)
      val want = files.zipWithIndex.collect {
        case (rows, i) if rows.exists(v => v != null && v.asInstanceOf[Long] >= wm.asInstanceOf[Long]) => f"part-$i%05d.parquet"
      }.toSet
      val got = scanned(dir, t.lit(wm))
      (got == want) :| s"${t.name} rg=$rg wm=$wm over $files: read $got, want $want"
    }
}
