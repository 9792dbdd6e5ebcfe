package graft

import org.apache.spark.sql.{Column, Row, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}

import graft.extract.{Predicates, QueryTemplate}
import graft.model._

/** Property tests over the predicate builder (SURVEY §5.3): generated
  * (lower, upper, lastPoint, type) configs always reproduce the reference
  * decision tree (__init__.py:69-94) and the splice is faithful.
  */
object PredicatesPropSpec extends Properties("Predicates") {

  private val genInt = Gen.choose(0L, 100000L).map(_.toString)
  private val genOpt = Gen.option(genInt)

  private def cfg(lo: Option[String], hi: Option[String]) = TableConfig("t",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("c"), iterateColumnType = IterateType.IntCol,
    filterLowerBound = lo, filterUpperBound = hi)

  property("decision tree: bounds → append; watermark → append; neither → 1=1 overwrite") =
    forAll(genOpt, genOpt, genOpt) { (lo, hi, lp) =>
      val (clause, mode) = Predicates.incrementalClause(cfg(lo, hi), lp)
      if (lo.isDefined || hi.isDefined) {
        mode == SaveMode.Append &&
          lo.forall(v => clause.contains(s"c >= $v")) &&
          hi.forall(v => clause.contains(s"c < $v")) &&
          (clause.contains(" AND ") == (lo.isDefined && hi.isDefined))
      } else lp match {
        case Some(v) => mode == SaveMode.Append && clause == s"WHERE c >= $v"
        case None    => mode == SaveMode.Overwrite && clause == "WHERE 1=1"
      }
    }

  property("int literals render bare, datetime quoted") = forAll(genInt) { v =>
    Predicates.renderLiteral(v, IterateType.IntCol) == v &&
      Predicates.renderLiteral(v, IterateType.DatetimeCol) == s"'$v'"
  }

  property("splice replaces every hole and leaves the rest intact") =
    forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (pre, post) =>
      val spliced = QueryTemplate.splice(s"$pre {query_filter} $post", "WHERE 1=1")
      spliced == s"$pre WHERE 1=1 $post"
    }

  property("splice is idempotent when clause has no hole") =
    forAll(genInt) { v =>
      val once = QueryTemplate.splice("SELECT {query_filter}", s"WHERE c >= $v")
      QueryTemplate.splice(once, "WHERE 1=1") == once
    }

  // Watermark UTC render: for any µs-precision instant (1970–2100, the
  // fixture/real-data range), parsing the rendered string back as a UTC
  // wall clock recovers the exact instant — on any JVM default timezone,
  // including ones whose DST gaps contain the wall clock.
  private val genMicros: Gen[Long] =
    Gen.choose(0L, 4102444800000000L) // 2100-01-01 in epoch µs
  private val zones = Seq("UTC", "America/New_York", "Asia/Kolkata", "Pacific/Chatham")

  property("renderUtc round-trips any instant under any default timezone") =
    forAll(genMicros, Gen.oneOf(zones)) { (us, zone) =>
      val prev = java.util.TimeZone.getDefault
      try {
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(zone))
        val i = java.time.Instant.ofEpochSecond(
          java.lang.Math.floorDiv(us, 1000000L),
          java.lang.Math.floorMod(us, 1000000L) * 1000L)
        val s = graft.extract.Extractor.renderUtc(i)
        val back = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)
        back == i && s.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?""")
      } finally java.util.TimeZone.setDefault(prev)
    }

  // ParamLiteral ≡ Literal: a scan filter `c OP k` keeps the same rows
  // whether ParamScanFilters turned `k` into a ParamLiteral or not, for
  // every type it rewrites, under whole-stage codegen and on the
  // interpreted `eval` path (NO_CODEGEN, whole-stage off).
  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (name, raw column type, SQL that types the raw column, value
    * generator, literal of a raw value). Dates are raw epoch days and
    * timestamps raw epoch µs, year 0001 to 9999.
    */
  private case class Typed(name: String, raw: DataType, typed: String, gen: Gen[Any], lit: Any => Column)

  private def mix[A](specials: Seq[A], random: Gen[A]): Gen[Any] =
    Gen.frequency(3 -> Gen.oneOf(specials), 5 -> random)
  private val (minDay, maxDay) = (-719162, 2932896)
  private val (minUs, maxUs) = (-62135596800000000L, 253402300799999999L)
  private def instant(us: Long) = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
  private val genUs = mix(Seq(minUs, -1L, 0L, 1L, maxUs), Gen.choose(minUs, maxUs))

  private val typed = Seq(
    Typed("byte", ByteType, "c", mix(Seq(Byte.MinValue, -1.toByte, 0.toByte, Byte.MaxValue), Arbitrary.arbitrary[Byte]),
      v => lit(v)),
    Typed("short", ShortType, "c", mix(Seq(Short.MinValue, 0.toShort, Short.MaxValue), Arbitrary.arbitrary[Short]),
      v => lit(v)),
    Typed("int", IntegerType, "c", mix(Seq(Int.MinValue, -1, 0, Int.MaxValue), Arbitrary.arbitrary[Int]), v => lit(v)),
    Typed("long", LongType, "c", mix(Seq(Long.MinValue, -1L, 0L, Long.MaxValue), Arbitrary.arbitrary[Long]),
      v => lit(v)),
    Typed("float", FloatType, "c", mix(Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinValue, Float.MaxValue, Float.MinPositiveValue), Arbitrary.arbitrary[Float]), v => lit(v)),
    Typed("double", DoubleType, "c", mix(Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinValue, Double.MaxValue, Double.MinPositiveValue), Arbitrary.arbitrary[Double]), v => lit(v)),
    Typed("date", IntegerType, "date_from_unix_date(c)", mix(Seq(minDay, -1, 0, 1, maxDay), Gen.choose(minDay, maxDay)),
      v => lit(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))),
    Typed("timestamp", LongType, "timestamp_micros(c)", genUs, v => lit(instant(v.asInstanceOf[Long]))),
    Typed("timestamp_ntz", LongType, "CAST(timestamp_micros(c) AS TIMESTAMP_NTZ)", genUs,
      v => lit(java.time.LocalDateTime.ofInstant(instant(v.asInstanceOf[Long]), java.time.ZoneOffset.UTC))))

  private val ops: Seq[(String, (Column, Column) => Column)] = Seq(
    ">=" -> (_ >= _), ">" -> (_ > _), "<" -> (_ < _), "<=" -> (_ <= _), "=" -> (_ === _), "<=>" -> (_ <=> _))

  private val genCase = for {
    t <- Gen.oneOf(typed)
    n <- Gen.choose(1, 24)
    vals <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null), 6 -> t.gen))
    k <- Gen.frequency(2 -> t.gen, 1 -> Gen.oneOf(vals).suchThat(_ != null))
    op <- Gen.oneOf(ops)
    litLeft <- Arbitrary.arbitrary[Boolean]
  } yield (t, vals, k, op, litLeft)

  /** Four sessions: plain and parameterized, each with whole-stage
    * codegen and interpreted. Dates and timestamps before 1582 are
    * written and read as proleptic Gregorian, with no rebasing.
    */
  private lazy val sessions = for (param <- Seq(false, true); codegen <- Seq(true, false)) yield {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for (k <- Seq("datetimeRebaseModeInWrite", "datetimeRebaseModeInRead", "int96RebaseModeInWrite", "int96RebaseModeInRead"))
      s.conf.set(s"spark.sql.parquet.$k", "CORRECTED")
    if (!codegen) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    if (param) graft.plans.SessionRules.addStrategy(s, graft.plans.ParamScanFilters)
    (param, codegen, s)
  }

  property("ParamLiteral filters keep the rows of Literal filters, with and without codegen") =
    forAllNoShrink(genCase) { case (t, vals, k, (opName, op), litLeft) =>
      val (_, _, writer) = sessions.head
      val rows = vals.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
      val schema = StructType(Seq(StructField("id", LongType), StructField("c", t.raw)))
      val root = java.nio.file.Files.createTempDirectory("graft-param")
      val dir = root.resolve("t").toString
      writer.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .selectExpr("id", s"${t.typed} AS c").write.parquet(dir)
      val cond = if (litLeft) op(t.lit(k), col("c")) else op(col("c"), t.lit(k))
      val got = try sessions.map { case (param, codegen, s) =>
        val df = s.read.parquet(dir).filter(cond).select("id")
        val plan = df.queryExecution.executedPlan
        val rewritten = plan.exists {
          case f: org.apache.spark.sql.execution.FilterExec => f.condition.exists(_.isInstanceOf[graft.plans.ParamLiteral])
          case _ => false
        }
        val wholeStage = plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
        (df.collect().map(_.getLong(0)).sorted.toSeq, rewritten == param && wholeStage == codegen)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      val expected = got.head._1
      (got.forall(g => g._1 == expected && g._2)) :|
        s"${t.name} ${if (litLeft) s"$k $opName c" else s"c $opName $k"} over $vals: $got"
    }
}
