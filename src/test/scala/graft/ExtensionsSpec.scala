package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Proves the library's install paths in-suite: a FRESH session carrying
  * [[GraftExtensions]] gets Engine's rules, strategies and every SQL
  * function with zero Scala imports, and a plain session gets the same
  * engine from [[Engine.ensure]]. `spark.sql.extensions` is a STATIC conf — Spark reads
  * it from the SparkContext's conf at session construction — so the
  * conf-string route only binds when this spec creates the JVM's first
  * context; when a shared [[SparkSpec]] context already exists (suite
  * ordering is not ours to pick), the documented programmatic install
  * `builder().withExtensions(new GraftExtensions)` exercises the identical
  * injection points. The spark-submit-shaped conf route stays proven by
  * [[graft.ExtensionsDemo]], a standalone main with a fresh JVM + context.
  *
  * Safe to run in the shared-JVM suite: sbt runs forked suites sequentially
  * (`testForkedParallel` defaults to false), the isolated session shares the
  * JVM's SparkContext, and active/default sessions are restored in finally.
  */
class ExtensionsSpec extends AnyFunSuite {

  val sf = "/root/testdata/sf0.001"

  test("GraftExtensions injects Engine's rules, strategies, SQL functions, parser") {
    val prior = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val contextExists = org.apache.spark.SparkEnv.get != null
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s =
      if (contextExists) builder.withExtensions(new GraftExtensions).getOrCreate()
      else builder.config("spark.sql.extensions", "graft.GraftExtensions").getOrCreate()
    try {
      if (!contextExists)
        assert(s.sessionState.conf.getConfString("spark.sql.extensions")
          == "graft.GraftExtensions")
      Tables.registerViews(s, sf, Seq("documents", "embeddings", "events"))

      // All injected functions resolve from PURE SQL.
      val row = s.sql(
        """SELECT size(graft_minhash(text))       AS mh_len,
          |       size(graft_shingle_hashes(text)) AS sh_len,
          |       graft_token_count(text)          AS toks,
          |       graft_simhash(text)              AS sim,
          |       size(graft_rolling_fp(text))     AS rfp_len,
          |       graft_deflate_len(text)          AS dfl,
          |       graft_dhash(encode(text, 'UTF-8')) AS dh,
          |       graft_hilbert(doc_id + 1, doc_id, 4) AS hil
          |FROM documents WHERE doc_id = 0""".stripMargin).head()
      // (1,0) at bits=4 is the curve's first step from the origin — d = 1.
      assert(row.getAs[Long]("hil") == 1L)
      assert(row.getAs[Int]("mh_len") == 64)
      assert(row.getAs[Int]("sh_len") > 0)
      assert(row.getAs[Long]("toks") > 0L)
      assert(row.getAs[Int]("rfp_len") >= 0)
      assert(row.getAs[Long]("dfl") > 0L)
      // The SQL kernel IS the media pipeline's stub leg: same hash as
      // Multimodal.dhash64 on an undecodable payload.
      val textBytes = s.sql(
        "SELECT encode(text, 'UTF-8') FROM documents WHERE doc_id = 0")
        .head().getAs[Array[Byte]](0)
      assert(row.getAs[Long]("dh") == graft.ops.Multimodal.dhash64(textBytes))
      val dot = s.sql(
        "SELECT graft_dot(embedding, embedding) AS d FROM embeddings WHERE vec_id = 0")
        .head().getDouble(0)
      assert(dot > 0.0)

      // The injected GENERATOR expands rows from a LATERAL VIEW: doc 0's
      // 5-gram count must be length - 4, and positions must start at 0.
      val g = s.sql(
        """SELECT count(*) AS n, min(g.pos) AS p0, max(length(g.gram)) AS gl
          |FROM documents LATERAL VIEW graft_char_ngrams(text, 5) g AS pos, gram
          |WHERE doc_id = 0""".stripMargin).head()
      val len0 = s.sql("SELECT length(text) FROM documents WHERE doc_id = 0")
        .head().getInt(0)
      assert(g.getAs[Long]("n") == (len0 - 4).toLong)
      assert(g.getAs[Int]("p0") == 0 && g.getAs[Int]("gl") == 5)

      // SQL bindings agree with the Scala-helper registrations (same
      // Expressions, fixed 64-hash / 3-shingle defaults).
      import org.apache.spark.sql.functions.col
      val doc0 = Tables.t(s, sf, "documents").filter(col("doc_id") === 0)
      val viaHelper = doc0.select(
        graft.functions.SimHash64.simhash(s, col("text"))).head().getLong(0)
      assert(row.getAs[Long]("sim") == viaHelper)

      // A predicate on the normalized ts column reaches the parquet scan as
      // the fixtures' µs TIMESTAMP_NTZ pushed filter.
      val pushed = Tables.t(s, sf, "events")
        .filter(col("ts") >=
          org.apache.spark.sql.functions.lit("2024-01-15 00:00:00").cast("timestamp"))
        .queryExecution.executedPlan.toString
      assert(pushed.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-15T00:00)]"),
        s"ts predicate not pushed to the scan:\n$pushed")
      // The injected scan-filter strategy parameterizes the residual
      // filter's constant; the pushed filter above keeps the plain literal.
      val residual = Tables.t(s, sf, "events")
        .filter(col("ts") >= org.apache.spark.sql.functions.lit("2024-01-15 00:00:00").cast("timestamp"))
        .queryExecution.executedPlan.collect { case f: org.apache.spark.sql.execution.FilterExec => f.condition }
      assert(residual.exists(_.exists(_.isInstanceOf[graft.plans.ParamLiteral])), residual)

      // The injected PLANNER STRATEGY plans the native as-of join while the
      // session's experimental list stays EMPTY — proving the extensions
      // wiring carries it, not AsOf.asofJoin's runtime fallback.
      val ev = Tables.t(s, sf, "events")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("pus"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cu"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("cus"))
      val asof = org.apache.spark.sql.graft.AsOf.asofJoin(
        purch, clicks, Seq("user_id"), Seq("cu"), "pus", "cus", Seq("cid"))
      assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin ["),
        "extensions session must plan the native as-of operator")
      assert(s.experimental.extraStrategies.isEmpty,
        "the injected strategy must cover it — no experimental fallback")
      assert(asof.count() > 0)

      // The injected PARSER accepts BOTH as-of spellings on plain
      // spark.sql: Snowflake/DuckDB MATCH_CONDITION and the
      // DuckDB/ClickHouse ON-conjunct form — same native plan.
      purch.createOrReplaceTempView("ext_p")
      clicks.createOrReplaceTempView("ext_c")
      val conjunct = s.sql(
        """SELECT pid, cid FROM ext_p ASOF JOIN ext_c
          |ON user_id = cu AND pus >= cus""".stripMargin)
      assert(conjunct.queryExecution.executedPlan.toString.contains("AsOfJoin ["),
        "the ON-conjunct ASOF spelling must plan the native operator")
      assert(conjunct.count() > 0)

      // Negative control: the plain SQL names exist only via the
      // extensions or Engine.ensure — a vanilla session no entry point has
      // touched must not resolve graft_minhash.
      prior.foreach { vanilla =>
        val err = intercept[Exception](vanilla.newSession().sql("SELECT graft_minhash('a b c d')"))
        assert(err.getMessage.contains("UNRESOLVED_ROUTINE")
          || err.getMessage.toLowerCase.contains("cannot resolve"), err.getMessage)
      }

      // ClickHouse dialect gating: standard SQL that merely LOOKS
      // ClickHouse-ish (a column aliased `qualify`, one named `prewhere`)
      // parses cleanly stock and must be UNTOUCHED by the dialect rewrite
      // — the rewrite only runs when Spark's own parser rejects the text.
      assert(s.sql("SELECT doc_id AS qualify FROM documents ORDER BY qualify LIMIT 1")
        .head().getLong(0) == 0L)
      assert(s.sql("SELECT doc_id AS prewhere FROM documents WHERE doc_id = 1")
        .head().getLong(0) == 1L)
      // And genuinely ClickHouse statements DO flow through the fallback:
      // QUALIFY + LIMIT BY + a registered combinator on plain spark.sql.
      val ch = s.sql(
        """SELECT doc_id, countIf(length(text) > 0) AS c FROM documents
          |GROUP BY doc_id ORDER BY doc_id LIMIT 2 BY c""".stripMargin).count()
      assert(ch > 0, "ClickHouse LIMIT BY must run on plain spark.sql")
      val chq = s.sql(
        """SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
          |FROM documents QUALIFY rn = 1""".stripMargin).head().getLong(0)
      assert(chq == 0L, "ClickHouse QUALIFY must run on plain spark.sql")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { p =>
        SparkSession.setActiveSession(p)
        SparkSession.setDefaultSession(p)
      }
    }
  }

  test("two seams, one engine: an extensions session and an ensured plain session") {
    import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.classic.{SparkSession => Classic}
    val prior = SparkSession.getActiveSession
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A context this suite built through the spark.sql.extensions conf
    // route carries the extension into every session; stop it so the
    // plain session below is plain.
    if (prior.isEmpty && org.apache.spark.SparkEnv.get != null) {
      val sc = builder.getOrCreate().sparkContext
      if (sc.getConf.contains("spark.sql.extensions")) sc.stop()
    }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = prior.getOrElse(builder.getOrCreate()).newSession()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val ext = builder.withExtensions(new GraftExtensions).getOrCreate()
      assert(plain.asInstanceOf[Classic].sessionState.optimizer.extendedOperatorOptimizationRules.isEmpty,
        "the plain session must not carry the extension")
      Engine.ensure(plain)
      val nanosDir = NanosFixture.write()
      // Every plan below reads through Tables.t, which ensures the
      // extensions session too: nothing may be installed twice there.
      def parts(s: SparkSession) = {
        val st = s.asInstanceOf[Classic].sessionState
        (st.optimizer.extendedOperatorOptimizationRules ++ s.experimental.extraOptimizations,
          st.planner.strategies.map(_.getClass.getName),
          Engine.functions.map { case (name, _, builder) =>
            name -> st.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder)
          })
      }
      def plans(s: SparkSession): Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
        val ev = Tables.t(s, sf, "events")
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"), unix_micros(col("ts")).as("pus"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("cid"), col("user_id").as("cu"), unix_micros(col("ts")).as("cus"))
        val since = lit("2024-01-15 00:00:00").cast("timestamp")
        Seq(
          "as-of join" -> org.apache.spark.sql.graft.AsOf.asofJoin(
            purch, clicks, Seq("user_id"), Seq("cu"), "pus", "cus", Seq("cid")),
          "interval join" -> org.apache.spark.sql.graft.Interval.intervalJoin(
            purch, clicks, Seq("user_id"), Seq("cu"), "pus", "cus", -3600000000L, 0L),
          "nanos pushdown" -> Tables.t(s, nanosDir, "events").filter(col("ts") >= since),
          "levenshtein guard" -> Tables.t(s, sf, "customer")
            .filter(expr("levenshtein(c_name, c_mktsegment) <= 2")),
          "watermark scan" -> ev.filter(col("ts") >= since)
        ).map { case (name, df) => name -> df.queryExecution.executedPlan }
      }
      def text(p: org.apache.spark.sql.execution.SparkPlan): String =
        p.toString.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      val (extPlans, plainPlans) = (plans(ext), plans(plain))
      val Seq(asof, interval, nanos, guard, wm) = plainPlans.map(_._2)
      // Each case shows the part it depends on.
      assert(text(asof).contains("AsOfJoin ["), text(asof))
      assert(text(interval).contains("IntervalJoin"), text(interval))
      assert(text(nanos).contains(s"GreaterThanOrEqual(ts,${1705276800000000L * 1000})"), text(nanos))
      assert(text(guard).contains("abs((length("), text(guard))
      assert(wm.collect { case f: org.apache.spark.sql.execution.FilterExec => f.condition }
        .exists(_.exists(_.isInstanceOf[graft.plans.ParamLiteral])), text(wm))
      extPlans.zip(plainPlans).foreach { case ((name, e), (_, p)) =>
        assert(text(e) == text(p), s"$name: the seams plan differently\n--- extensions\n${text(e)}\n--- plain\n${text(p)}")
      }
      val (extParts, plainParts) = (parts(ext), parts(plain))
      assert(extParts._1 == Engine.rules && plainParts._1 == Engine.rules, (extParts._1, plainParts._1))
      assert(extParts._2 == plainParts._2, (extParts._2, plainParts._2))
      assert(Engine.strategies.forall(st => plainParts._2.count(_ == st.getClass.getName) == 1), plainParts._2)
      assert(extParts._3.filterNot(_._2).isEmpty, extParts._3.filterNot(_._2))
      assert(plainParts._3.filterNot(_._2).isEmpty, plainParts._3.filterNot(_._2))
      assert(ext.experimental.extraStrategies.isEmpty && ext.experimental.extraOptimizations.isEmpty)

      // Neither seam replaces Spark's xxhash64 ...
      def xx(s: SparkSession) = s.sql("SELECT xxhash64('a')").head().getLong(0)
      assert(xx(ext) == xx(plain))
      assert(xx(plain) == plain.range(1).select(org.apache.spark.sql.functions.xxhash64(lit("a"))).head().getLong(0))
      // ... and the ClickHouse dialect names ClickHouse's xxHash64 an error
      // on both, as it does cityHash64.
      for (s <- Seq(ext, plain)) {
        val e = intercept[Exception](graft.plans.ClickHouseSql.sql(s, "SELECT xxHash64('x')").collect())
        assert(e.getMessage.contains("different hash algorithms"), e.getMessage)
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { p =>
        SparkSession.setActiveSession(p)
        SparkSession.setDefaultSession(p)
      }
    }
  }
}
