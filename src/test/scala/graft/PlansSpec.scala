package graft

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The PushdownNanosTimestamp optimizer rule: predicates over the
  * µs-normalized nanos timestamp must (a) reach the parquet scan as raw-nanos
  * pushed filters and (b) keep exactly the same row semantics at µs
  * boundaries (truncation math).
  */
class PlansSpec extends SparkSpec {

  private def events = Tables.t(spark, sf, "events")

  test("watermark predicate is pushed to the parquet scan") {
    val df = events.filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
    val scan = df.queryExecution.executedPlan.toString
    // The fixtures' `events.ts` is µs TIMESTAMP_NTZ: the filter pushes
    // through the normalizing cast as an NTZ scan filter (row-group stats
    // apply). The TIMESTAMP(NANOS) regime's raw-nanos rewrite is pinned on a
    // real nanos file below.
    assert(scan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-15T00:00)]"),
      s"NTZ pushdown missing from plan:\n$scan")
  }

  test("rewritten comparisons preserve semantics at exact µs boundaries") {
    // Use a real row's truncated-µs value so equality/boundary paths fire.
    val all = events.select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val boundary = all.find(_._1 == 5L).get._2
    val bts = new Timestamp(boundary / 1000)
    bts.setNanos(((boundary % 1000000) * 1000).toInt)
    val blit = lit(bts)
    def check(name: String, pred: Column, expected: Long => Boolean): Unit = {
      val got = events.filter(pred).count()
      val want = all.count { case (_, us) => expected(us) }
      assert(got == want, s"$name: spark $got vs expected $want")
    }
    check("geq", col("ts") >= blit, _ >= boundary)
    check("gt", col("ts") > blit, _ > boundary)
    check("lt", col("ts") < blit, _ < boundary)
    check("leq", col("ts") <= blit, _ <= boundary)
    check("eq", col("ts") === blit, _ == boundary)
    check("geq-mirror", blit <= col("ts"), _ >= boundary)
    check("lt-mirror", blit > col("ts"), _ < boundary)
  }

  test("epoch/pre-epoch literals are not rewritten (negative-ns truncation trap)") {
    // IntegralDivide truncates toward zero, so ns=-500 normalizes to µs=0:
    // it must satisfy ts >= epoch. The old unguarded rewrite (ns >= 0) would
    // drop it. The rule now only fires for strictly positive µs literals.
    import spark.implicits._
    graft.plans.PushdownNanosTimestamp.install(spark)
    val df = Seq(-1500L, -500L, 0L, 500L, 1500L).toDF("ns")
      .select(col("ns"), timestamp_micros(expr("ns DIV 1000")).as("ts"))
    val epoch = lit(new Timestamp(0L)) // µs = 0 → not rewritten
    assert(df.filter(col("ts") >= epoch).count() == 4,
      "ns=-500 truncates to µs 0 and must satisfy ts >= epoch")
    // A positive literal is still rewritten (plan shape proven on the parquet
    // scan in the first test), and stays correct for negative ns.
    val oneUs = new Timestamp(0L); oneUs.setNanos(1000)
    assert(df.filter(col("ts") >= lit(oneUs)).count() == 1)
  }

  test("real TIMESTAMP(NANOS) parquet: Tables.t truncates to µs, pushes raw-nanos filters, extracts incrementally") {
    import NanosFixture.{base, ns}
    val dir = NanosFixture.write()

    // Spark cannot read the file at all without the legacy nanos-as-long conf.
    val plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val illegal = intercept[Exception](plain.read.parquet(s"$dir/events.parquet").collect())
    assert(Iterator.iterate(illegal: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL")), illegal)

    // Tables.t: the LongType branch truncates ns → µs TimestampType.
    val ev = Tables.t(spark, dir, "events")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val us = ev.select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(us == ns.zipWithIndex.map { case (v, i) => i.toLong -> v / 1000 }.toMap)

    // The µs predicate reaches the scan as the equivalent raw-nanos filter,
    // and every comparison keeps µs semantics at the boundary.
    val b = base + 3
    val bts = new Timestamp(b / 1000); bts.setNanos(((b % 1000000) * 1000).toInt)
    val scan = ev.filter(col("ts") > lit(bts)).queryExecution.executedPlan.toString
    assert(scan.contains(s"GreaterThanOrEqual(ts,${(b + 1) * 1000})"), scan)
    def check(name: String, pred: Column, keep: Long => Boolean): Unit =
      assert(ev.filter(pred).count() == ns.count(v => keep(v / 1000)), name)
    check("geq", col("ts") >= lit(bts), _ >= b)
    check("gt", col("ts") > lit(bts), _ > b)
    check("lt", col("ts") < lit(bts), _ < b)
    check("leq", col("ts") <= lit(bts), _ <= b)
    check("eq", col("ts") === lit(bts), _ == b)

    // Incremental extract on ts: the watermark is the µs max, and the
    // inclusive re-read returns exactly the rows in that last µs — all
    // three ns siblings — through a pushed raw-nanos scan filter.
    import graft.extract.Extractor
    import graft.model._
    val cfg = TableConfig("events", replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("ts"), iterateColumnType = IterateType.DatetimeCol)
    val ex = new Extractor(dir)
    val first = ex.extract(spark, cfg)
    assert(first.df.get.count() == ns.size)
    assert(first.lastPoint.contains("2024-01-01 00:00:00.000005"), first.lastPoint)
    val second = ex.extract(spark, cfg, first.lastPoint)
    val reread = second.df.get
    assert(reread.queryExecution.executedPlan.toString
      .contains(s"GreaterThanOrEqual(ts,${(base + 5) * 1000})"))
    assert(reread.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      ns.zipWithIndex.collect { case (v, i) if v / 1000 == base + 5 => i.toLong })
  }

  test("levenshtein guard covers reversed and strict spellings, skips non-deterministic args") {
    graft.plans.LevenshteinLengthGuard.install(spark)
    val c = Tables.t(spark, sf, "customer")
    def opt(cond: String): String =
      c.filter(expr(cond)).queryExecution.optimizedPlan.toString
    // All four equivalent threshold spellings gain the length guard.
    assert(opt("levenshtein(c_name, c_mktsegment) <= 4").contains("abs((length("))
    assert(opt("4 >= levenshtein(c_name, c_mktsegment)").contains("abs((length("))
    assert(opt("levenshtein(c_name, c_mktsegment) < 4").contains("abs((length("))
    assert(opt("4 > levenshtein(c_name, c_mktsegment)").contains("abs((length("))
    // The strict spelling's guard is itself strict (lev ≥ |Δlen|, so
    // lev < k ⟹ |Δlen| < k): the guarded filter keeps exactly the rows a
    // driver-side DP reimplementation keeps — the guard never drops a match.
    def levDp(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cur = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = prev(j); prev(j) = cur
        }
      }
      prev(b.length)
    }
    val expected = c.select("c_name", "c_mktsegment").collect()
      .count(r => levDp(r.getString(0), r.getString(1)) < 13)
    assert(c.filter(expr("levenshtein(c_name, c_mktsegment) < 13")).count() == expected)
    // A non-deterministic levenshtein argument must NOT be duplicated into
    // a guard — evaluating it twice would change filter semantics.
    val nd = opt(
      "levenshtein(c_name, concat(c_mktsegment, cast(cast(rand()*10 as int) as string))) <= 4")
    assert(!nd.contains("abs((length("), s"guard duplicated a rand-derived arg:\n$nd")
  }

  test("session registrars: 8 concurrent threads install each rule and strategy exactly once") {
    import graft.plans.{AsOfJoinStrategy, IntervalJoinStrategy, LevenshteinLengthGuard, PushdownNanosTimestamp, SessionRules}
    // The four registrars: the two rule installs, and the strategy
    // registrations the as-of and interval entries make.
    val installs: Seq[org.apache.spark.sql.SparkSession => Unit] = Seq(
      PushdownNanosTimestamp.install, LevenshteinLengthGuard.install,
      SessionRules.addStrategy(_, AsOfJoinStrategy), SessionRules.addStrategy(_, IntervalJoinStrategy))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      for (rep <- 0 until 20) {
        val s = spark.newSession()
        val start = new java.util.concurrent.CountDownLatch(1)
        // Thread w starts at registrar w % 4, so different registrars race.
        val futs = (0 until 8).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              installs.indices.foreach(k => installs((w + k) % installs.size)(s))
            }
          })
        }
        start.countDown()
        futs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        val opts = s.experimental.extraOptimizations
        val planned = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner.strategies
        assert(opts.count(_ eq PushdownNanosTimestamp) == 1, s"rep $rep: $opts")
        assert(opts.count(_ eq LevenshteinLengthGuard) == 1, s"rep $rep: $opts")
        assert(planned.count(_ eq AsOfJoinStrategy) == 1, s"rep $rep: ${s.experimental.extraStrategies}")
        assert(planned.count(_ eq IntervalJoinStrategy) == 1, s"rep $rep: ${s.experimental.extraStrategies}")
      }
    } finally pool.shutdown()
  }

  test("native as-of join: constructed boundary/tie/unmatched/null-time semantics") {
    import spark.implicits._
    val p = Seq((1L, 10L, 100L), (2L, 10L, 50L), (3L, 10L, 10L),
      (4L, 20L, 100L), (5L, 30L, 100L))
      .toDF("purchase_id", "user_id", "purchase_us")
    val c = Seq((101L, 10L, Some(50L)), (102L, 10L, Some(50L)),
      (103L, 10L, Some(99L)), (104L, 20L, Some(101L)), (105L, 10L, None))
      .toDF("click_id", "click_user", "click_us")
    val got = org.apache.spark.sql.graft.AsOf.asofJoin(p, c,
        Seq("user_id"), Seq("click_user"), "purchase_us", "click_us",
        rightTiebreaks = Seq("click_id"))
      .select("purchase_id", "click_id", "click_us")
      .orderBy("purchase_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 103L, 99L),  // latest ≤ 100
      (2L, 102L, 50L),  // boundary: at-or-before includes equality; tie → max click_id
      (3L, -1L, -1L),   // nothing at-or-before
      (4L, -1L, -1L),   // only click is AFTER the purchase
      (5L, -1L, -1L)),  // user has no clicks at all
      s"got $got")
  }

  test("native as-of join matches the composed row_number form on the fixture") {
    import org.apache.spark.sql.expressions.Window
    val got = ops.Relational.joinAsofNative(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    val ev = Tables.t(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("click_us"))
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_us").desc, col("click_id").desc)
    val m = p.join(c, col("user_id") === col("cu") && col("click_us") <= col("purchase_us"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("purchase_id", "click_id", "click_us")
    val expected = p.join(m, Seq("purchase_id"), "left")
      .select("purchase_id", "user_id", "purchase_us", "click_id", "click_us")
      .orderBy("purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(got.nonEmpty && got.exists(_._4 >= 0) && got.exists(_._4 == -1L),
      "fixture must exercise both matched and unmatched purchases")
    assert(got == expected)
  }

  test("native as-of join matches a driver reference on a seeded adversarial corpus") {
    // 300 random rows per side from a seeded RNG, dense in exactly the nasty
    // territory: 6 keys (collisions everywhere), times 0..19 (heavy ties),
    // ~10% null keys and times on both sides, keys present on only one side.
    import spark.implicits._
    val rng = new scala.util.Random(1234)
    def kOpt() = if (rng.nextInt(10) == 0) None else Some(rng.nextInt(6).toLong)
    def tOpt() = if (rng.nextInt(10) == 0) None else Some(rng.nextInt(20).toLong)
    val lRows = (1 to 300).map(i => (i.toLong, kOpt(), tOpt()))
    val rRows = (1 to 300).map(i => (1000L + i, kOpt(), tOpt()))
    val l = lRows.toDF("pid", "user_id", "pus")
    val r = rRows.toDF("cid", "cu", "cus")
    val got = org.apache.spark.sql.graft.AsOf.asofJoin(l, r,
        Seq("user_id"), Seq("cu"), "pus", "cus", Seq("cid"))
      .select("pid", "cid").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    val expected = lRows.map { case (pid, k, t) =>
      val m = (k, t) match {
        case (Some(kk), Some(tt)) =>
          val cands = rRows.filter(c => c._2.contains(kk) && c._3.exists(_ <= tt))
          if (cands.isEmpty) -1L
          else cands.maxBy(c => (c._3.get, c._1))._1
        case _ => -1L
      }
      pid -> m
    }.toMap
    assert(got == expected)
    // The corpus must actually exercise every branch.
    assert(expected.values.exists(_ == -1L) && expected.values.exists(_ >= 0))
    assert(lRows.exists(_._2.isEmpty) && rRows.exists(_._3.isEmpty))
    // STRICT mode on the same corpus: candidates tighten to t < lt. The
    // dense 0..19 time range guarantees many equal-time pairs, so the two
    // references genuinely diverge (asserted) — a <=-vs-< regression
    // cannot hide.
    val gotStrict = org.apache.spark.sql.graft.AsOf.asofJoin(l, r,
        Seq("user_id"), Seq("cu"), "pus", "cus", Seq("cid"), strict = true)
      .select("pid", "cid").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    val expectedStrict = lRows.map { case (pid, k, t) =>
      val m = (k, t) match {
        case (Some(kk), Some(tt)) =>
          val cands = rRows.filter(c => c._2.contains(kk) && c._3.exists(_ < tt))
          if (cands.isEmpty) -1L
          else cands.maxBy(c => (c._3.get, c._1))._1
        case _ => -1L
      }
      pid -> m
    }.toMap
    assert(gotStrict == expectedStrict)
    assert(expectedStrict != expected,
      "seeded corpus must contain equal-time matches for strictness to bite")
  }

  test("native as-of join realigns mismatched pre-partitioned sides (3 vs 11) under and without AQE") {
    // The exec's zipPartitions needs equal child partition counts;
    // EnsureRequirements must re-exchange a side whose existing hash
    // partitioning doesn't match the other's — pinned here so a Spark
    // upgrade that changes compatibility rules fails loudly.
    import spark.implicits._
    val l = (0 until 500).map(i => (i.toLong, (i % 7).toLong, i.toLong * 10))
      .toDF("pid", "user_id", "pus").repartition(3, col("user_id"))
    val r = (0 until 500).map(i => (i.toLong + 5000, (i % 7).toLong, i.toLong * 9))
      .toDF("cid", "cu", "cus").repartition(11, col("cu"))
    def run(): Long = org.apache.spark.sql.graft.AsOf.asofJoin(l, r,
      Seq("user_id"), Seq("cu"), "pus", "cus", Seq("cid")).count()
    assert(run() == 500L)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(run() == 500L)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("native as-of join plans as one merge with exactly one exchange per side") {
    import spark.implicits._
    val p = (1 to 100).map(i => (i.toLong, (i % 7).toLong, i.toLong * 10))
      .toDF("purchase_id", "user_id", "purchase_us")
    val c = (1 to 100).map(i => (i.toLong + 1000, (i % 7).toLong, i.toLong * 9))
      .toDF("click_id", "click_user", "click_us")
    val df = org.apache.spark.sql.graft.AsOf.asofJoin(p, c,
      Seq("user_id"), Seq("click_user"), "purchase_us", "click_us")
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix: the custom node prints as
    // "AsOfJoin [keys]...".
    assert(plan.contains("AsOfJoin ["), s"custom exec missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), s"BNLJ leaked in:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
    assert("\\bSort \\[".r.findAllIn(plan).length >= 2,
      s"both sides must sort on (key, time):\n$plan")
  }

  test("native as-of join: raw collect, NTZ times, and entry validation") {
    import spark.implicits._
    val p = Seq((1L, 10L, 100L), (2L, 20L, 50L)).toDF("pid", "user_id", "pus")
    val c = Seq((9L, 10L, 40L)).toDF("cid", "cu", "cus")
    // Raw collect with NO projection above the exec: the emitted rows must
    // satisfy the UnsafeRow output contract (a bare JoinedRow would
    // ClassCastException inside getByteArrayRdd).
    val raw = org.apache.spark.sql.graft.AsOf
      .asofJoin(p, c, Seq("user_id"), Seq("cu"), "pus", "cus").collect()
    assert(raw.length == 2)
    assert(raw.map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._1).toSeq == Seq((1L, 9L), (2L, -1L)))
    // Key name resolution follows the session resolver (case-insensitive by
    // default), and TIMESTAMP_NTZ time columns are accepted (micros-backed).
    val pn = p.select(col("pid"), col("user_id"),
      expr("timestamp_micros(pus)").cast("timestamp_ntz").as("pts"))
    val cn = c.select(col("cid"), col("cu"),
      expr("timestamp_micros(cus)").cast("timestamp_ntz").as("cts"))
    val ntz = org.apache.spark.sql.graft.AsOf
      .asofJoin(pn, cn, Seq("USER_ID"), Seq("CU"), "pts", "cts")
      .select("pid", "cid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(ntz == Map(1L -> 9L, 2L -> -1L))
    // Mismatched key types fail fast (silent mis-partitioning otherwise).
    val cInt = Seq((9, 10, 40L)).toDF("cid", "cu", "cus")
    val eTyp = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.AsOf.asofJoin(
        p, cInt.select(col("cid"), col("cu").cast("int").as("cu"), col("cus")),
        Seq("user_id"), Seq("cu"), "pus", "cus")
    }
    assert(eTyp.getMessage.contains("key type mismatch"), eTyp.getMessage)
    // An unaliased self join fails with an actionable message, not an
    // internal resolution error.
    val eSelf = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.AsOf.asofJoin(
        p, p, Seq("user_id"), Seq("user_id"), "pus", "pus")
    }
    assert(eSelf.getMessage.contains("alias the right side"), eSelf.getMessage)
  }
}
