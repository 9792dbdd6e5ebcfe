package graft

import graft.plans.{ClickHouseSql, ClickHouseSqlRewrite}

/** The ClickHouse SQL dialect compat layer ([[graft.plans.ClickHouseSqlRewrite]]
  * + [[graft.plans.ClickHouseFunctions]]): the text-rewrite kernel, the
  * vanilla-session `ClickHouseSql.sql` entry, the named error paths, and
  * the exact-semantics pins for the function mappings the DuckDB oracle
  * cannot cover (approx `uniq`, the plural `quantiles*` array forms,
  * ClickHouse's 0-not-NULL empty-match `sumIf`, `quantileExact`'s
  * element-not-interpolation convention). The extension-session gate
  * (rewrite only on stock parse failure) is pinned in `ExtensionsSpec`.
  */
class ClickHouseSqlSpec extends SparkSpec {
  import spark.implicits._

  // ---- text-rewrite kernel (no Spark involved) ----

  test("rewrite: LIMIT n BY becomes a row_number filter over projected keys and sort") {
    val out = ClickHouseSqlRewrite(
      "SELECT u, v FROM t ORDER BY u, v DESC LIMIT 2 BY u")
    assert(out.contains("row_number() OVER (PARTITION BY __graft_pb_1 " +
      "ORDER BY __graft_ob_1, __graft_ob_2 DESC)"), out)
    assert(out.contains("(u\n) AS __graft_pb_1") &&
      out.contains("(u\n) AS __graft_ob_1") &&
      out.contains("(v\n) AS __graft_ob_2"), out)
    assert(out.contains("WHERE __graft_limit_by_rn <= 2 " +
      "ORDER BY __graft_ob_1, __graft_ob_2 DESC"), out)
    assert(out.startsWith("SELECT * EXCEPT (__graft_pb_1, __graft_ob_1, " +
      "__graft_ob_2, __graft_limit_by_rn) FROM ("), out)
  }

  test("rewrite: LIMIT BY keeps a trailing plain LIMIT and composite keys") {
    val out = ClickHouseSqlRewrite(
      "SELECT a, b, c FROM t ORDER BY c LIMIT 3 BY a, b LIMIT 10")
    assert(out.contains("PARTITION BY __graft_pb_1, __graft_pb_2 ORDER BY __graft_ob_1"), out)
    assert(out.contains("__graft_limit_by_rn <= 3 ORDER BY __graft_ob_1 LIMIT 10"), out)
  }

  test("rewrite: QUALIFY wraps the select and star-EXCEPTs the predicate back out") {
    val out = ClickHouseSqlRewrite(
      "SELECT k, row_number() OVER (PARTITION BY k ORDER BY v) AS rn FROM t " +
        "QUALIFY rn <= 2")
    assert(out.startsWith("SELECT * EXCEPT (__graft_qualify) FROM (SELECT k, " +
      "row_number() OVER (PARTITION BY k ORDER BY v) AS rn\n, (rn <= 2\n) " +
      "AS __graft_qualify\nFROM t\n) WHERE __graft_qualify"), out)
  }

  test("rewrite: QUALIFY absorbs a trailing ORDER BY via projected sort keys") {
    val out = ClickHouseSqlRewrite(
      "SELECT k, max(v) OVER (PARTITION BY k) AS m FROM t QUALIFY m > 1 ORDER BY ts DESC LIMIT 5")
    assert(out.contains("(ts\n) AS __graft_ob_1"), out)
    assert(out.contains("WHERE __graft_qualify ORDER BY __graft_ob_1 DESC LIMIT 5"), out)
    assert(out.startsWith("SELECT * EXCEPT (__graft_qualify, __graft_ob_1) FROM ("), out)
  }

  test("rewrite: QUALIFY in a subquery rewrites only that scope") {
    val out = ClickHouseSqlRewrite(
      "SELECT * FROM (SELECT k, max(v) OVER (PARTITION BY k) AS m FROM t QUALIFY m > 1) q " +
        "WHERE k < 10")
    assert(out.startsWith("SELECT * FROM (SELECT * EXCEPT (__graft_qualify) FROM (SELECT k, "), out)
    assert(out.endsWith(") WHERE __graft_qualify ) q WHERE k < 10"), out)
  }

  test("rewrite: quantile call syntax maps inclusive/element/approx and plural forms") {
    assert(ClickHouseSqlRewrite("SELECT quantileExactInclusive(0.5)(x) FROM t")
      == "SELECT percentile(x\n, 0.5\n) FROM t")
    assert(ClickHouseSqlRewrite("SELECT quantileExact(0.5)(x) FROM t")
      == "SELECT graft_ch_quantile_exact(x\n, 0.5\n) FROM t")
    assert(ClickHouseSqlRewrite("SELECT quantile(0.9)(x) FROM t")
      == "SELECT approx_percentile(x\n, 0.9\n) FROM t")
    assert(ClickHouseSqlRewrite("SELECT quantilesExact(0.5, 0.9)(x) FROM t")
      == "SELECT array(graft_ch_quantile_exact(x\n, 0.5), " +
        "graft_ch_quantile_exact(x\n, 0.9)\n) FROM t")
    assert(ClickHouseSqlRewrite("SELECT quantiles(0.5, 0.9)(x) FROM t")
      == "SELECT approx_percentile(x\n, array(0.5, 0.9\n)) FROM t")
  }

  test("rewrite: PREWHERE merges into WHERE; standalone PREWHERE becomes WHERE") {
    val merged = ClickHouseSqlRewrite(
      "SELECT a FROM t PREWHERE k = 1 WHERE v > 2 GROUP BY a ORDER BY a")
    assert(merged == "SELECT a FROM t WHERE (k = 1\n) AND (v > 2\n) GROUP BY a ORDER BY a", merged)
    val alone = ClickHouseSqlRewrite(
      "SELECT a FROM t PREWHERE k = 1 GROUP BY a")
    assert(alone == "SELECT a FROM t WHERE k = 1\n GROUP BY a", alone)
  }

  test("rewrite: a trailing line comment in a spliced fragment cannot swallow generated SQL") {
    // The select list ends in a `--` comment; the helper column and FROM
    // must land on a fresh line, not inside the comment.
    val out = ClickHouseSqlRewrite(
      "SELECT k, row_number() OVER (ORDER BY v) AS rn -- latest first\nFROM t QUALIFY rn = 1")
    assert(out.contains("-- latest first\n,"), out)
    // With comments dropped line-wise, the generated text must balance.
    val noComments = out.linesIterator.map(l =>
      if (l.contains("--")) l.substring(0, l.indexOf("--")) else l).mkString("\n")
    assert(noComments.count(_ == '(') == noComments.count(_ == ')'),
      s"unbalanced parens after comment splice:\n$out")
  }

  test("rewrite: a trailing SETTINGS clause is stripped (execution tuning, no result semantics)") {
    val out = ClickHouseSqlRewrite(
      "SELECT a FROM t ORDER BY a SETTINGS max_threads = 4, join_algorithm = 'hash'")
    assert(out == "SELECT a FROM t ORDER BY a ", out)
    val sub = ClickHouseSqlRewrite(
      "SELECT * FROM (SELECT a FROM t SETTINGS max_threads = 4) q LIMIT 5")
    assert(sub == "SELECT * FROM (SELECT a FROM t ) q LIMIT 5", sub)
  }

  test("rewrite: string literals and comments are inert; non-CH SQL is untouched") {
    val lit = "SELECT 'LIMIT 2 BY u QUALIFY uniq(x)' AS s FROM t ORDER BY s"
    assert(ClickHouseSqlRewrite(lit) eq lit, "literal must not be rewritten")
    val cmt = "SELECT a FROM t -- QUALIFY rn = 1\nORDER BY a"
    assert(ClickHouseSqlRewrite(cmt) eq cmt, "comment must not be rewritten")
    val plain = "SELECT a, count(*) FROM t GROUP BY a ORDER BY a LIMIT 5"
    assert(ClickHouseSqlRewrite(plain) eq plain, "plain SQL must pass through untouched")
    // uniq/uniqExact are function registrations now, not rewrites.
    val uniq = "SELECT uniqExact(a), uniq(b) FROM t"
    assert(ClickHouseSqlRewrite(uniq) eq uniq, "uniq must resolve by name, not rewrite")
  }

  test("rewrite: named errors — unordered LIMIT BY, ordinals, DISTINCT, unions") {
    val e1 = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT u, v FROM t LIMIT 2 BY u"))
    assert(e1.getMessage.contains("requires an ORDER BY"), e1.getMessage)
    // The offset form demands the same ORDER BY determinism.
    val e2 = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT u, v FROM t LIMIT 1, 2 BY u"))
    assert(e2.getMessage.contains("requires an ORDER BY"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT u, v FROM t ORDER BY 2 LIMIT 2 BY u"))
    assert(e3.getMessage.contains("ordinal"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT DISTINCT u, rank() OVER (ORDER BY u) AS r FROM t QUALIFY r < 3"))
    assert(e4.getMessage.contains("DISTINCT"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT u, v FROM a UNION ALL SELECT u, v FROM b ORDER BY v LIMIT 2 BY u"))
    assert(e5.getMessage.contains("set operation"), e5.getMessage)
  }

  // ---- execution through the vanilla-session entry ----

  private def fixture(): Unit =
    Seq((1L, "x", 10L), (1L, "y", 20L), (1L, "z", 30L), (2L, "p", 5L), (2L, "q", 50L))
      .toDF("k", "s", "v").createOrReplaceTempView("chf")

  test("execution: LIMIT BY keeps the first n per group of the ordered stream") {
    fixture()
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, s, v FROM chf ORDER BY k, v DESC LIMIT 2 BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "z", 30L), (1L, "y", 20L), (2L, "q", 50L), (2L, "p", 5L)), rows)
  }

  test("execution: LIMIT offset, n BY skips then takes per group; offset past a group's size empties it") {
    fixture()
    // Per-k DESC order: k=1 → 30,20,10; k=2 → 50,5. Offset 1, take 2:
    // k=1 keeps 20,10; k=2 keeps only 5. Offset 0 ≡ plain. Offset 2:
    // k=1 keeps 10; k=2 (2 rows) is emptied — skip-then-take, not clamp.
    val off1 = ClickHouseSql.sql(spark,
      "SELECT k, v FROM chf ORDER BY k, v DESC LIMIT 1, 2 BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(off1 == Seq((1L, 20L), (1L, 10L), (2L, 5L)), off1)
    val off0 = ClickHouseSql.sql(spark,
      "SELECT k, v FROM chf ORDER BY k, v DESC LIMIT 0, 2 BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(off0 == Seq((1L, 30L), (1L, 20L), (2L, 50L), (2L, 5L)), off0)
    val off2 = ClickHouseSql.sql(spark,
      "SELECT k, v FROM chf ORDER BY k, v DESC LIMIT 1 OFFSET 2 BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(off2 == Seq((1L, 10L)), off2)
  }

  test("execution: LIMIT BY orders by a NON-SELECTED column — the latest-row-per-key shape") {
    fixture()
    // v is the ordering timestamp stand-in and is NOT in the select list.
    val df = ClickHouseSql.sql(spark,
      "SELECT k, s FROM chf ORDER BY v DESC LIMIT 1 BY k")
    assert(df.columns.toSeq == Seq("k", "s"), df.columns.toSeq)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "q"), (1L, "z")), rows)
  }

  test("execution: QUALIFY filters on a window alias; schema has no helper column") {
    fixture()
    val df = ClickHouseSql.sql(spark,
      """SELECT k, s, CAST(row_number() OVER (PARTITION BY k ORDER BY v DESC, s) AS BIGINT) AS rn
        |FROM chf QUALIFY rn = 1 ORDER BY k""".stripMargin)
    assert(df.columns.toSeq == Seq("k", "s", "rn"), df.columns.toSeq)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "z", 1L), (2L, "q", 1L)), rows)
  }

  test("execution: QUALIFY tail ORDER BY may reference a non-selected column") {
    fixture()
    val df = ClickHouseSql.sql(spark,
      """SELECT s, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |FROM chf QUALIFY rn = 1 ORDER BY v DESC""".stripMargin)
    assert(df.columns.toSeq == Seq("s", "rn"), df.columns.toSeq)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("q", "z"))
  }

  test("execution: sumIf returns ClickHouse's 0 (not NULL) when no row matches") {
    fixture()
    val r = ClickHouseSql.sql(spark,
      "SELECT k, sumIf(v, s = 'nope') AS z FROM chf GROUP BY k ORDER BY k").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 0L), r.mkString(","))
  }

  test("execution: countIf excludes null-condition rows; multiIf chains; has matches") {
    fixture()
    val r = ClickHouseSql.sql(spark,
      """SELECT countIf(v > 15) AS c,
        |       multiIf(count(*) = 5, 'five', count(*) = 4, 'four', 'other') AS m,
        |       countIf(has(array(s, 'w'), 'x')) AS hx
        |FROM chf""".stripMargin).head()
    assert((r.getLong(0), r.getString(1), r.getLong(2)) == ((3L, "five", 1L)), r)
  }

  test("execution: conversion functions cast exactly") {
    val df = ClickHouseSql.sql(spark,
      """SELECT toInt64('42') AS a, toInt32(7.0) AS b, toUInt64(9) AS c,
        |       toString(DATE'2024-02-29') AS d, toFloat64('2.5') AS e""".stripMargin)
    // toUInt64's carrier is DECIMAL(20,0) — the only integral Spark type
    // covering the UInt64 range. Pinned as a TYPE (oracled queries
    // compare the lane through toString; the carrier is the contract).
    assert(df.schema("c").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0), df.schema)
    val r = df.head()
    assert(r.getLong(0) == 42L && r.getInt(1) == 7 &&
      r.getDecimal(2).longValueExact() == 9L &&
      r.getString(3) == "2024-02-29" && r.getDouble(4) == 2.5, r)
  }

  test("execution: date bucketing functions agree with hand-computed anchors") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toYYYYMM(TIMESTAMP'2024-02-29 13:45:12') AS ym,
        |       toYYYYMMDD(TIMESTAMP'2024-02-29 13:45:12') AS ymd,
        |       toYear(TIMESTAMP'2024-02-29 13:45:12') AS y,
        |       toDayOfMonth(TIMESTAMP'2024-02-29 13:45:12') AS d,
        |       toHour(TIMESTAMP'2024-02-29 13:45:12') AS h,
        |       toString(toStartOfMonth(TIMESTAMP'2024-02-29 13:45:12')) AS som,
        |       toString(toStartOfQuarter(TIMESTAMP'2024-02-29 13:45:12')) AS soq,
        |       toString(toStartOfDay(TIMESTAMP'2024-02-29 13:45:12')) AS sod,
        |       toUnixTimestamp(TIMESTAMP'1970-01-02 00:00:00') AS us""".stripMargin).head()
    assert(r.getInt(0) == 202402 && r.getInt(1) == 20240229 &&
      r.getInt(2) == 2024 && r.getInt(3) == 29 && r.getInt(4) == 13, r)
    assert(r.getString(5) == "2024-02-01" && r.getString(6) == "2024-01-01" &&
      r.getString(7) == "2024-02-29 00:00:00", r)
    assert(r.getLong(8) == 86400L, r)
  }

  test("execution: arrayJoin expands rows; splitByChar splits on a literal separator") {
    fixture()
    val r = ClickHouseSql.sql(spark,
      "SELECT k, arrayJoin(splitByChar('|', concat(s, '|', s))) AS part FROM chf WHERE k = 1 ORDER BY k, part")
      .collect().map(_.getString(1)).toSeq
    assert(r == Seq("x", "x", "y", "y", "z", "z"), r)
    // A regex metacharacter as separator must split LITERALLY.
    val dot = ClickHouseSql.sql(spark,
      "SELECT arrayJoin(splitByChar('.', 'a.b.c')) AS p ORDER BY p").collect().map(_.getString(0)).toSeq
    assert(dot == Seq("a", "b", "c"), dot)
    val err = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT splitByChar(s, s) FROM chf").collect())
    assert(err.getMessage.contains("literal"), err.getMessage)
  }

  test("execution: uniqExact is an exact distinct count; uniq tracks approx_count_distinct") {
    fixture()
    val ex = ClickHouseSql.sql(spark,
      "SELECT uniqExact(s) AS u1, uniqExact(k, s) AS u2 FROM chf").head()
    assert(ex.getLong(0) == 5L && ex.getLong(1) == 5L, ex)
    val a = ClickHouseSql.sql(spark, "SELECT uniq(s) FROM chf").head().getLong(0)
    val b = spark.sql("SELECT approx_count_distinct(s) FROM chf").head().getLong(0)
    assert(a == b, s"uniq=$a approx=$b")
  }

  test("execution: quantileExact returns the ClickHouse ELEMENT, not an interpolation") {
    Seq(10L, 20L, 30L, 50L).toDF("v").createOrReplaceTempView("chq")
    // ClickHouse quantileExact(0.5) over {10,20,30,50} = sorted[floor(0.5*4)] = 30;
    // an interpolating percentile would say 25 — the exact divergence the
    // element convention exists to avoid.
    val r = ClickHouseSql.sql(spark,
      """SELECT quantileExact(0.5)(v) AS med,
        |       quantileExactInclusive(0.5)(v) AS inc,
        |       quantilesExact(0.25, 0.75)(v) AS qs
        |FROM chq""".stripMargin).head()
    assert(r.getLong(0) == 30L, r)
    assert(r.getDouble(1) == 25.0, r)
    assert(r.getSeq[Long](2) == Seq(20L, 50L), r)
  }

  test("execution: retention flags gate every level on the FIRST condition") {
    // u=1 hits signup+click+buy; u=2 clicks and buys but never signs up
    // (all zeros — the gate); u=3 signs up only.
    Seq((1L, "signup"), (1L, "click"), (1L, "buy"),
        (2L, "click"), (2L, "buy"),
        (3L, "signup"))
      .toDF("u", "e").createOrReplaceTempView("chr")
    val rows = ClickHouseSql.sql(spark,
      """SELECT u, retention(e = 'signup', e = 'click', e = 'buy') AS r
        |FROM chr GROUP BY u ORDER BY u""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    assert(rows == Seq(
      (1L, Seq(1, 1, 1)), (2L, Seq(0, 0, 0)), (3L, Seq(1, 0, 0))), rows)
  }

  test("execution: groupArray/groupUniqArray collect; anyLast pulls a constant through GROUP BY") {
    fixture()
    val r = ClickHouseSql.sql(spark,
      """SELECT k, arraySort(groupArray(s)) AS all_s,
        |       arraySort(groupUniqArray(concat(s, s))) AS uniq_ss,
        |       anyLast(k * 100) AS kc
        |FROM chf GROUP BY k ORDER BY k""".stripMargin).collect()
    assert(r.map(_.getSeq[String](1)).toSeq ==
      Seq(Seq("x", "y", "z"), Seq("p", "q")), r.mkString(","))
    assert(r.map(_.getSeq[String](2)).toSeq ==
      Seq(Seq("xx", "yy", "zz"), Seq("pp", "qq")), r.mkString(","))
    assert(r.map(_.getLong(3)).toSeq == Seq(100L, 200L), r.mkString(","))
  }

  test("execution: array HOFs take the lambda FIRST; arraySort puts nulls LAST") {
    val r = ClickHouseSql.sql(spark,
      """SELECT arrayMap(x -> x * 10, array(3, 1, 2)) AS mapped,
        |       arrayFilter(x -> x >= 2, array(3, 1, 2)) AS kept,
        |       arrayExists(x -> x = 9, array(3, 1, 2)) AS none_9,
        |       arrayAll(x -> x >= 1, array(3, 1, 2)) AS all_1,
        |       arrayCount(x -> x >= 2, array(3, 1, 2)) AS n_ge2,
        |       arrayCount(array(5, 0, 7, 0)) AS n_nonzero,
        |       arraySort(array(2, NULL, 1)) AS sorted""".stripMargin).head()
    assert(r.getSeq[Int](0) == Seq(30, 10, 20), r)
    assert(r.getSeq[Int](1) == Seq(3, 2), r)
    assert(!r.getBoolean(2) && r.getBoolean(3), r)
    assert(r.getInt(4) == 2 && r.getInt(5) == 2, r)
    assert(r.getSeq[Any](6) == Seq(1, 2, null), r)
    // A non-lambda first argument is a NAMED error, not a silent guess.
    val err = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT arrayMap(array(1), array(2))").collect())
    assert(err.getMessage.contains("lambda"), err.getMessage)
  }

  test("rewrite: windowFunnel and sequenceMatch map onto graft_window_funnel; modes and unsupported patterns are named errors") {
    assert(ClickHouseSqlRewrite("SELECT windowFunnel(3600)(ts, a, b) FROM t")
      == "SELECT graft_window_funnel(3600\n, ts, a, b\n) FROM t")
    assert(ClickHouseSqlRewrite("SELECT sequenceMatch('(?1).*(?2)')(ts, a, b) FROM t")
      == "SELECT graft_ch_seq_match(ts\n, 2, 0, 0, a,\nb\n) FROM t")
    // Pattern refs reorder the condition list; leading/trailing .* are no-ops.
    assert(ClickHouseSqlRewrite("SELECT sequenceMatch('.*(?2).*(?1).*')(ts, a, b) FROM t")
      == "SELECT graft_ch_seq_match(ts\n, 2, 0, 0, b,\na\n) FROM t")
    // A (?t op n) immediately before its ref becomes that gap's op/bound
    // pair (op codes: 1 <=, 2 <, 3 >=, 4 >).
    assert(ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1).*(?t<=300)(?2).*(?3)')(ts, a, b, c) FROM t")
      == "SELECT graft_ch_seq_match(ts\n, 3, 1, 300, 0, 0, a,\nb,\nc\n) FROM t")
    // Modes fold to the strict kernel's flag bitmask (1 = order,
    // 2 = dedup, 4 = increase); unknown and removed modes stay named
    // errors.
    assert(ClickHouseSqlRewrite(
      "SELECT windowFunnel(3600, 'strict_order')(ts, a) FROM t")
      == "SELECT graft_window_funnel_strict(3600\n, 1, ts, a\n) FROM t")
    assert(ClickHouseSqlRewrite(
      "SELECT windowFunnel(3600, 'strict_increase', 'strict_deduplication')(ts, a, b) FROM t")
      == "SELECT graft_window_funnel_strict(3600\n, 6, ts, a, b\n) FROM t")
    val mode = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT windowFunnel(3600, 'strict_sideways')(ts, a) FROM t"))
    assert(mode.getMessage.contains("strict_sideways"), mode.getMessage)
    val dep = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT windowFunnel(3600, 'strict')(ts, a) FROM t"))
    assert(dep.getMessage.contains("strict_deduplication"), dep.getMessage)
    val adj = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1)(?2)')(ts, a, b) FROM t"))
    assert(adj.getMessage.contains("adjacen"), adj.getMessage)
    assert(ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1).*(?t>10)(?2)')(ts, a, b) FROM t")
      == "SELECT graft_ch_seq_match(ts\n, 2, 4, 10, a,\nb\n) FROM t")
    val oob = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1).*(?3)')(ts, a, b) FROM t"))
    assert(oob.getMessage.contains("condition 3"), oob.getMessage)
    // The named-error frontier: a constraint with no .* is adjacency; a
    // constraint not adjacent to its ref is ambiguous; == needs the full
    // achievable set; two constraints in one gap are malformed.
    val adjTc = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1)(?t<=5)(?2)')(ts, a, b) FROM t"))
    assert(adjTc.getMessage.contains("adjacen"), adjTc.getMessage)
    val floatTc = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1)(?t<=5).*(?2)')(ts, a, b) FROM t"))
    assert(floatTc.getMessage.contains("immediately before"), floatTc.getMessage)
    val eqTc = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1).*(?t==5)(?2)')(ts, a, b) FROM t"))
    assert(eqTc.getMessage.contains("== n"), eqTc.getMessage)
    val twoTc = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT sequenceMatch('(?1).*(?t<=5)(?t>1)(?2)')(ts, a, b) FROM t"))
    assert(twoTc.getMessage.toLowerCase.contains("one"), twoTc.getMessage)
  }

  test("execution: windowFunnel chains within the window of the CHAIN START and restarts greedily") {
    // Timestamps in plain BIGINT seconds (the unit the window shares).
    // u=1: full in-window chain 10→20→30 (w=100) → 3.
    // u=2: step2 lands in-window of step1, step3 is within 100 of STEP2
    //      but not of the chain START — windowFunnel measures from the
    //      start, so the level stays 2.
    // u=3: an early start would expire, but a LATER cond1 restarts the
    //      chain (greedy latest-start) and the chain completes → 3.
    // u=4: steps arrive out of order (2 before 1) → only level 1.
    // u=5: one event matches cond1 AND cond2 — the (t, step) pair sort
    //      processes step1 first, so the event self-chains → 2.
    Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (2L, 10L, "a"), (2L, 90L, "b"), (2L, 150L, "c"),
      (3L, 10L, "a"), (3L, 500L, "a"), (3L, 550L, "b"), (3L, 590L, "c"),
      (4L, 10L, "b"), (4L, 20L, "a"),
      (5L, 10L, "ab"))
      .toDF("u", "t", "e").createOrReplaceTempView("chw")
    val rows = ClickHouseSql.sql(spark,
      """SELECT u, windowFunnel(100)(t, e LIKE '%a%', e LIKE '%b%', e = 'c') AS lvl
        |FROM chw GROUP BY u ORDER BY u""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows == Seq((1L, 3), (2L, 2), (3L, 3), (4L, 1), (5L, 2)), rows)
  }

  test("execution: windowFunnel over TIMESTAMP uses seconds (the ClickHouse DateTime unit); sequenceMatch decides subsequence existence") {
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "s"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), "p"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "p"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), "s"))
      .toDF("u", "ts", "e").createOrReplaceTempView("chs")
    val rows = ClickHouseSql.sql(spark,
      """SELECT u, windowFunnel(60)(ts, e = 's', e = 'p') AS lvl,
        |       windowFunnel(10)(ts, e = 's', e = 'p') AS lvl_narrow,
        |       sequenceMatch('(?1).*(?2)')(ts, e = 's', e = 'p') AS s_then_p
        |FROM chs GROUP BY u ORDER BY u""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))).toSeq
    // u=1: s→p 30 s apart — level 2 at w=60, level 1 at w=10; subsequence holds.
    // u=2: p precedes s — level 1 both ways; no s-then-p subsequence.
    assert(rows == Seq((1L, 2, 1, true), (2L, 1, 1, false)), rows)
  }

  test("rewrite: uniqUpTo saturates via least; WITH TOTALS becomes GROUPING SETS; FINAL and SAMPLE are named errors") {
    assert(ClickHouseSqlRewrite("SELECT uniqUpTo(5)(x) FROM t GROUP BY k")
      == "SELECT graft_ch_least(count(DISTINCT x\n), (5\n) + 1) FROM t GROUP BY k")
    assert(ClickHouseSqlRewrite("SELECT k, count(*) FROM t GROUP BY k WITH TOTALS ORDER BY k")
      == "SELECT k, count(*) FROM t GROUP BY GROUPING SETS ((k\n), ()) ORDER BY k")
    assert(ClickHouseSqlRewrite("SELECT a, b, count(*) FROM t GROUP BY a, b WITH ROLLUP")
      == "SELECT a, b, count(*) FROM t GROUP BY ROLLUP(a, b\n)")
    assert(ClickHouseSqlRewrite("SELECT a, b, count(*) FROM t GROUP BY a, b WITH CUBE")
      == "SELECT a, b, count(*) FROM t GROUP BY CUBE(a, b\n)")
    // A CTE named `totals` is NOT the TOTALS clause — untouched.
    val cte = "WITH totals AS (SELECT 1 AS x) SELECT x FROM totals"
    assert(ClickHouseSqlRewrite(cte) == cte)
    val hav = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT k, count(*) FROM t GROUP BY k WITH TOTALS HAVING count(*) > 1"))
    assert(hav.getMessage.contains("totals_mode"), hav.getMessage)
    val fin = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT * FROM t FINAL WHERE k = 1"))
    assert(fin.getMessage.contains("ReplacingMergeTree"), fin.getMessage)
    val smp = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT * FROM t SAMPLE 0.1"))
    assert(smp.getMessage.contains("sampling key"), smp.getMessage)
  }

  test("execution: minIf/maxIf are NULL on empty match; uniqUpTo saturates at N+1; bit aggregates fold") {
    fixture()
    val r = ClickHouseSql.sql(spark,
      """SELECT minIf(v, s = 'nope') AS none_min,
        |       maxIf(v, v > 15) AS big_max,
        |       uniqUpTo(1)(s) AS capped,
        |       uniqUpTo(9)(s) AS exact,
        |       groupBitOr(v) AS bits_or,
        |       groupBitAnd(v) AS bits_and,
        |       groupBitXor(v) AS bits_xor
        |FROM chf""".stripMargin).head()
    assert(r.isNullAt(0), r)
    assert(r.getLong(1) == 50L, r)
    assert(r.getLong(2) == 2L && r.getLong(3) == 5L, r)
    // v ∈ {10, 20, 30, 5, 50}: OR = 63, AND = 0, XOR = 10^20^30^5^50 = 55.
    assert(r.getLong(4) == 63L && r.getLong(5) == 0L && r.getLong(6) == 55L, r)
  }

  test("execution: WITH TOTALS appends the all-rows total as a NULL-keyed row") {
    fixture()
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, sumIf(v, v > 0) AS tot FROM chf GROUP BY k WITH TOTALS ORDER BY k")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((-1L, 115L), (1L, 60L), (2L, 55L)), rows)
  }

  test("execution: WITH ROLLUP builds the prefix lattice; WITH CUBE all subsets") {
    fixture()
    def run(mod: String): Seq[(String, String, Long)] = ClickHouseSql.sql(spark,
      s"""SELECT toString(k) AS ks, s, toInt64(sum(v)) AS sv FROM chf
         |GROUP BY k, s WITH $mod
         |ORDER BY ks NULLS FIRST, s NULLS FIRST""".stripMargin)
      .collect().map(r => (Option(r.getString(0)).getOrElse("-"),
        Option(r.getString(1)).getOrElse("-"), r.getLong(2))).toSeq
    val rollup = run("ROLLUP")
    // grand total, per-k subtotals, leaves — NO per-s slices.
    assert(rollup.head == (("-", "-", 115L)), rollup)
    assert(rollup.contains(("1", "-", 60L)) && rollup.contains(("2", "-", 55L)), rollup)
    assert(rollup.count(_._1 == "-") == 1 && rollup.length == 8, rollup)
    val cube = run("CUBE")
    // CUBE adds the per-s slices (5 distinct s values).
    assert(cube.length == 13, cube)
    assert(cube.contains(("-", "p", 5L)) && cube.contains(("-", "z", 30L)), cube)
  }

  test("rewrite: GLOBAL and ALL join modifiers strip; SEMI/ANTI normalize; ANY and right-sided forms are named errors") {
    // GLOBAL moves the right side to every shard in ClickHouse — pure
    // execution locality, identical results — so it strips.
    assert(ClickHouseSqlRewrite("SELECT * FROM a GLOBAL LEFT JOIN b ON a.k = b.k")
      == "SELECT * FROM a LEFT JOIN b ON a.k = b.k")
    // ALL is ClickHouse's strictness DEFAULT — also a no-op.
    assert(ClickHouseSqlRewrite("SELECT * FROM a ALL INNER JOIN b ON a.k = b.k")
      == "SELECT * FROM a INNER JOIN b ON a.k = b.k")
    // ClickHouse puts strictness first; Spark wants LEFT SEMI / LEFT ANTI.
    assert(ClickHouseSqlRewrite("SELECT * FROM a SEMI LEFT JOIN b ON a.k = b.k")
      == "SELECT * FROM a LEFT SEMI JOIN b ON a.k = b.k")
    assert(ClickHouseSqlRewrite("SELECT * FROM a GLOBAL ANTI LEFT JOIN b ON a.k = b.k")
      == "SELECT * FROM a LEFT ANTI JOIN b ON a.k = b.k")
    // A column aliased `global` or a quantified `ANY (subquery)` is NOT
    // a modifier — untouched.
    val inert = "SELECT global FROM t WHERE x = ANY (SELECT y FROM u)"
    assert(ClickHouseSqlRewrite(inert) == inert)
    // GLOBAL IN — the IN spelling of the same shard distribution — also
    // strips, in every operand shape (identifier, parenthesized
    // expression, NOT IN)…
    assert(ClickHouseSqlRewrite(
      "SELECT * FROM a WHERE k GLOBAL IN (SELECT k FROM b)")
      == "SELECT * FROM a WHERE k IN (SELECT k FROM b)")
    assert(ClickHouseSqlRewrite(
      "SELECT * FROM a WHERE (x + y) GLOBAL NOT IN (1, 2)")
      == "SELECT * FROM a WHERE (x + y) NOT IN (1, 2)")
    assert(ClickHouseSqlRewrite(
      "SELECT * FROM a WHERE a.k GLOBAL IN (1) AND j GLOBAL IN (2)")
      == "SELECT * FROM a WHERE a.k IN (1) AND j IN (2)")
    // …but a COLUMN named global used as the IN operand is untouched:
    // the modifier form always follows an expression terminator, never
    // a keyword/comma/open-paren that needs an operand next.
    val inertIn = "SELECT global FROM t WHERE global IN (1, 2)"
    assert(ClickHouseSqlRewrite(inertIn) eq inertIn)
    val inertIn2 = "SELECT a FROM t WHERE x = 1 AND global NOT IN (1) " +
      "AND (global IN (2) OR global IN (3))"
    assert(ClickHouseSqlRewrite(inertIn2) eq inertIn2)
    val inertIn3 = "SELECT a, global IN (1, 2) AS flag FROM t " +
      "GROUP BY a, global HAVING global IN (1)"
    assert(ClickHouseSqlRewrite(inertIn3) eq inertIn3)
    // A string-literal or backticked-identifier operand end also reads
    // as the modifier (the mask blanks both — the raw-side check).
    assert(ClickHouseSqlRewrite(
      "SELECT * FROM a WHERE 'x' GLOBAL IN (SELECT s FROM b)")
      == "SELECT * FROM a WHERE 'x' IN (SELECT s FROM b)")
    assert(ClickHouseSqlRewrite(
      "SELECT * FROM a WHERE `k 2` GLOBAL NOT IN (1, 2)")
      == "SELECT * FROM a WHERE `k 2` NOT IN (1, 2)")
    // Comments are transparent context, not operand ends: a modifier
    // after a block comment still strips, and a COLUMN named global
    // preceded by one stays inert.
    assert(ClickHouseSqlRewrite(
      "SELECT * FROM a WHERE k /* shard */ GLOBAL IN (1, 2)")
      == "SELECT * FROM a WHERE k /* shard */ IN (1, 2)")
    val inertCmt = "SELECT a FROM t WHERE /* note */ global IN (1, 2)"
    assert(ClickHouseSqlRewrite(inertCmt) eq inertCmt)
    val any = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT * FROM a ANY LEFT JOIN b ON a.k = b.k"))
    assert(any.getMessage.contains("arbitrary"), any.getMessage)
    val anyRev = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT * FROM a LEFT ANY JOIN b ON a.k = b.k"))
    assert(anyRev.getMessage.contains("arbitrary"), anyRev.getMessage)
    val rightSemi = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT * FROM a SEMI RIGHT JOIN b ON a.k = b.k"))
    assert(rightSemi.getMessage.contains("swap"), rightSemi.getMessage)
  }

  test("execution: ANY JOIN determinizes under the opt-in conf (first-by-all-columns per key); default stays the named error") {
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "lv")
      .createOrReplaceTempView("anyl")
    Seq((1L, "b", 10L), (1L, "a", 20L), (2L, "c", 30L)).toDF("k", "rv", "w")
      .createOrReplaceTempView("anyr")
    // Default: the named error, now carrying the opt-in pointer.
    val e = intercept[IllegalArgumentException](ClickHouseSql.sql(spark,
      "SELECT * FROM anyl ANY LEFT JOIN anyr ON anyl.k = anyr.k"))
    assert(e.getMessage.contains("determinizeAnyJoin"), e.getMessage)
    spark.conf.set("spark.graft.clickhouse.determinizeAnyJoin", "true")
    try {
      // Key 1 has two right rows (1,'b',10) and (1,'a',20): the stated
      // pick sorts by ALL right columns (k, rv, w) → 'a'. Key 3 is
      // unmatched → kept with nulls (LEFT form).
      val r = ClickHouseSql.sql(spark,
        "SELECT anyl.k AS k, lv, rv FROM anyl ANY LEFT JOIN anyr " +
          "ON anyl.k = anyr.k ORDER BY k")
        .collect().map(x => (x.getLong(0), x.getString(1),
          Option(x.getString(2)).getOrElse("-"))).toSeq
      assert(r == Seq((1L, "x", "a"), (2L, "y", "c"), (3L, "z", "-")), r)
      // The bare (inner) ANY JOIN drops the unmatched probe.
      val inner = ClickHouseSql.sql(spark,
        "SELECT anyl.k AS k, rv FROM anyl ANY JOIN anyr " +
          "ON anyl.k = anyr.k ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(inner == Seq(1L, 2L), inner)
      // USING spelling: keys given bare.
      val us = ClickHouseSql.sql(spark,
        "SELECT k, rv FROM anyl ANY LEFT JOIN anyr USING (k) ORDER BY k")
        .collect().map(x => (x.getLong(0),
          Option(x.getString(1)).getOrElse("-"))).toSeq
      assert(us == Seq((1L, "a"), (2L, "c"), (3L, "-")), us)
      // Shapes the determinization cannot do honestly fall back to the
      // named error even when opted in: a subquery right side…
      val e2 = intercept[IllegalArgumentException](ClickHouseSql.sql(spark,
        "SELECT * FROM anyl ANY LEFT JOIN (SELECT * FROM anyr) q ON anyl.k = q.k"))
      assert(e2.getMessage.contains("arbitrary"), e2.getMessage)
      // …and a non-equality conjunct.
      val e3 = intercept[IllegalArgumentException](ClickHouseSql.sql(spark,
        "SELECT * FROM anyl ANY LEFT JOIN anyr ON anyl.k = anyr.k AND anyr.w > 5"))
      assert(e3.getMessage.contains("arbitrary"), e3.getMessage)
    } finally spark.conf.unset("spark.graft.clickhouse.determinizeAnyJoin")
  }

  test("execution: ClickHouse ASOF LEFT JOIN with the ON-conjunct inequality lands on the native kernel") {
    Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 50L, "p3"))
      .toDF("u", "t", "pid").createOrReplaceTempView("cha_l")
    Seq((1L, 90L, "c1"), (1L, 150L, "c2"), (3L, 10L, "c3"))
      .toDF("cu", "ct", "cid").createOrReplaceTempView("cha_r")
    val rows = ClickHouseSql.sql(spark,
      """SELECT pid, cid FROM cha_l GLOBAL ASOF LEFT JOIN cha_r
        |ON u = cu AND t >= ct ORDER BY pid""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)).getOrElse("-"))).toSeq
    // p1 takes c1 (90 <= 100 < 150), p2 takes c2 (latest not-after), p3
    // has no same-user click — kept with a null match (LEFT form).
    assert(rows == Seq(("p1", "c1"), ("p2", "c2"), ("p3", "-")), rows)
    // The bare (inner) form drops the unmatched probe.
    val inner = ClickHouseSql.sql(spark,
      "SELECT pid, cid FROM cha_l ASOF JOIN cha_r ON u = cu AND t >= ct ORDER BY pid")
      .collect().map(_.getString(0)).toSeq
    assert(inner == Seq("p1", "p2"), inner)
  }

  test("rewrite: WITH FILL extracts its spec and strips the ORDER BY; a CTE named fill is untouched") {
    import graft.plans.ClickHouseWithFill
    val (core, spec) = ClickHouseWithFill.extract(
      "SELECT k, count(*) AS n FROM t GROUP BY k ORDER BY k WITH FILL FROM -2 TO 10 STEP 2")
    assert(core == "SELECT k, count(*) AS n FROM t GROUP BY k ", core)
    assert(spec.contains(ClickHouseWithFill.FillSpec("k", Some(-2L), Some(10L), 2L)), spec)
    // Defaults: no bounds, step 1; trailing ASC allowed.
    val (_, s2) = ClickHouseWithFill.extract(
      "SELECT k FROM t ORDER BY k ASC WITH FILL")
    assert(s2.contains(ClickHouseWithFill.FillSpec("k", None, None, 1L)), s2)
    // A CTE merely NAMED fill is not the clause.
    val cte = "WITH fill AS (SELECT 1 AS x) SELECT x FROM fill"
    val (c3, s3) = ClickHouseWithFill.extract(cte)
    assert(c3 == cte && s3.isEmpty)
    // ... and a CTE named fill does not shadow a REAL fill after it.
    val (c4, s4) = ClickHouseWithFill.extract(
      "WITH fill AS (SELECT 1 AS k) SELECT k FROM fill ORDER BY k WITH FILL")
    assert(c4 == "WITH fill AS (SELECT 1 AS k) SELECT k FROM fill " &&
      s4.contains(ClickHouseWithFill.FillSpec("k", None, None, 1L)), (c4, s4))
  }

  test("rewrite: WITH FILL named errors — DESC, multi-key, trailing LIMIT, expression keys, subquery, INTERPOLATE, textual path") {
    import graft.plans.ClickHouseWithFill
    def err(sql: String): String =
      intercept[IllegalArgumentException](ClickHouseWithFill.extract(sql)).getMessage
    assert(err("SELECT k FROM t ORDER BY k DESC WITH FILL").contains("DESC"))
    assert(err("SELECT k, v FROM t ORDER BY k, v WITH FILL").contains("one sort key"))
    assert(err("SELECT k FROM t ORDER BY k WITH FILL LIMIT 5").contains("outer query"))
    assert(err("SELECT k FROM t ORDER BY k + 1 WITH FILL").contains("named output column"))
    assert(err("SELECT k FROM t ORDER BY k WITH FILL FROM lo").contains("literal integer"))
    assert(err("SELECT k FROM t ORDER BY k WITH FILL STEP 0").contains("positive"))
    assert(err("SELECT * FROM (SELECT k FROM t ORDER BY k WITH FILL) q").contains("subquery"))
    // Both carry and AS-expression forms parse; an expression that
    // references a DIFFERENT column stays a named error (only the
    // interpolated column's previous value is carried).
    val (_, interpSpec) = ClickHouseWithFill.extract(
      "SELECT k FROM t ORDER BY k WITH FILL INTERPOLATE (v)")
    assert(interpSpec.exists(_.interpolate == Seq("v")), interpSpec)
    val (_, bareSpec) = ClickHouseWithFill.extract(
      "SELECT k FROM t ORDER BY k WITH FILL INTERPOLATE")
    assert(bareSpec.exists(_.interpolate == Seq("*")), bareSpec)
    val (_, exprSpec) = ClickHouseWithFill.extract(
      "SELECT k FROM t ORDER BY k WITH FILL INTERPOLATE (v AS greatest(v - 7, 0), u)")
    assert(exprSpec.exists(s2 => s2.interpolate == Seq("v", "u") &&
      s2.exprs == Map("v" -> "greatest(v - 7, 0)")), exprSpec)
    assert(err("SELECT k FROM t ORDER BY k WITH FILL INTERPOLATE (v AS v + u)")
      .contains("only v itself"))
    assert(err("SELECT k FROM t ORDER BY k WITH FILL INTERPOLATE (v AS )")
      .contains("needs an expression"))
    // The purely-textual path (extension sessions) points at the entry
    // that can run the post-step instead of guessing.
    val e = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT k FROM t ORDER BY k WITH FILL"))
    assert(e.getMessage.contains("ClickHouseSql.sql"), e.getMessage)
  }

  test("execution: WITH FILL generates the missing steps with ClickHouse type defaults") {
    Seq((0L, "a", 10L), (4L, "b", 20L), (9L, "c", 30L))
      .toDF("k", "s", "v").createOrReplaceTempView("chfill")
    // FROM/TO/STEP bounds: 0,2,4,6,8 (TO is exclusive); 0 and 4 exist,
    // 9 is off-step and outside [0,10) progression gaps — it stays as a
    // REAL row; generated rows take 0 / '' defaults.
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, s, v FROM chfill ORDER BY k WITH FILL FROM 0 TO 10 STEP 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      (0L, "a", 10L), (2L, "", 0L), (4L, "b", 20L), (6L, "", 0L),
      (8L, "", 0L), (9L, "c", 30L)), rows)
    // Derived bounds: only interior holes fill.
    val derived = ClickHouseSql.sql(spark,
      "SELECT k, v FROM chfill WHERE k <= 4 ORDER BY k WITH FILL")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(derived == Seq((0L, 10L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 20L)), derived)
  }

  test("execution: WITH FILL re-anchors the progression at every existing row (ClickHouse FillingTransform), not at a fixed FROM grid") {
    // Rows 0, 5, 12 with STEP 2: a fixed 0-anchored grid would fill
    // 2,4,6,8,10 — but ClickHouse re-bases the fill cursor at each row,
    // so after the OFF-GRID row 5 the next fill is 7 (5+2), not 6.
    Seq((0L, 10L), (5L, 20L), (12L, 30L))
      .toDF("k", "v").createOrReplaceTempView("chfill_og")
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, v FROM chfill_og ORDER BY k WITH FILL STEP 2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 10L), (2L, 0L), (4L, 0L), (5L, 20L), (7L, 0L),
      (9L, 0L), (11L, 0L), (12L, 30L)), rows)
    // FROM anchors only the LEADING region (the cursor starts there and
    // emits while below the first row); TO bounds trailing fills based
    // at the LAST row: 12+2=14, 16 < 18.
    val bounded = ClickHouseSql.sql(spark,
      "SELECT k, v FROM chfill_og ORDER BY k WITH FILL FROM -3 TO 18 STEP 2")
      .collect().map(r => r.getLong(0)).toSeq
    assert(bounded == Seq(-3L, -1L, 0L, 2L, 4L, 5L, 7L, 9L, 11L, 12L, 14L, 16L),
      bounded)
  }

  test("execution: WITH FILL over DATE keys — STEP INTERVAL n DAY, date-literal FROM/TO, INTERPOLATE carries") {
    Seq(("2024-01-01", 10L), ("2024-01-04", 20L), ("2024-01-05", 30L))
      .toDF("ds", "v").selectExpr("CAST(ds AS DATE) AS d", "v")
      .createOrReplaceTempView("chfill_d")
    // Interior daily fill: 01-02, 01-03 generate with v = 0.
    val daily = ClickHouseSql.sql(spark,
      "SELECT d, v FROM chfill_d ORDER BY d WITH FILL STEP INTERVAL 1 DAY")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(daily == Seq(("2024-01-01", 10L), ("2024-01-02", 0L),
      ("2024-01-03", 0L), ("2024-01-04", 20L), ("2024-01-05", 30L)), daily)
    // Date-literal FROM/TO (toDate wrapper and bare string both): TO is
    // exclusive, leading fills anchor at FROM, trailing at the last row.
    val bounded = ClickHouseSql.sql(spark,
      "SELECT d, v FROM chfill_d ORDER BY d WITH FILL " +
        "FROM toDate('2023-12-30') TO '2024-01-08' STEP INTERVAL 2 DAY")
      .collect().map(_.getDate(0).toString).toSeq
    assert(bounded == Seq("2023-12-30", "2024-01-01", "2024-01-03",
      "2024-01-04", "2024-01-05", "2024-01-07"), bounded)
    // Plain integer STEP on a DATE key = n days (ClickHouse's Date IS a
    // day integer); INTERPOLATE carries the previous real value.
    val interp = ClickHouseSql.sql(spark,
      "SELECT d, v FROM chfill_d ORDER BY d WITH FILL STEP 1 INTERPOLATE (v)")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(interp == Seq(("2024-01-01", 10L), ("2024-01-02", 10L),
      ("2024-01-03", 10L), ("2024-01-04", 20L), ("2024-01-05", 30L)), interp)
  }

  test("execution: WITH FILL over TIMESTAMP keys — hourly strides re-anchor at off-grid rows on the micros axis") {
    Seq(("2024-01-01 00:00:00", 1L), ("2024-01-01 02:30:00", 2L),
        ("2024-01-01 07:00:00", 3L))
      .toDF("ss", "v").selectExpr("CAST(ss AS TIMESTAMP) AS ts", "v")
      .createOrReplaceTempView("chfill_t")
    // STEP INTERVAL 2 HOUR re-anchors at the off-grid 02:30 row: the
    // next fills are 04:30 and 06:30 (not the 04:00/06:00 grid).
    val rows = ClickHouseSql.sql(spark,
      "SELECT ts, v FROM chfill_t ORDER BY ts WITH FILL STEP INTERVAL 2 HOUR")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
    assert(rows == Seq(
      ("2024-01-01 00:00:00.0", 1L), ("2024-01-01 02:00:00.0", 0L),
      ("2024-01-01 02:30:00.0", 2L), ("2024-01-01 04:30:00.0", 0L),
      ("2024-01-01 06:30:00.0", 0L), ("2024-01-01 07:00:00.0", 3L)), rows)
    // Plain STEP n on a DateTime key = n SECONDS (the epoch-second
    // integer ClickHouse's DateTime is), and a datetime-literal TO
    // bounds trailing fills.
    val secs = ClickHouseSql.sql(spark,
      "SELECT ts, v FROM chfill_t WHERE v >= 2 ORDER BY ts WITH FILL " +
        "TO toDateTime('2024-01-01 08:30:00') STEP 3600")
      .collect().map(_.getTimestamp(0).toString).toSeq
    assert(secs == Seq("2024-01-01 02:30:00.0", "2024-01-01 03:30:00.0",
      "2024-01-01 04:30:00.0", "2024-01-01 05:30:00.0",
      "2024-01-01 06:30:00.0", "2024-01-01 07:00:00.0",
      "2024-01-01 08:00:00.0"), secs)
  }

  test("rewrite: WITH FILL date-axis named errors — MONTH strides, INTERVAL on integral keys, sub-day on DATE") {
    Seq((1L, 1L)).toDF("k", "v").createOrReplaceTempView("chfill_err")
    Seq(("2024-01-01", 1L)).toDF("ds", "v")
      .selectExpr("CAST(ds AS DATE) AS d", "v")
      .createOrReplaceTempView("chfill_err_d")
    def err(q: String): String =
      intercept[IllegalArgumentException](
        ClickHouseSql.sql(spark, q).collect()).getMessage
    assert(err("SELECT d, v FROM chfill_err_d ORDER BY d WITH FILL STEP INTERVAL 1 MONTH")
      .contains("not a fixed stride"))
    assert(err("SELECT k, v FROM chfill_err ORDER BY k WITH FILL STEP INTERVAL 1 DAY")
      .contains("needs a DATE/DateTime fill key"))
    assert(err("SELECT k, v FROM chfill_err ORDER BY k WITH FILL FROM '2024-01-01'")
      .contains("date-literal bounds need"))
    assert(err("SELECT d, v FROM chfill_err_d ORDER BY d WITH FILL STEP INTERVAL 2 HOUR")
      .contains("sub-day"))
    assert(err("SELECT k, v FROM chfill_err ORDER BY k WITH FILL FROM lo")
      .contains("literal integer"))
  }

  test("execution: topK is exact top-N by frequency with a deterministic tiebreak; sumMap pairs sorted keys with sums") {
    assert(ClickHouseSqlRewrite("SELECT topK(3)(x) FROM t GROUP BY k")
      == "SELECT graft_ch_topk(3\n, x\n) FROM t GROUP BY k")
    val opts = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT topK(3, 10)(x) FROM t"))
    assert(opts.getMessage.contains("load_factor"), opts.getMessage)
    // frequencies: 7×3, 5×2, 9×2, 2×1 — top 3 = 7 (most frequent), then
    // the 5-vs-9 tie at count 2 broken by VALUE asc, then 9. One null
    // drops. sumMap: keys sorted, per-key sums.
    Seq(Some(7L), Some(7L), Some(7L), Some(5L), Some(5L), Some(9L),
        Some(9L), Some(2L), None)
      .toDF("x").createOrReplaceTempView("chtk")
    val r = ClickHouseSql.sql(spark,
      "SELECT topK(3)(x) AS top3, topK(100)(x) AS all_ranked FROM chtk").head()
    assert(r.getSeq[Long](0) == Seq(7L, 5L, 9L), r)
    assert(r.getSeq[Long](1) == Seq(7L, 5L, 9L, 2L), r)
    Seq(("a", 10L), ("b", 5L), ("a", 1L), ("c", 2L), ("b", 5L))
      .toDF("k", "v").createOrReplaceTempView("chsm")
    val sm = ClickHouseSql.sql(spark,
      "SELECT sm.keys AS ks, sm.values AS vs FROM " +
        "(SELECT sumMap(k, v) AS sm FROM chsm)").head()
    assert(sm.getSeq[String](0) == Seq("a", "b", "c"), sm)
    assert(sm.getSeq[Long](1) == Seq(11L, 10L, 2L), sm)
    val mm = ClickHouseSql.sql(spark,
      "SELECT mn.values AS mns, mx.values AS mxs FROM " +
        "(SELECT minMap(k, v) AS mn, maxMap(k, v) AS mx FROM chsm)").head()
    assert(mm.getSeq[Long](0) == Seq(1L, 5L, 2L), mm)
    assert(mm.getSeq[Long](1) == Seq(10L, 5L, 2L), mm)
    val t = ClickHouseSql.sql(spark,
      "SELECT tuple(1, 'x').col2 AS s, countEqual([5, 7, 5], 5) AS ce").head()
    assert(t.getString(0) == "x" && t.getInt(1) == 2, t)
  }

  test("rewrite: ARRAY JOIN becomes LATERAL VIEW explode; the multi-array form zips with a size guard") {
    assert(ClickHouseSqlRewrite("SELECT x FROM t ARRAY JOIN arr AS x WHERE x > 1")
      == "SELECT x FROM t LATERAL VIEW explode(arr\n) __graft_aj AS x WHERE x > 1")
    val zip = ClickHouseSqlRewrite("SELECT a, b FROM t ARRAY JOIN a1 AS a, a2 AS b GROUP BY a, b")
    assert(zip.contains("LATERAL VIEW inline(CASE WHEN size(a1\n) = size(a2\n) " +
      "THEN arrays_zip(a1\n, a2\n) ELSE raise_error("), zip)
    assert(zip.contains("END) __graft_aj AS a, b GROUP BY a, b"), zip)
    // A following JOIN ends the items; `CAST(x AS INT)`'s inner AS is
    // not the item alias.
    val j = ClickHouseSqlRewrite(
      "SELECT * FROM t ARRAY JOIN arr AS x JOIN u ON t.k = u.k")
    assert(j.contains("__graft_aj AS x JOIN u ON t.k = u.k"), j)
    val cast = ClickHouseSqlRewrite(
      "SELECT y FROM t ARRAY JOIN arrayMap(v -> CAST(v AS INT), arr) AS y")
    assert(cast.contains(
      "explode(arrayMap(v -> CAST(v AS INT), arr)\n) __graft_aj AS y"), cast)
    val noAlias = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT arr FROM t ARRAY JOIN arr"))
    assert(noAlias.getMessage.contains("alias"), noAlias.getMessage)
    val left = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT x FROM t LEFT ARRAY JOIN arr AS x"))
    assert(left.getMessage.contains("default"), left.getMessage)
  }

  test("execution: ARRAY JOIN zips parallel arrays element-wise and errors on ragged rows") {
    Seq((1L, Seq("a", "b"), Seq(10, 20)), (2L, Seq("c"), Seq(30)))
      .toDF("id", "ws", "ns").createOrReplaceTempView("chaj")
    val rows = ClickHouseSql.sql(spark,
      "SELECT id, w, n FROM chaj ARRAY JOIN ws AS w, ns AS n ORDER BY id, w")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "a", 10), (1L, "b", 20), (2L, "c", 30)), rows)
    // Ragged arrays raise (ClickHouse's runtime behavior), never zip-pad.
    Seq((1L, Seq("a", "b"), Seq(10))).toDF("id", "ws", "ns")
      .createOrReplaceTempView("chaj_bad")
    val e = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT w, n FROM chaj_bad ARRAY JOIN ws AS w, ns AS n").collect())
    assert(e.getMessage.contains("equal sizes"), e.getMessage)
  }

  test("differential: windowFunnel agrees with a brute-force chain search on 300 random groups × 3 windows") {
    // The fold keeps ONE chain start per level (greedy latest-start); the
    // reference below is an EXPONENTIAL subsequence search over the same
    // (t, step)-sorted entry list — an independent decision procedure for
    // "does a level-k chain exist within w of its own start".
    def brute(entries: Seq[(Long, Int)], k: Int, w: Long): Int = {
      val sorted = entries.sorted
      def exists(level: Int): Boolean = {
        def dfs(pos: Int, nextStep: Int, start: Long): Boolean =
          if (nextStep > level) true
          else if (pos >= sorted.length) false
          else {
            val (t, s) = sorted(pos)
            (s == nextStep && (nextStep == 1 || t - start <= w) &&
              dfs(pos + 1, nextStep + 1, if (nextStep == 1) t else start)) ||
              dfs(pos + 1, nextStep, start)
          }
        dfs(0, 1, 0L)
      }
      (k to 1 by -1).find(exists).getOrElse(0)
    }
    val rnd = new scala.util.Random(20260815L)
    val groups = (0 until 300).map { g =>
      val n = rnd.nextInt(11)
      val evs = (0 until n).map { _ =>
        (rnd.nextInt(41).toLong,
          rnd.nextDouble() < 0.4, rnd.nextDouble() < 0.4, rnd.nextDouble() < 0.4)
      }
      g.toLong -> evs
    }
    groups.flatMap { case (g, evs) =>
      evs.map(e => (g, e._1, e._2, e._3, e._4))
    }.toDF("g", "t", "c1", "c2", "c3").createOrReplaceTempView("chwf")
    for (w <- Seq(0L, 3L, 10L)) {
      val got = ClickHouseSql.sql(spark,
        s"SELECT g, windowFunnel($w)(t, c1, c2, c3) AS lvl FROM chwf GROUP BY g")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      groups.foreach { case (g, evs) =>
        if (evs.nonEmpty) {
          val entries = evs.flatMap { case (t, c1, c2, c3) =>
            Seq(c1 -> 1, c2 -> 2, c3 -> 3).collect { case (true, j) => (t, j) }
          }
          val want = brute(entries, 3, w)
          assert(got(g) == want,
            s"group $g w=$w: fold=${got(g)} brute=$want events=$evs")
        }
      }
    }
  }

  test("differential: strict-mode windowFunnel agrees with a direct getEventLevel transcription on 300 random groups × windows × all 7 mode combos") {
    // The oracle is an imperative Scala transcription of ClickHouse's
    // documented getEventLevel scan — the semantics the strict modes ARE
    // — decided independently of the expression-fold encoding under
    // test (the risk sits in the Catalyst state-struct composition, not
    // the algorithm). Entries arrive sorted by (t, step), the engine's
    // deterministic refinement of ClickHouse's timestamp-only stable
    // sort; the oracle sorts identically.
    def oracle(entries: Seq[(Long, Int)], k: Int, w: Long,
        order: Boolean, dedup: Boolean, increase: Boolean): Int = {
      val lv = Array.fill[Option[(Long, Long)]](k)(None)
      var fe = false
      def maxLvl: Int = lv.lastIndexWhere(_.isDefined) + 1
      for ((t, i) <- entries.sorted) {
        if (order && i == 0) { if (fe) return maxLvl }
        else if (i == 1) { lv(0) = Some((t, t)); fe = true }
        else if (dedup && lv(i - 1).isDefined) return i
        else if (lv(i - 2).isDefined) {
          val (f, l) = lv(i - 2).get
          val ok = t - f <= w && (!increase || l < t)
          if (ok) { lv(i - 1) = Some((f, t)); if (i == k) return k }
        } else if (order && fe) return maxLvl
      }
      maxLvl
    }
    val rnd = new scala.util.Random(20260816L)
    val groups = (0 until 300).map { g =>
      val n = rnd.nextInt(13)
      // A fourth "noise" flag: a row matching NO condition, which only
      // strict_order can see (the (t, 0) sentinel path).
      val evs = (0 until n).map { _ =>
        (rnd.nextInt(31).toLong,
          rnd.nextDouble() < 0.35, rnd.nextDouble() < 0.35, rnd.nextDouble() < 0.35)
      }
      g.toLong -> evs
    }
    groups.flatMap { case (g, evs) =>
      evs.map(e => (g, e._1, e._2, e._3, e._4))
    }.toDF("g", "t", "c1", "c2", "c3").createOrReplaceTempView("chwfs")
    val modeSets = Seq(
      Seq("strict_order"), Seq("strict_deduplication"), Seq("strict_increase"),
      Seq("strict_order", "strict_deduplication"),
      Seq("strict_order", "strict_increase"),
      Seq("strict_deduplication", "strict_increase"),
      Seq("strict_order", "strict_deduplication", "strict_increase"))
    for (w <- Seq(0L, 4L, 9L); ms <- modeSets) {
      val got = ClickHouseSql.sql(spark,
        s"SELECT g, windowFunnel($w${ms.map(m => s", '$m'").mkString})" +
          "(t, c1, c2, c3) AS lvl FROM chwfs GROUP BY g")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val (od, dd, ic) = (ms.contains("strict_order"),
        ms.contains("strict_deduplication"), ms.contains("strict_increase"))
      groups.foreach { case (g, evs) =>
        if (evs.nonEmpty) {
          val entries = evs.flatMap { case (t, c1, c2, c3) =>
            val hits = Seq(c1 -> 1, c2 -> 2, c3 -> 3).collect { case (true, j) => (t, j) }
            if (hits.isEmpty && od) Seq((t, 0)) else hits
          }
          val want = oracle(entries, 3, w, od, dd, ic)
          assert(got(g) == want,
            s"group $g w=$w modes=$ms: fold=${got(g)} oracle=$want events=$evs")
        }
      }
    }
  }

  test("execution: strict windowFunnel modes — hand-built scenarios pin each mode's distinctive behavior") {
    // (user, t, c1, c2, c3, noise) rows; w = 100 throughout.
    // u=1 order: A(10) B(20) N(25) C(30) — the noise event between B and
    //     C terminates at level 2 under strict_order (plain gives 3).
    // u=2 order: noise BEFORE the first A is ignored (fe not yet set).
    // u=3 order: out-of-order C(15) after A(10) (level-2 unreached)
    //     terminates at 1.
    // u=4 dedup: A(10) B(20) C(30) B(40) — with k=3 the chain COMPLETES
    //     at C (level k returns immediately), so the later repeat cannot
    //     demote: result 3. The true demotion needs k=4 — see the
    //     4-condition query below.
    // u=5 dedup: A A B — level-1 repeats merely restart; result 2.
    // u=6 increase: B shares A's timestamp (10) — strictly-later fails,
    //     level stays 1 (plain fold gives 2).
    // u=7 increase: strictly increasing 10<11<12 → 3.
    // u=8 dedup: A B B — repeat stops at 2 (same as max; non-demoting).
    val rows = Seq(
      (1L, 10L, true, false, false, false), (1L, 20L, false, true, false, false),
      (1L, 25L, false, false, false, true), (1L, 30L, false, false, true, false),
      (2L, 5L, false, false, false, true), (2L, 10L, true, false, false, false),
      (2L, 20L, false, true, false, false),
      (3L, 10L, true, false, false, false), (3L, 15L, false, false, true, false),
      (4L, 10L, true, false, false, false), (4L, 20L, false, true, false, false),
      (4L, 30L, false, false, true, false), (4L, 40L, false, true, false, false),
      (5L, 10L, true, false, false, false), (5L, 15L, true, false, false, false),
      (5L, 20L, false, true, false, false),
      (6L, 10L, true, false, false, false), (6L, 10L, false, true, false, false),
      (7L, 10L, true, false, false, false), (7L, 11L, false, true, false, false),
      (7L, 12L, false, false, true, false),
      (8L, 10L, true, false, false, false), (8L, 20L, false, true, false, false),
      (8L, 25L, false, true, false, false))
    rows.toDF("u", "t", "c1", "c2", "c3", "noise")
      .createOrReplaceTempView("chwf_hand")
    def run(mode: String): Map[Long, Int] =
      ClickHouseSql.sql(spark,
        s"SELECT u, windowFunnel(100, '$mode')(t, c1, c2, c3) AS lvl " +
          "FROM chwf_hand GROUP BY u")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val o = run("strict_order")
    assert(o(1L) == 2 && o(2L) == 2 && o(3L) == 1, o)
    val d = run("strict_deduplication")
    assert(d(4L) == 3 && d(5L) == 2 && d(8L) == 2, d)
    val i = run("strict_increase")
    assert(i(6L) == 1 && i(7L) == 3, i)
    // The demotion ClickHouse documents for strict_deduplication needs
    // an UNFINISHED chain: under a 4-step funnel, A B C B returns 2 at
    // the level-2 repeat even though level 3 was already reached (the
    // repeat check precedes the final max-level scan). Plain mode on the
    // same rows keeps 3.
    val d4 = ClickHouseSql.sql(spark,
      "SELECT u, windowFunnel(100, 'strict_deduplication')" +
        "(t, c1, c2, c3, noise) AS lvl, " +
        "windowFunnel(100)(t, c1, c2, c3, noise) AS plain " +
        "FROM chwf_hand WHERE u = 4 GROUP BY u").head()
    assert(d4.getInt(1) == 2 && d4.getInt(2) == 3, d4)
  }

  test("differential: sequenceMatch (±time constraints) agrees with a brute-force subsequence search on 300 random groups × 5 patterns") {
    // The oracle is an exponential DFS over the SAME (t, bitmask)-sorted
    // row list: strictly increasing positions (one row per pattern
    // position — ClickHouse's rule), each constrained gap checked
    // against the previous CHOSEN event. The kernel under test decides
    // the same question with per-level (min, max) achievable last-times
    // — an entirely different decision procedure.
    def brute(rows: Seq[(Long, Int)], needs: Seq[Int],
        gaps: Seq[(Int, Long)]): Boolean = {
      val sorted = rows.sorted
      def ok(op: Int, n: Long, d: Long) = op match {
        case 0 => true
        case 1 => d <= n
        case 2 => d < n
        case 3 => d >= n
        case 4 => d > n
      }
      def dfs(pos: Int, lvl: Int, last: Long): Boolean =
        if (lvl > needs.length) true
        else (pos until sorted.length).exists { q =>
          val (t, m) = sorted(q)
          (m & (1 << (needs(lvl - 1) - 1))) != 0 &&
            (lvl == 1 || { val (op, n) = gaps(lvl - 2); ok(op, n, t - last) }) &&
            dfs(q + 1, lvl + 1, t)
        }
      dfs(0, 1, 0L)
    }
    val rnd = new scala.util.Random(20260817L)
    val groups = (0 until 300).map { g =>
      val n = rnd.nextInt(12)
      val evs = (0 until n).map { _ =>
        (rnd.nextInt(25).toLong,
          rnd.nextDouble() < 0.4, rnd.nextDouble() < 0.35, rnd.nextDouble() < 0.3)
      }
      g.toLong -> evs
    }
    groups.flatMap { case (g, evs) =>
      evs.map(e => (g, e._1, e._2, e._3, e._4))
    }.toDF("g", "t", "c1", "c2", "c3").createOrReplaceTempView("chsm_diff")
    // (pattern, refs in order, per-gap (op, n))
    val cases = Seq(
      ("'(?1).*(?2).*(?3)'", Seq(1, 2, 3), Seq((0, 0L), (0, 0L))),
      ("'(?1).*(?t<=5)(?2).*(?3)'", Seq(1, 2, 3), Seq((1, 5L), (0, 0L))),
      ("'(?1).*(?t>2)(?2).*(?t<=4)(?3)'", Seq(1, 2, 3), Seq((4, 2L), (1, 4L))),
      ("'(?2).*(?t>=3)(?1)'", Seq(2, 1), Seq((3, 3L))),
      ("'(?3).*(?t<3)(?3)'", Seq(3, 3), Seq((2, 3L))))
    for ((pat, needs, gaps) <- cases) {
      val got = ClickHouseSql.sql(spark,
        s"SELECT g, sequenceMatch($pat)(t, c1, c2, c3) AS hit " +
          "FROM chsm_diff GROUP BY g")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      groups.foreach { case (g, evs) =>
        if (evs.nonEmpty) {
          val rows = evs.flatMap { case (t, c1, c2, c3) =>
            // Per-LEVEL bitmask: bit j = row satisfies needs(j)'s cond.
            val conds = Seq(c1, c2, c3)
            val m = needs.zipWithIndex.collect {
              case (r, j) if conds(r - 1) => 1 << j
            }.sum
            if (m != 0) Seq((t, m)) else Seq.empty
          }
          val want = brute(rows, (1 to needs.length).toSeq, gaps)
          assert(got(g) == want,
            s"group $g pat=$pat: fold=${got(g)} brute=$want events=$evs")
        }
      }
    }
  }

  test("execution: sequenceMatch uses one distinct event per pattern position and bounds gaps exactly") {
    // u=1: ONE row matches both conds at t=10 — '(?1).*(?2)' must NOT
    //      match (ClickHouse consumes one event per (?N); the old
    //      windowFunnel-fold mapping would have said true).
    // u=2: two rows at the SAME second, cond1's bitmask sorts first —
    //      matches.
    // u=3: gap 7 between steps: (?t<=5) rejects, (?t>5) accepts.
    // u=4: equal-time rows where only the cond2 row exists BEFORE the
    //      cond1 row by bitmask order — (?1).*(?2) must not match
    //      backwards.
    val rows = Seq(
      (1L, 10L, true, true),
      (2L, 10L, true, false), (2L, 10L, false, true),
      (3L, 10L, true, false), (3L, 17L, false, true),
      (4L, 10L, false, true), (4L, 20L, true, false))
    rows.toDF("u", "t", "c1", "c2").createOrReplaceTempView("chsm_hand")
    def run(pat: String): Map[Long, Boolean] =
      ClickHouseSql.sql(spark,
        s"SELECT u, sequenceMatch('$pat')(t, c1, c2) AS hit " +
          "FROM chsm_hand GROUP BY u")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val plain = run("(?1).*(?2)")
    assert(!plain(1L), "one row must not occupy two pattern positions")
    assert(plain(2L), "distinct same-second rows chain in bitmask order")
    assert(plain(3L) && !plain(4L), plain)
    val tight = run("(?1).*(?t<=5)(?2)")
    assert(!tight(3L), "gap 7 must fail a <=5 bound")
    val loose = run("(?1).*(?t>5)(?2)")
    assert(loose(3L), "gap 7 must pass a >5 bound")
  }

  test("differential: sequenceCount agrees with an exhaustive earliest-end restart search on 300 random groups × 5 patterns") {
    // Independent oracle: repeatedly find the chain with the EARLIEST
    // END in the remaining suffix by exhaustive search over all
    // position choices, count it, restart after its end — the
    // non-overlap semantics ClickHouse documents ("starts to search for
    // the next chain after the current chain is matched"). The kernel
    // under test decides the same count with the (min, max)-state fold
    // plus reset-on-completion.
    def bruteCount(rows: Seq[(Long, Int)], k: Int, gaps: Seq[(Int, Long)]): Int = {
      val sorted = rows.sorted
      def ok(op: Int, n: Long, d: Long) = op match {
        case 0 => true
        case 1 => d <= n
        case 2 => d < n
        case 3 => d >= n
        case 4 => d > n
      }
      def chainEndsAt(q: Int, from: Int): Boolean = {
        val (tq, mq) = sorted(q)
        if ((mq & (1 << (k - 1))) == 0) false
        else if (k == 1) true
        else {
          def dfs(pos: Int, lvl: Int, last: Long): Boolean =
            if (lvl == k) { val (op, n) = gaps(k - 2); ok(op, n, tq - last) }
            else (pos until q).exists { r =>
              val (t, m) = sorted(r)
              (m & (1 << (lvl - 1))) != 0 &&
                (lvl == 1 || { val (op, n) = gaps(lvl - 2); ok(op, n, t - last) }) &&
                dfs(r + 1, lvl + 1, t)
            }
          dfs(from, 1, 0L)
        }
      }
      var from = 0
      var cnt = 0
      while (from < sorted.length) {
        (from until sorted.length).find(q => chainEndsAt(q, from)) match {
          case Some(q) => cnt += 1; from = q + 1
          case None => from = sorted.length
        }
      }
      cnt
    }
    val rnd = new scala.util.Random(20260818L)
    val groups = (0 until 300).map { g =>
      val n = rnd.nextInt(14)
      val evs = (0 until n).map { _ =>
        (rnd.nextInt(25).toLong,
          rnd.nextDouble() < 0.45, rnd.nextDouble() < 0.4, rnd.nextDouble() < 0.3)
      }
      g.toLong -> evs
    }
    groups.flatMap { case (g, evs) =>
      evs.map(e => (g, e._1, e._2, e._3, e._4))
    }.toDF("g", "t", "c1", "c2", "c3").createOrReplaceTempView("chsc_diff")
    // Unconstrained patterns only: time-constrained sequenceCount is a
    // named error (ClickHouse's count there depends on its matcher's
    // backtracking order — see the kernel's scaladoc), pinned below.
    val cases = Seq(
      ("'(?1)'", Seq(1), Seq.empty[(Int, Long)]),
      ("'(?1).*(?2)'", Seq(1, 2), Seq((0, 0L))),
      ("'(?2).*(?1)'", Seq(2, 1), Seq((0, 0L))),
      ("'(?1).*(?2).*(?3)'", Seq(1, 2, 3), Seq((0, 0L), (0, 0L))),
      ("'(?3).*(?1).*(?2)'", Seq(3, 1, 2), Seq((0, 0L), (0, 0L))))
    for ((pat, needs, gaps) <- cases) {
      val got = ClickHouseSql.sql(spark,
        s"SELECT g, sequenceCount($pat)(t, c1, c2, c3) AS n " +
          "FROM chsc_diff GROUP BY g")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      groups.foreach { case (g, evs) =>
        if (evs.nonEmpty) {
          val rows = evs.flatMap { case (t, c1, c2, c3) =>
            val conds = Seq(c1, c2, c3)
            val m = needs.zipWithIndex.collect {
              case (r, j) if conds(r - 1) => 1 << j
            }.sum
            if (m != 0) Seq((t, m)) else Seq.empty
          }
          val want = bruteCount(rows, needs.length, gaps)
          assert(got(g) == want,
            s"group $g pat=$pat: fold=${got(g)} brute=$want events=$evs")
        }
      }
    }
  }

  test("execution: sequenceCount restarts after each match; topKWeighted ranks by exact weight sums") {
    // A A B B → 1 (the second A extends the SAME chain; after the B
    // completes it, only an unpaired B remains); A B A B → 2; a single
    // row matching both conds → 0 (one event per position).
    Seq((1L, 0L, true, false), (1L, 1L, true, false),
        (1L, 2L, false, true), (1L, 3L, false, true),
        (2L, 0L, true, false), (2L, 1L, false, true),
        (2L, 2L, true, false), (2L, 3L, false, true),
        (3L, 5L, true, true))
      .toDF("u", "t", "a", "b").createOrReplaceTempView("chsc_hand")
    val sc = ClickHouseSql.sql(spark,
      "SELECT u, sequenceCount('(?1).*(?2)')(t, a, b) AS n " +
        "FROM chsc_hand GROUP BY u")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sc == Map(1L -> 1, 2L -> 2, 3L -> 0), sc)
    // Time-constrained sequenceCount is a NAMED error: the committed
    // chain (and so the restart point) depends on ClickHouse's internal
    // backtracking order. sequenceMatch with the same pattern stays
    // exact (existence is order-independent).
    val e = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT u, sequenceCount('(?1).*(?t<=4)(?2)')(t, a, b) AS n " +
        "FROM chsc_hand GROUP BY u").collect())
    val eMsg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(eMsg.contains("backtracking order"), e.getMessage)
    val okMatch = ClickHouseSql.sql(spark,
      "SELECT u, sequenceMatch('(?1).*(?t<=4)(?2)')(t, a, b) AS m " +
        "FROM chsc_hand GROUP BY u")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(okMatch == Map(1L -> true, 2L -> true, 3L -> false), okMatch)
    // topKWeighted: weight sums 5→6, 7→5, 2→9 → top2 = [2, 5]; the
    // 9-vs-... no tie here; add a tie: 4 with sum 6 ties 5 → value asc
    // puts 4 first. Null value drops; null weight counts 0.
    val tw = ClickHouseSql.sql(spark,
      "SELECT topKWeighted(3)(x, w) AS top FROM VALUES " +
        "(5, 2), (5, 4), (7, 5), (2, 9), (4, 6), (CAST(NULL AS INT), 8), (5, CAST(NULL AS INT)) " +
        "AS t(x, w)").head()
    assert(tw.getSeq[Int](0) == Seq(2, 4, 5), tw)
    // The remaining approx aliases resolve (approx-for-approx pairings).
    val ap = ClickHouseSql.sql(spark,
      "SELECT uniqCombined64(x) AS u64, uniqTheta(x) AS ut, " +
        "quantileTiming(0.5)(x) AS qt, quantilesTiming(0.25, 0.75)(x) AS qts, " +
        "quantileDeterministic(0.5)(x, x + 1) AS qd " +
        "FROM VALUES (1), (2), (3), (4) AS t(x)").head()
    assert(ap.getLong(0) == 4L && ap.getLong(1) == 4L, ap)
    assert(ap.getInt(2) == 2 || ap.getInt(2) == 3, ap)
    assert(ap.getSeq[Int](3).length == 2, ap)
    assert(ap.getInt(4) == 2 || ap.getInt(4) == 3, ap)
  }

  test("execution: WITH FILL INTERPOLATE carries the previous real row's value into generated rows") {
    Seq((0L, 10L, "a"), (3L, 20L, "b"), (5L, 30L, "c"))
      .toDF("k", "v", "s").createOrReplaceTempView("chfill_int")
    // v carries (10 into 1,2; 20 into 4); s takes its '' default.
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, v, s FROM chfill_int ORDER BY k WITH FILL INTERPOLATE (v)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((0L, 10L, "a"), (1L, 10L, ""), (2L, 10L, ""),
      (3L, 20L, "b"), (4L, 20L, ""), (5L, 30L, "c")), rows)
    // Bare INTERPOLATE carries every non-key column; leading fills with
    // no prior row take the type default.
    val bare = ClickHouseSql.sql(spark,
      "SELECT k, v, s FROM chfill_int ORDER BY k WITH FILL FROM -2 INTERPOLATE")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(bare == Seq((-2L, 0L, ""), (-1L, 0L, ""), (0L, 10L, "a"),
      (1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b"), (4L, 20L, "b"),
      (5L, 30L, "c")), bare)
  }

  test("execution: INTERPOLATE col AS expr chains the recurrence across consecutive fill rows") {
    Seq((0L, 10L, 7L), (3L, 20L, 8L), (5L, 30L, 9L))
      .toDF("k", "v", "u").createOrReplaceTempView("chfill_exp")
    // v doubles per fill step from the previous REAL value (gap 1,2:
    // 20, 40; gap 4: 40); u carries bare in the SAME clause.
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, v, u FROM chfill_exp ORDER BY k " +
        "WITH FILL INTERPOLATE (v AS v * 2, u)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((0L, 10L, 7L), (1L, 20L, 7L), (2L, 40L, 7L),
      (3L, 20L, 8L), (4L, 40L, 8L), (5L, 30L, 9L)), rows)
    // A decay with a comma inside the expression (depth-aware item
    // split), clamped at 0: 20 -> 13 -> 6 across the gap.
    val decay = ClickHouseSql.sql(spark,
      "SELECT k, v FROM (SELECT k, v FROM chfill_exp WHERE k <> 5) " +
        "ORDER BY k WITH FILL TO 6 INTERPOLATE (v AS greatest(v - 7, 0))")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(decay == Seq((0L, 10L), (1L, 3L), (2L, 0L), (3L, 20L),
      (4L, 13L), (5L, 6L)), decay)
    // Leading fills (no prior real row) start the recurrence from the
    // type default: FROM -2 with v AS v + 5 gives 5, 10 before k=0.
    val lead = ClickHouseSql.sql(spark,
      "SELECT k, v FROM (SELECT k, v FROM chfill_exp WHERE k = 0) " +
        "ORDER BY k WITH FILL FROM -2 INTERPOLATE (v AS v + 5)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lead == Seq((-2L, 5L), (-1L, 10L), (0L, 10L)), lead)
    // A string literal spelling the column name is NOT substituted.
    Seq((0L, "x"), (2L, "y")).toDF("k", "t").createOrReplaceTempView("chfill_str")
    val lit = ClickHouseSql.sql(spark,
      "SELECT k, t FROM chfill_str ORDER BY k " +
        "WITH FILL INTERPOLATE (t AS concat(t, 't'))")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(lit == Seq((0L, "x"), (1L, "xt"), (2L, "y")), lit)
  }

  test("execution: scalar/array helper renames map 1:1; bare position is haystack-first via the rename") {
    val r = ClickHouseSql.sql(spark,
      """SELECT empty(array()) AS e1, empty(array(1)) AS e2,
        |  notEmpty(array(1)) AS ne,
        |  arrayUniq(array(1, 2, 2, 3)) AS uniq,
        |  arrayStringConcat(array('a', 'b'), '-') AS joined,
        |  arrayStringConcat(array('a', 'b')) AS joined0,
        |  indexOf(array(5, 6, 7), 6) AS idx,
        |  indexOf(array(5, 6, 7), 9) AS idx0,
        |  arrayConcat(array(1), array(2, 3)) AS cat,
        |  arraySlice(array(1, 2, 3, 4), 2, 2) AS sl,
        |  arraySlice(array(1, 2, 3, 4), 3) AS sl_tail,
        |  arraySlice(array(1, 2, 3, 4), -2) AS sl_neg,
        |  lengthUTF8('héllo') AS ncp,
        |  upperUTF8(substringUTF8('héllo', 2, 3)) AS mid,
        |  assumeNotNull(nullIf('x', 'y')) AS anr""".stripMargin).head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2), r)
    assert(r.getInt(3) == 3, r)
    assert(r.getString(4) == "a-b" && r.getString(5) == "ab", r)
    assert(r.getLong(6) == 2L && r.getLong(7) == 0L, r)
    assert(r.getSeq[Int](8) == Seq(1, 2, 3), r)
    assert(r.getSeq[Int](9) == Seq(2, 3), r)
    assert(r.getSeq[Int](10) == Seq(3, 4), r)
    assert(r.getSeq[Int](11) == Seq(3, 4), r)
    assert(r.getInt(12) == 5, r)
    assert(r.getString(13) == "ÉLL", r)
    assert(r.getString(14) == "x", r)
    // Bare `position` carries ClickHouse's HAYSTACK-FIRST order through
    // the dialect path (r12: the textual rename to graft_ch_position —
    // before it, the call resolved to Spark's needle-first namesake and
    // ran silently wrong).
    val p = ClickHouseSql.sql(spark,
      "SELECT position('abc', 'b') AS ch_pos").head()
    assert(p.getInt(0) == 2, p)
  }

  test("execution: toStartOfWeek follows ClickHouse's mode parity — default/even Sunday, odd Monday") {
    // 1995-03-07 is a Tuesday; 1995-03-05 a Sunday; 1995-03-06 a Monday.
    val r = ClickHouseSql.sql(spark,
      """SELECT
        |  toString(toStartOfWeek(toDate('1995-03-07'))) AS tue_sun,
        |  toString(toStartOfWeek(toDate('1995-03-07'), 1)) AS tue_mon,
        |  toString(toStartOfWeek(toDate('1995-03-07'), 3)) AS tue_mon3,
        |  toString(toStartOfWeek(toDate('1995-03-07'), 0)) AS tue_sun0,
        |  toString(toStartOfWeek(toDate('1995-03-05'))) AS sun_sun,
        |  toString(toStartOfWeek(toDate('1995-03-05'), 1)) AS sun_mon,
        |  toString(toStartOfWeek(toDate('1995-03-06'), 1)) AS mon_mon,
        |  toString(toStartOfWeek(toDate('1995-03-06'))) AS mon_sun""".stripMargin)
      .head()
    assert(r.getString(0) == "1995-03-05" && r.getString(1) == "1995-03-06", r)
    assert(r.getString(2) == "1995-03-06" && r.getString(3) == "1995-03-05", r)
    // A Sunday is its own Sunday-week start but belongs to the PRIOR
    // Monday week; a Monday is its own Monday-week start but its
    // Sunday-week started the day before.
    assert(r.getString(4) == "1995-03-05" && r.getString(5) == "1995-02-27", r)
    assert(r.getString(6) == "1995-03-06" && r.getString(7) == "1995-03-05", r)
    val bad = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT toStartOfWeek(toDate('1995-03-07'), 99)").collect())
    assert(bad.getMessage.contains("mode"), bad.getMessage)
  }

  test("execution: dateDiff counts unit-boundary crossings (not complete periods); formatDateTime translates %-codes") {
    val r = ClickHouseSql.sql(spark,
      """SELECT
        |  dateDiff('month', toDate('1995-01-31'), toDate('1995-02-01')) AS m1,
        |  dateDiff('month', toDate('1995-01-01'), toDate('1995-03-15')) AS m2,
        |  dateDiff('year', toDate('1995-12-31'), toDate('1996-01-01')) AS y1,
        |  dateDiff('quarter', toDate('1995-03-31'), toDate('1995-04-01')) AS q1,
        |  dateDiff('day', toDateTime('1995-01-01 23:00:00'), toDateTime('1995-01-02 01:00:00')) AS d1,
        |  dateDiff('hour', toDateTime('1995-01-01 00:59:00'), toDateTime('1995-01-01 01:01:00')) AS h1,
        |  dateDiff('second', toDateTime('1995-01-01 00:00:01'), toDateTime('1995-01-01 00:00:05')) AS s1,
        |  formatDateTime(toDate('1995-03-07'), '%F') AS f1,
        |  formatDateTime(toDate('1995-03-07'), '%Y/%m day=%d %% %j') AS f2,
        |  formatDateTime(toDateTime('1995-03-07 14:05:09'), '%T') AS f3,
        |  formatDateTime(toDateTime('1995-01-07 14:05:09'), '%M %i') AS f4""".stripMargin)
      .head()
    // Boundary semantics: each adjacent-boundary pair reads 1 where
    // complete-period counting would read 0.
    assert(r.getInt(0) == 1 && r.getInt(1) == 2, r)
    assert(r.getInt(2) == 1 && r.getInt(3) == 1, r)
    assert(r.getInt(4) == 1 && r.getLong(5) == 1L && r.getLong(6) == 4L, r)
    assert(r.getString(7) == "1995-03-07", r)
    assert(r.getString(8) == "1995/03 day=07 % 066", r)
    assert(r.getString(9) == "14:05:09", r)
    // %M = month NAME, %i = minutes (ClickHouse >= 23.3 default,
    // formatdatetime_parsedatetime_m_is_month_name=1) — the pre-23.3
    // minutes reading of %M would print '05' here.
    assert(r.getString(10) == "January 05", r)
    val week = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT dateDiff('week', toDate('1995-01-01'), toDate('1995-02-01'))").collect())
    assert(week.getMessage.contains("Monday"), week.getMessage)
    val badCode = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT formatDateTime(toDate('1995-01-01'), '%e')").collect())
    assert(badCode.getMessage.contains("unsupported code"), badCode.getMessage)
    val today = ClickHouseSql.sql(spark,
      "SELECT dateDiff('day', yesterday(), today()) AS d, modulo(10, 3) AS m, " +
        "arrayMin(array(3, 1, 2)) AS mn, arrayMax(array(3, 1, 2)) AS mx").head()
    assert(today.getInt(0) == 1 && today.getInt(1) == 1, today)
    assert(today.getInt(2) == 1 && today.getInt(3) == 3, today)
  }

  test("execution: toStartOfInterval floors to n-unit buckets; JSONExtract* walks literal paths") {
    val r = ClickHouseSql.sql(spark,
      """SELECT
        |  toString(toStartOfInterval(toDateTime('2024-03-07 14:47:09'), INTERVAL 15 MINUTE)) AS m15,
        |  toString(toStartOfInterval(toDateTime('2024-03-07 14:47:09'), INTERVAL 6 HOUR)) AS h6,
        |  toString(toStartOfInterval(toDate('2024-05-20'), INTERVAL 2 MONTH)) AS mo2,
        |  JSONExtractString('{"a":{"b":"deep"},"l":[10,20]}', 'a', 'b') AS s_ab,
        |  JSONExtractInt('{"a":{"b":"deep"},"l":[10,20]}', 'l', 2) AS i_l2,
        |  JSONExtractFloat('{"x":2.5}', 'x') AS f_x,
        |  JSONExtractBool('{"ok":true}', 'ok') AS b_ok,
        |  JSONExtractString('{"a key":"v"}', 'a key') AS s_sp,
        |  splitByString('::', 'a::b::c') AS parts,
        |  arrayFlatten(array(array(1, 2), array(3))) AS flat,
        |  size(arrayZip(array(1, 2), array('x', 'y'))) AS z_n,
        |  uniqCombined(1) AS uc, quantileTDigest(0.5)(toFloat64(2.0)) AS qt""".stripMargin).head()
    assert(r.getString(0) == "2024-03-07 14:45:00", r)
    assert(r.getString(1) == "2024-03-07 12:00:00", r)
    // 2024-05 with 2-month buckets anchored at month index 0: May (idx
    // 16) floors to idx 16 → 2024-05-01... month index = y*12+m-1.
    assert(r.getString(2) == "2024-05-01", r)
    assert(r.getString(3) == "deep", r)
    assert(r.getLong(4) == 20L, r)
    assert(r.getDouble(5) == 2.5, r)
    assert(r.getBoolean(6), r)
    assert(r.getString(7) == "v", r)
    assert(r.getSeq[String](8) == Seq("a", "b", "c"), r)
    assert(r.getSeq[Int](9) == Seq(1, 2, 3), r)
    assert(r.getInt(10) == 2, r)
    assert(r.getLong(11) == 1L, r)
    assert(math.abs(r.getDouble(12) - 2.0) < 1e-9, r)
    val neg = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT JSONExtractInt('{\"l\":[1]}', 'l', -1)").collect())
    assert(neg.getMessage.contains("1-based"), neg.getMessage)
    val nonLit = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT toStartOfInterval(toDateTime('2024-01-01 00:00:00'), INTERVAL -1 HOUR)").collect())
    assert(nonLit.getMessage.contains("positive INTERVAL"), nonLit.getMessage)
  }

  test("rewrite: idempotent on its own output, and inert on a standard-SQL corpus") {
    // Inertness: statements with no ClickHouse-ism pass through `eq`-same
    // (not merely equal) — the fixpoint loop must not churn text.
    val standard = Seq(
      "SELECT a, sum(b) FROM t GROUP BY a HAVING sum(b) > 1 ORDER BY a LIMIT 5",
      "WITH x AS (SELECT 1 AS a) SELECT * FROM x JOIN y ON x.a = y.a",
      "SELECT * FROM t WHERE c IN (SELECT c FROM u) AND d BETWEEN 1 AND 2",
      "SELECT CAST(a AS INT), left(s, 2), count(*) FILTER (WHERE b) FROM t GROUP BY 1, 2",
      "SELECT row_number() OVER (PARTITION BY k ORDER BY v) FROM t",
      "SELECT 'QUALIFY LIMIT 2 BY PREWHERE SETTINGS WITH TOTALS' AS s FROM t",
      "SELECT a -- ARRAY JOIN arr AS x\nFROM t",
      "SELECT * FROM t LEFT SEMI JOIN u ON t.k = u.k",
      "SELECT global, any, all FROM t ORDER BY global")
    standard.foreach(s => assert(ClickHouseSqlRewrite(s) eq s, s))
    // Idempotence: a second pass over any rewritten spec example is a
    // no-op (the fixpoint converged, and converged text is standard SQL).
    val chExamples = Seq(
      "SELECT u, v FROM t ORDER BY u, v DESC LIMIT 2 BY u",
      "SELECT k, max(v) OVER (PARTITION BY k) AS m FROM t QUALIFY m > 1",
      "SELECT quantileExact(0.5)(x), topK(3)(y), uniqUpTo(9)(z) FROM t GROUP BY k",
      "SELECT x FROM t ARRAY JOIN arr AS x PREWHERE k = 1 WHERE v > 2",
      "SELECT k, count(*) FROM t GROUP BY k WITH TOTALS ORDER BY k",
      "SELECT * FROM a GLOBAL ALL INNER JOIN b ON a.k = b.k",
      "SELECT windowFunnel(60)(ts, a, b) FROM t GROUP BY u SETTINGS max_threads = 4")
    chExamples.foreach { s =>
      val once = ClickHouseSqlRewrite(s)
      assert(once ne s, s)
      assert(ClickHouseSqlRewrite(once) eq once, s"not idempotent:\n$once")
    }
  }

  test("execution: age counts COMPLETE periods (dateDiff's counterpart); pads/trims rename 1:1") {
    val r = ClickHouseSql.sql(spark,
      """SELECT
        |  age('month', toDate('1995-01-31'), toDate('1995-02-01')) AS m0,
        |  dateDiff('month', toDate('1995-01-31'), toDate('1995-02-01')) AS m1,
        |  age('month', toDate('1995-01-15'), toDate('1995-03-14')) AS m_inc,
        |  age('year', toDate('1995-06-01'), toDate('1996-05-31')) AS y0,
        |  age('week', toDate('1995-01-01'), toDate('1995-01-15')) AS w2,
        |  leftPad('7', 3, '0') AS lp, rightPad('7', 3, '.') AS rp,
        |  leftPadUTF8('é', 3, 'à') AS lpu,
        |  trimLeft('  x ') AS tl, trimRight('  x ') AS tr, trimBoth('  x ') AS tb""".stripMargin)
      .head()
    // The same adjacent-boundary pair reads 0 complete months but 1
    // month boundary — the two ClickHouse functions are NOT aliases.
    assert(r.getLong(0) == 0L && r.getInt(1) == 1, r)
    assert(r.getLong(2) == 1L, r) // Jan 15 → Mar 14: one complete month
    assert(r.getLong(3) == 0L, r)
    assert(r.getLong(4) == 2L, r)
    assert(r.getString(5) == "007" && r.getString(6) == "7..", r)
    assert(r.getString(7) == "ààé", r)
    assert(r.getString(8) == "x " && r.getString(9) == "  x" && r.getString(10) == "x", r)
  }

  test("rewrite: LIMIT offset,count paginates; FORMAT strips; WITH TIES rewrites to a rank filter") {
    assert(ClickHouseSqlRewrite("SELECT a FROM t ORDER BY a LIMIT 20, 10")
      == "SELECT a FROM t ORDER BY a LIMIT 10 OFFSET 20")
    assert(ClickHouseSqlRewrite("SELECT a FROM t ORDER BY a LIMIT 5 FORMAT JSON")
      == "SELECT a FROM t ORDER BY a LIMIT 5")
    assert(ClickHouseSqlRewrite("SELECT a FROM t FORMAT PrettyCompact;")
      == "SELECT a FROM t")
    // A column merely NAMED format is not the clause (nothing follows it).
    val inert = "SELECT format FROM t ORDER BY format"
    assert(ClickHouseSqlRewrite(inert) eq inert)
    // WITH TIES → the projected-sort rank wrap, filter rank <= n.
    val ties = ClickHouseSqlRewrite(
      "SELECT a FROM t ORDER BY a LIMIT 5 WITH TIES")
    assert(ties.contains("rank() OVER (ORDER BY __graft_ob_1") &&
      ties.contains("__graft_ties_rk <= 5"), ties)
    // Its offset form and the no-ORDER-BY form stay NAMED errors.
    val tiesOff = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT a FROM t ORDER BY a LIMIT 2, 5 WITH TIES"))
    assert(tiesOff.getMessage.contains("tie-groups"), tiesOff.getMessage)
    val tiesOff2 = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT a FROM t ORDER BY a LIMIT 5 WITH TIES OFFSET 2"))
    assert(tiesOff2.getMessage.contains("tie-groups"), tiesOff2.getMessage)
    val tiesNoOb = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "SELECT a FROM t LIMIT 5 WITH TIES"))
    assert(tiesNoOb.getMessage.contains("requires an ORDER BY"),
      tiesNoOb.getMessage)
    // LIMIT o, n BY routes to rewriteLimitBy's rank-window wrap with the
    // (o, o+n] filter — NOT to the pagination LIMIT/OFFSET rewrite.
    val offBy = ClickHouseSqlRewrite(
      "SELECT a FROM t ORDER BY a LIMIT 2, 3 BY k")
    assert(offBy.contains("__graft_limit_by_rn > 2 AND __graft_limit_by_rn <= 5"),
      offBy)
    val offKw = ClickHouseSqlRewrite(
      "SELECT a FROM t ORDER BY a LIMIT 3 OFFSET 2 BY k")
    assert(offKw.contains("__graft_limit_by_rn > 2 AND __graft_limit_by_rn <= 5"),
      offKw)
  }

  test("execution: transform -> CASE; toWeek modes 0/3; now64; formatReadable*; block-local functions are named errors") {
    // transform: constant-array lookup CASE, 4-arg default and 3-arg
    // fall-back-to-x (ClickHouse's rule); Spark's own 2-arg HOF passes
    // through untouched.
    val tr = ClickHouseSql.sql(spark,
      """SELECT transform('b', ['a', 'b'], ['Alpha', 'Beta'], 'other') AS hit,
        |  transform('z', ['a', 'b'], ['Alpha', 'Beta'], 'other') AS miss,
        |  transform(7, [1, 2], [10, 20]) AS self,
        |  transform(2, array(1, 2), array(10, 20), 0) AS arr_sp,
        |  transform(array(1, 2), x -> x * 10) AS hof""".stripMargin).head()
    assert(tr.getString(0) == "Beta" && tr.getString(1) == "other", tr)
    assert(tr.getInt(2) == 7 && tr.getInt(3) == 20, tr)
    assert(tr.getSeq[Int](4) == Seq(10, 20), tr)
    // toWeek mode 0: Sunday-start weeks counted from the year's first
    // Sunday — 2024-01-01 (Mon) is week 0, Jan 7 (the first Sunday)
    // starts week 1, Jan 14 week 2; mode 3 = ISO (2024-01-01 is ISO
    // week 1). 2017-01-01 was a Sunday: week 1 immediately.
    val wk = ClickHouseSql.sql(spark,
      """SELECT toInt64(toWeek(toDate('2024-01-01'))) AS w0a,
        |  toInt64(toWeek(toDate('2024-01-06'))) AS w0b,
        |  toInt64(toWeek(toDate('2024-01-07'))) AS w0c,
        |  toInt64(toWeek(toDate('2024-01-14'), 0)) AS w0d,
        |  toInt64(toWeek(toDate('2017-01-01'))) AS w0e,
        |  toInt64(toWeek(toDate('2024-01-01'), 3)) AS w3,
        |  toInt64(toWeek(toDate('2023-01-01'), 3)) AS w3b
        |""".stripMargin).head()
    assert((wk.getLong(0), wk.getLong(1), wk.getLong(2), wk.getLong(3),
      wk.getLong(4)) == ((0L, 0L, 1L, 2L, 1L)), wk)
    assert(wk.getLong(5) == 1L && wk.getLong(6) == 52L, wk) // 2023-01-01 = ISO week 52 of 2022
    // formatReadable*: binary vs decimal units, %.2f, below-unit forms.
    val fr = ClickHouseSql.sql(spark,
      """SELECT formatReadableSize(0) AS a, formatReadableSize(1023) AS b,
        |  formatReadableSize(1024) AS c, formatReadableSize(1536) AS d,
        |  formatReadableSize(1073741824) AS e, formatReadableSize(-2048) AS f,
        |  formatReadableQuantity(999) AS g, formatReadableQuantity(1500) AS h,
        |  formatReadableQuantity(2500000) AS i""".stripMargin).head()
    assert((fr.getString(0), fr.getString(1), fr.getString(2), fr.getString(3)) ==
      (("0.00 B", "1023.00 B", "1.00 KiB", "1.50 KiB")), fr)
    assert(fr.getString(4) == "1.00 GiB" && fr.getString(5) == "-2.00 KiB", fr)
    assert((fr.getString(6), fr.getString(7), fr.getString(8)) ==
      (("999.00", "1.50 thousand", "2.50 million")), fr)
    // now64 resolves (micros instant; precision 0-6 accepted, 9 named).
    assert(!ClickHouseSql.sql(spark,
      "SELECT now64() AS a, now64(3) AS b").head().isNullAt(0))
    def err(q: String): String = {
      val e = intercept[Exception](ClickHouseSql.sql(spark, q).collect())
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    }
    assert(err("SELECT now64(9)").contains("microsecond"))
    assert(err("SELECT toWeek(toDate('2024-01-01'), 4)").contains("mode 4"))
    assert(err("SELECT runningDifference(x) FROM VALUES (1) AS t(x)")
      .contains("lagInFrame"))
    assert(err("SELECT neighbor(x, 1) FROM VALUES (1) AS t(x)")
      .contains("block"))
    assert(err("SELECT toTimeZone(x, 'UTC') FROM VALUES (1) AS t(x)")
      .contains("convert_timezone"))
    assert(err("SELECT transform(x, [1, 2], [1], 0) FROM VALUES (1) AS t(x)")
      .contains("same"))
    assert(err("SELECT transform(x, f, t, 0) FROM VALUES (1) AS t(x)")
      .contains("literal array"))
  }

  test("execution: notLike/notILike/multiMatchAny, toInterval* arithmetic, arrayResize, emptyArray* typed empties") {
    val r = ClickHouseSql.sql(spark,
      """SELECT notLike('BUILDING', 'BU%') AS a,
        |  notILike('BUILDING', 'bu%') AS b,
        |  multiMatchAny('HOUSEHOLD', ['^BUIL', 'HOLD$']) AS c,
        |  multiMatchAny('MACHINERY', ['^BUIL', 'HOLD$']) AS d,
        |  toString(toDate(toDate('2024-01-15') + toIntervalDay(3))) AS e,
        |  toString(toDate('2024-01-31') + toIntervalMonth(1)) AS f,
        |  toString(toDate('2024-03-10') + toIntervalYear(1)) AS g,
        |  toString(toDate(toDate('2024-01-01') + toIntervalWeek(2))) AS h,
        |  arrayStringConcat(arrayResize([1, 2, 3], 2, 0), ',') AS trunc2,
        |  arrayStringConcat(arrayResize([1], 3, 9), ',') AS pad3,
        |  arrayStringConcat(arrayResize([1, 2, 3], -2, 0), ',') AS left2,
        |  arrayStringConcat(arrayResize([1], -3, 9), ',') AS lpad3,
        |  toInt64(size(arrayResize([1, 2], 0, 0))) AS zero,
        |  toInt64(size(emptyArrayInt64())) AS e64,
        |  toInt64(size(arrayConcat(emptyArrayString(), ['x']))) AS es1
        |""".stripMargin).head()
    assert(!r.getBoolean(0) && !r.getBoolean(1), r)
    assert(r.getBoolean(2) && !r.getBoolean(3), r)
    assert(r.getString(4) == "2024-01-18", r)
    assert(r.getString(5) == "2024-02-29", r) // end-of-month clamp
    assert(r.getString(6) == "2025-03-10", r)
    assert(r.getString(7) == "2024-01-15", r)
    assert(r.getString(8) == "1,2" && r.getString(9) == "1,9,9", r)
    // Negative sizes work on the LEFT end (ClickHouse's rule): the last
    // |size| elements, left-padded when growing.
    assert(r.getString(10) == "2,3" && r.getString(11) == "9,9,1", r)
    assert(r.getLong(12) == 0L && r.getLong(13) == 0L && r.getLong(14) == 1L, r)
    // The 2-arg arrayResize (element-type-default pad) is a named error.
    val e = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT arrayResize([1, 2], 5)").collect())
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("extender"), e.getMessage)
  }

  test("differential: formatReadableSize/Quantity unit selection agrees with a Scala reference over random magnitudes") {
    // Independent reference for the CASE-ladder logic (threshold choice,
    // abs handling, unit order); both sides share Java's %.2f, so what
    // this pins is the unit selection across 19 orders of magnitude,
    // negatives, and the exact power-of-1024 boundaries.
    val rnd = new scala.util.Random(20260816L)
    val vals = Seq(0d, 1d, 1023d, 1024d, 1025d, -1536d, 1048575d, 1048576d,
      999d, 1000d, -2500000d) ++
      (0 until 200).map(_ => (rnd.nextDouble() * 2 - 1) *
        math.pow(10, rnd.nextInt(19)))
    def fmt2(x: Double, suffix: String): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x)) +
        (if (suffix.isEmpty) "" else " " + suffix)
    def refSize(x: Double): String = {
      val units = Seq("EiB" -> math.pow(1024d, 6), "PiB" -> math.pow(1024d, 5),
        "TiB" -> math.pow(1024d, 4), "GiB" -> math.pow(1024d, 3),
        "MiB" -> math.pow(1024d, 2), "KiB" -> 1024d)
      units.find { case (_, f) => math.abs(x) >= f }
        .map { case (u, f) => fmt2(x / f, u) }.getOrElse(fmt2(x, "B"))
    }
    def refQty(x: Double): String = {
      val units = Seq("trillion" -> 1e12, "billion" -> 1e9,
        "million" -> 1e6, "thousand" -> 1e3)
      units.find { case (_, f) => math.abs(x) >= f }
        .map { case (u, f) => fmt2(x / f, u) }.getOrElse(fmt2(x, ""))
    }
    vals.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      .createOrReplaceTempView("chfrs")
    val got = ClickHouseSql.sql(spark,
      "SELECT i, formatReadableSize(v) AS s, formatReadableQuantity(v) AS q FROM chfrs")
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(got(i) == ((refSize(v), refQty(v))), (v, got(i), refSize(v), refQty(v)))
    }
  }

  test("execution: dictGetDate/dictGetDateTime typed misses return epoch defaults (instant 0, not session wall clock)") {
    Seq((1L, java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 12:00:00")))
      .toDF("id", "d", "ts").createOrReplaceTempView("chdict_dt")
    val r = ClickHouseSql.sql(spark,
      """SELECT toString(dictGetDate('chdict_dt', 'd', 1)) AS hit_d,
        |  toString(dictGetDate('chdict_dt', 'd', 2)) AS miss_d,
        |  toInt64(toUnixTimestamp64Micro(dictGetDateTime('chdict_dt', 'ts', 1))) AS hit_us,
        |  toInt64(toUnixTimestamp64Micro(dictGetDateTime('chdict_dt', 'ts', 2))) AS miss_us
        |""".stripMargin).head()
    assert(r.getString(0) == "2024-03-01", r)
    assert(r.getString(1) == "1970-01-01", r)
    assert(r.getLong(2) == 1709294400000000L, r) // 2024-03-01 12:00 UTC
    assert(r.getLong(3) == 0L, r) // the epoch-0 INSTANT, zone-free
  }

  test("differential: toWeek mode 0 agrees with a LocalDate reference on 600 random dates across year boundaries") {
    // Independent reference: weeks 0-53 counted from the year's first
    // Sunday (java.time, no shared arithmetic with the Catalyst
    // expression). Random dates over 1969-2039 hit leap years, all
    // seven Jan-1 weekdays, and the pre-1970 epoch side.
    val rnd = new scala.util.Random(20260815L)
    val dates = (0 until 600).map { _ =>
      java.time.LocalDate.ofEpochDay(rnd.between(-365L, 25550L))
    } ++ (2012 to 2024).map(y => java.time.LocalDate.of(y, 1, 1)) ++
      (2012 to 2024).map(y => java.time.LocalDate.of(y, 12, 31))
    def ref(d: java.time.LocalDate): Int = {
      val jan1 = d.withDayOfYear(1)
      // DayOfWeek.getValue: Mon=1..Sun=7 → days until the first Sunday.
      val firstSunDoy = 1 + (7 - jan1.getDayOfWeek.getValue % 7) % 7
      if (d.getDayOfYear < firstSunDoy) 0
      else (d.getDayOfYear - firstSunDoy) / 7 + 1
    }
    dates.map(d => Tuple1(d.toString)).toDF("ds")
      .createOrReplaceTempView("chwk_diff")
    val got = ClickHouseSql.sql(spark,
      "SELECT ds, toWeek(toDate(ds)) AS w FROM chwk_diff")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    dates.foreach { d =>
      assert(got(d.toString) == ref(d), (d, got(d.toString), ref(d)))
    }
  }

  test("execution: dict* functions map onto scalar-subquery lookups; plain dictGet and mismatches are named errors") {
    Seq((1L, "alpha", 10L), (2L, "beta", 20L), (4L, "delta", 40L))
      .toDF("id", "name", "score").createOrReplaceTempView("chdict")
    val r = ClickHouseSql.sql(spark,
      """SELECT k,
        |  dictGetOrDefault('chdict', 'name', k, 'NONE') AS nm,
        |  dictGetOrNull('chdict', 'score', k) AS sc,
        |  dictHas('chdict', k) AS has,
        |  dictGetString('chdict', 'name', k) AS nm2,
        |  dictGetInt64('chdict', 'score', k) AS sc2,
        |  dictGetInt64OrDefault('chdict', 'score', k, -1) AS sc3
        |FROM (SELECT explode(array(1, 3, 4)) AS k)
        |ORDER BY k""".stripMargin).collect()
    val got = r.map(row => (row.getInt(0), row.getString(1),
      if (row.isNullAt(2)) -99L else row.getLong(2), row.getBoolean(3),
      row.getString(4), row.getLong(5), row.getLong(6))).toSeq
    // Hit rows carry the attribute; the miss row (k=3) takes the
    // explicit default / NULL / false / the TYPED miss value ('' and 0 —
    // the ClickHouse flat/hashed miss semantics the typed name pins).
    assert(got == Seq(
      (1, "alpha", 10L, true, "alpha", 10L, 10L),
      (3, "NONE", -99L, false, "", 0L, -1L),
      (4, "delta", 40L, true, "delta", 40L, 40L)), got.mkString("; "))
    def err(q: String): String = {
      val e = intercept[Exception](ClickHouseSql.sql(spark, q).collect())
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    }
    // Plain dictGet: the miss value is the ATTRIBUTE type's default,
    // which only the dictionary DDL knows — named error.
    assert(err("SELECT dictGet('chdict', 'name', 1)")
      .contains("dictGetOrDefault"), "plain dictGet must name the fix")
    assert(err("SELECT dictGetOrNull('chdict', 'nope', 1)")
      .contains("no column 'nope'"), "unknown attribute must be named")
    assert(err("SELECT dictGetOrNull('nosuchdict', 'a', 1)")
      .contains("createOrReplaceTempView"), "unknown dict must be named")
    // Typed form against an incompatible column type: named error, not a
    // silent cast (ClickHouse errors on the mismatch too).
    assert(err("SELECT dictGetInt64('chdict', 'name', 1)")
      .contains("compatible type"), "type mismatch must be named")
    assert(err("SELECT dictGetHierarchy('chdict', 1)")
      .contains("recursive CTE"), "hierarchy must point at the CTE spelling")
    // A bare probe-key identifier that ALSO names a dictionary column
    // would resolve to the DICTIONARY inside the lookup subquery (inner
    // scope wins) and silently match every row — named error demanding
    // the qualified spelling; the qualified form works.
    Seq((1L, 7L)).toDF("id", "v").createOrReplaceTempView("chdict_f")
    assert(err("SELECT dictGetOrNull('chdict', 'name', id) FROM chdict_f")
      .contains("DICTIONARY side"), "bare shadowed key must be named")
    val q = ClickHouseSql.sql(spark,
      "SELECT dictGetOrNull('chdict', 'name', chdict_f.id) AS nm FROM chdict_f")
      .collect().map(_.getString(0)).toSeq
    assert(q == Seq("alpha"), q)
  }

  test("execution: LIMIT n WITH TIES keeps the whole tie-group of the n-th row") {
    // Sorted keys: 1, 1, 2, 2, 2, 3 — LIMIT 3 must keep all three 2s
    // (the 3rd row's tie-group spans rows 3-5); LIMIT 2 stops at the
    // 1s; LIMIT 6 is the whole set; LIMIT 1 keeps both 1s.
    Seq((1L, "a"), (1L, "b"), (2L, "c"), (2L, "d"), (2L, "e"), (3L, "f"))
      .toDF("k", "tag").createOrReplaceTempView("chwt")
    def run(n: Int): Seq[Long] = ClickHouseSql.sql(spark,
      s"SELECT k, tag FROM chwt ORDER BY k LIMIT $n WITH TIES")
      .collect().map(_.getLong(0)).toSeq
    assert(run(3) == Seq(1L, 1L, 2L, 2L, 2L), run(3))
    assert(run(2) == Seq(1L, 1L), run(2))
    assert(run(1) == Seq(1L, 1L), run(1))
    assert(run(6) == Seq(1L, 1L, 2L, 2L, 2L, 3L), run(6))
    // The sort may reference a non-selected base column (the projected-
    // sort discipline), and DESC ties work the same.
    val desc = ClickHouseSql.sql(spark,
      "SELECT tag FROM chwt ORDER BY k DESC LIMIT 2 WITH TIES")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(desc == Seq("c", "d", "e", "f"), desc)
  }

  test("execution: bracket array literals parse; set predicates, bitwise, replace, and array calculus map exactly") {
    // Literal-position [ becomes array(); indexing [ becomes the
    // 1-based graft_ch_element wrap (r13 — pass-through ran Spark's
    // 0-based subscript, silently shifted).
    assert(ClickHouseSqlRewrite("SELECT ['a', 'b'] AS l, arr[1] AS e FROM t")
      == "SELECT array('a', 'b') AS l, graft_ch_element(arr\n, 1\n) AS e FROM t")
    assert(ClickHouseSqlRewrite("SELECT [[1], [2, 3]] AS m FROM t")
      == "SELECT array(array(1), array(2, 3)) AS m FROM t")
    val r = ClickHouseSql.sql(spark,
      """SELECT hasAll([1, 2, 3], [2, 3]) AS all_in,
        |  hasAll([1, 2], [2, 9]) AS not_all,
        |  hasAny([1, 2], [9, 2]) AS any_in,
        |  concat_ws(',', arrayIntersect([1, 2, 2, 3], [3, 2, 8])) AS inter,
        |  bitAnd(12, 10) AS b_and, bitOr(12, 10) AS b_or, bitXor(12, 10) AS b_xor,
        |  bitNot(0) AS b_not, bitShiftLeft(3, 2) AS b_shl, bitShiftRight(12, 2) AS b_shr,
        |  replaceAll('banana', 'an', 'AN') AS rall,
        |  replaceOne('banana', 'an', 'AN') AS rone,
        |  replaceOne('banana', 'xx', 'AN') AS rmiss,
        |  concat_ws(',', arrayDifference([7, 9, 6, 6])) AS adiff,
        |  concat_ws(',', arrayCumSum([1, 2, 3])) AS acum""".stripMargin).head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2), r)
    assert(Set("2,3", "3,2").contains(r.getString(3)), r)
    assert(r.getInt(4) == 8 && r.getInt(5) == 14 && r.getInt(6) == 6, r)
    assert(r.getInt(7) == -1 && r.getInt(8) == 12 && r.getInt(9) == 3, r)
    assert(r.getString(10) == "bANANa", r)
    assert(r.getString(11) == "bANana", r)
    assert(r.getString(12) == "banana", r)
    assert(r.getString(13) == "0,2,-3,0", r)
    assert(r.getString(14) == "1,3,6", r)
  }

  test("execution: WITH expr AS name macros ride a one-row relation; CTEs in the same list stay CTEs") {
    assert(ClickHouseSqlRewrite("WITH 5 AS k SELECT k + v FROM t WHERE v > k")
      == "SELECT k + v FROM (SELECT (5\n) AS k) __graft_with CROSS JOIN t WHERE v > k")
    // Mixed list: the CTE survives in WITH, the macros move to the relation.
    val mixed = ClickHouseSqlRewrite(
      "WITH 5 AS k, c AS (SELECT 1 AS a) SELECT k FROM c")
    assert(mixed == "WITH c AS (SELECT 1 AS a) SELECT k FROM " +
      "(SELECT (5\n) AS k) __graft_with CROSS JOIN c", mixed)
    // Pure-CTE WITH is untouched.
    val cte = "WITH c AS (SELECT 1 AS a) SELECT a FROM c"
    assert(ClickHouseSqlRewrite(cte) eq cte)
    fixture()
    val rows = ClickHouseSql.sql(spark,
      """WITH 15 AS cut, (SELECT min(v) FROM chf) AS vmin
        |SELECT k, toInt64(countIf(v > cut)) AS n_big,
        |  toInt64(countIf(v = vmin)) AS n_min
        |FROM chf GROUP BY k ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 2L, 0L), (2L, 1L, 1L)), rows)
    val noFrom = intercept[IllegalArgumentException](ClickHouseSqlRewrite(
      "WITH 5 AS k SELECT k"))
    assert(noFrom.getMessage.contains("one-row relation"), noFrom.getMessage)
  }

  test("execution: a ported custom_query shape — LIMIT BY + QUALIFY + combinators together") {
    fixture()
    // The reference splices {query_filter} into custom_query bodies
    // (README.md:63); this is what such a body looks like after the
    // splice, exercising three dialect features in one statement.
    val df = ClickHouseSql.sql(spark,
      """SELECT k, s, v,
        |       CAST(row_number() OVER (PARTITION BY k ORDER BY v DESC, s) AS BIGINT) AS rn
        |FROM chf WHERE 1=1
        |QUALIFY rn <= 2
        |ORDER BY k, v DESC, s
        |LIMIT 1 BY k""".stripMargin)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "z"), (2L, "q")), rows)
  }

  // ---- r11 batch 2: URL / search / digest / date-arith / aggregate /
  // ---- array-calculus function families ----

  test("execution: URL accessors parse a full URL; cut* are string surgery with ClickHouse's fragment rules") {
    val r = ClickHouseSql.sql(spark,
      """SELECT domain('https://www.ex.com:8080/a/b?x=1&y=2#frag') AS dom,
        |  domainWithoutWWW('https://www.ex.com/a') AS dom2,
        |  protocol('https://ex.com/') AS proto,
        |  path('https://ex.com/a/b?x=1') AS pth,
        |  pathFull('https://ex.com/a/b?x=1') AS pthq,
        |  queryString('https://ex.com/a?x=1&y=2#f') AS qs,
        |  fragment('https://ex.com/a#sec') AS frag,
        |  extractURLParameter('https://ex.com/a?x=1&y=2', 'y') AS py,
        |  extractURLParameter('https://ex.com/a?x=1', 'zz') AS pz,
        |  domain('not a url at all') AS bad,
        |  cutQueryString('http://h/p?q=1#f') AS cq,
        |  cutQueryString('http://h/p#f?notq') AS cq2,
        |  cutFragment('http://h/p?q=1#f') AS cf,
        |  cutQueryStringAndFragment('http://h/p?q=1#f') AS cqf""".stripMargin)
      .collect().head
    assert(r.getString(0) == "www.ex.com", r)
    assert(r.getString(1) == "ex.com", r)
    assert(r.getString(2) == "https", r)
    assert(r.getString(3) == "/a/b", r)
    assert(r.getString(4) == "/a/b?x=1", r)
    assert(r.getString(5) == "x=1&y=2", r)
    assert(r.getString(6) == "sec", r)
    assert(r.getString(7) == "2", r)
    assert(r.getString(8) == "", r)
    assert(r.getString(9) == "", r)
    assert(r.getString(10) == "http://h/p#f", r)
    // '?' inside the fragment is NOT a query string — url unchanged.
    assert(r.getString(11) == "http://h/p#f?notq", r)
    assert(r.getString(12) == "http://h/p?q=1", r)
    assert(r.getString(13) == "http://h/p", r)
  }

  test("execution: search functions — haystack-first position variants, match, extractAll group arity, countSubstrings, multiSearchAny") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(positionCaseInsensitive('Hello', 'LO')) AS p1,
        |  toInt64(positionUTF8('hello', 'll')) AS p2,
        |  toInt64(positionUTF8('hello', 'zz')) AS p0,
        |  match('hello world', 'wor.d') AS m1,
        |  match('hello', '^world$') AS m0,
        |  arrayStringConcat(extractAll('a1b22c333', '[0-9]+'), '/') AS ea,
        |  arrayStringConcat(extractAll('k=v;k2=v2', 'k[0-9]*=([a-z0-9]+)'), '/') AS eg,
        |  toInt64(countSubstrings('aaaa', 'aa')) AS cs,
        |  toInt64(countSubstrings('abc', '')) AS cs0,
        |  multiSearchAny('the quick fox', ['quick', 'zebra']) AS ms1,
        |  multiSearchAny('the quick fox', ['zebra', 'yak']) AS ms0""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L && r.getLong(2) == 0L, r)
    assert(r.getBoolean(3) && !r.getBoolean(4), r)
    assert(r.getString(5) == "1/22/333", r)
    // A capture group switches extraction to the group's text.
    assert(r.getString(6) == "v/v2", r)
    assert(r.getLong(7) == 2L, r) // non-overlapping
    assert(r.getLong(8) == 0L, r)
    assert(r.getBoolean(9) && !r.getBoolean(10), r)
  }

  test("execution: base64 round-trip, tryBase64Decode '', binary SHA256 hexes to the known vector; hash family is a named error") {
    val r = ClickHouseSql.sql(spark,
      """SELECT base64Encode('CH') AS b,
        |  base64Decode(base64Encode('round')) AS rt,
        |  tryBase64Decode('!!!') AS bad,
        |  hex(SHA256('abc')) AS sha""".stripMargin).collect().head
    assert(r.getString(0) == "Q0g=", r)
    assert(r.getString(1) == "round", r)
    assert(r.getString(2) == "", r)
    assert(r.getString(3) ==
      "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD", r)
    val e = intercept[Exception](
      ClickHouseSql.sql(spark, "SELECT cityHash64('x')").collect())
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert((e.getMessage + msg).contains("different hash algorithms"), e.getMessage)
  }

  test("execution: xxHash64 is a named error, xxhash64 stays Spark's") {
    // xxHash64 shares Spark's built-in name (the registry is
    // case-insensitive), so the dialect must not answer with Spark's
    // seed-42 hash.
    val e = intercept[Exception](ClickHouseSql.sql(spark, "SELECT xxHash64('x')").collect())
    assert(e.getMessage.contains("different hash algorithms"), e.getMessage)
    // The spelling the SAMPLE error recommends runs Spark's own hash.
    val spark42 = spark.range(1).select(org.apache.spark.sql.functions.xxhash64(
      org.apache.spark.sql.functions.lit("x"))).head().getLong(0)
    assert(ClickHouseSql.sql(spark, "SELECT xxhash64('x')").head().getLong(0) == spark42)
    assert(spark.sql("SELECT xxHash64('x')").head().getLong(0) == spark42)
  }

  test("execution: toDayOfWeek's four modes, toMonday, toLastDayOfMonth, clamped month arithmetic, floor-divided toRelative*Num") {
    // 2024-01-01 is a Monday.
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(toDayOfWeek(toDate('2024-01-01'))) AS d0,
        |  toInt64(toDayOfWeek(toDate('2024-01-01'), 1)) AS d1,
        |  toInt64(toDayOfWeek(toDate('2024-01-01'), 2)) AS d2,
        |  toInt64(toDayOfWeek(toDate('2024-01-01'), 3)) AS d3,
        |  toString(toMonday(toDate('2024-01-04'))) AS mon,
        |  toString(toLastDayOfMonth(toDate('2024-02-04'))) AS eom,
        |  toString(toDate(addDays(toDate('2024-01-30'), 3))) AS plus3,
        |  toString(toDate(subtractMonths(toDate('2024-03-31'), 1))) AS clamp,
        |  toInt64(toRelativeDayNum(toDateTime('1969-12-31 12:00:00'))) AS neg,
        |  toInt64(toRelativeHourNum(toDateTime('1970-01-01 05:30:00'))) AS h5,
        |  toInt64(toQuarter(toDate('2024-05-01'))) AS q2,
        |  toInt64(toDayOfYear(toDate('2024-02-01'))) AS doy""".stripMargin)
      .collect().head
    // Monday in the four modes: 0 -> 1 (Mon=1), 1 -> 0 (Mon=0),
    // 2 -> 1 (Sun=0..Sat=6), 3 -> 2 (Sun=1..Sat=7) — ClickHouse's
    // documented mode table.
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 0L, 1L, 2L)), r)
    assert(r.getString(4) == "2024-01-01", r)
    assert(r.getString(5) == "2024-02-29", r)
    assert(r.getString(6) == "2024-02-02", r)
    assert(r.getString(7) == "2024-02-29", r) // end-of-month clamp
    assert(r.getLong(8) == -1L, r) // floor, not truncation toward zero
    assert(r.getLong(9) == 5L, r)
    assert(r.getLong(10) == 2L && r.getLong(11) == 32L, r)
  }

  test("execution: roundBankers half-even; intDivOrZero/moduloOrZero; divide is always Float64") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(roundBankers(2.5)) AS a,
        |  toInt64(roundBankers(3.5)) AS b,
        |  toInt64(roundBankers(-2.5)) AS c,
        |  toInt64(intDivOrZero(7, 2)) AS d,
        |  toInt64(intDivOrZero(7, 0)) AS e,
        |  toInt64(moduloOrZero(7, 0)) AS f,
        |  divide(5, 2) AS g""".stripMargin).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 4L, -2L)), r)
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((3L, 0L, 0L)), r)
    assert(r.getDouble(6) == 2.5d, r)
  }

  test("execution: avgWeighted, sumCount struct, quantileExactWeighted boundary levels, boundingRatio, kurtPop excess+3") {
    Seq((1L, 10.0, 1L), (2L, 20.0, 3L), (3L, 30.0, 1L))
      .toDF("x", "y", "w").createOrReplaceTempView("chw")
    val r = ClickHouseSql.sql(spark,
      """SELECT avgWeighted(y, w) AS aw,
        |  toInt64(sumCount(x).sum) AS ss,
        |  toInt64(sumCount(x).count) AS sc,
        |  toInt64(quantileExactWeighted(0)(x, w)) AS q0,
        |  toInt64(quantileExactWeighted(0.25)(x, w)) AS q25,
        |  toInt64(quantileExactWeighted(0.5)(x, w)) AS q50,
        |  toInt64(quantileExactWeighted(1)(x, w)) AS q100,
        |  boundingRatio(x, y) AS br,
        |  toInt64(countDistinct(w)) AS cd
        |FROM chw""".stripMargin).collect().head
    assert(r.getDouble(0) == (10.0 + 60.0 + 30.0) / 5.0, r)
    assert(r.getLong(1) == 6L && r.getLong(2) == 3L, r)
    // weights (1,3,1), total 5: thresholds 0→first, 1.25→x=2, 2.5→x=2, 5→x=3.
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((1L, 2L, 2L, 3L)), r)
    assert(r.getDouble(7) == 10.0d, r) // (30-10)/(3-1)
    assert(r.getLong(8) == 2L, r)
    // kurtPop of a symmetric two-point mass {0,0,1,1} is m4/m2^2 = 1.
    val k = ClickHouseSql.sql(spark,
      "SELECT kurtPop(v) AS k FROM (SELECT explode(array(0.0, 0.0, 1.0, 1.0)) AS v)")
      .collect().head.getDouble(0)
    assert(math.abs(k - 1.0d) < 1e-9, k)
  }

  test("execution: array calculus — folds, searches, compact, surgery, exclusive-end range") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(arraySum(array(1, 2, 3))) AS s,
        |  arrayAvg(array(1, 2, 3, 4)) AS av,
        |  arrayProduct(array(2, 3, 4)) AS pr,
        |  toInt64(arrayFirst(x -> x > 2, array(1, 3, 4))) AS fst,
        |  arrayFirst(x -> x > 9, array(1, 3, 4)) AS fnone,
        |  toInt64(arrayLast(x -> x > 2, array(1, 3, 4))) AS lst,
        |  toInt64(arrayFirstIndex(x -> x > 2, array(1, 3, 4))) AS fi,
        |  toInt64(arrayLastIndex(x -> x > 2, array(1, 3, 4))) AS li,
        |  toInt64(arrayFirstIndex(x -> x > 9, array(1, 3, 4))) AS fi0,
        |  arrayCompact(array(1, 1, 2, 2, 1)) AS cp,
        |  arrayCompact(array(NULL, NULL, 1)) AS cpn,
        |  arrayWithConstant(3, 7) AS wc,
        |  arrayPushBack(array(1, 2), 9) AS pb,
        |  arrayPushFront(array(1, 2), 0) AS pf,
        |  arrayPopBack(array(1, 2, 3)) AS qb,
        |  arrayPopFront(array(7)) AS qf,
        |  arrayEnumerate(array('a', 'b', 'c')) AS en,
        |  range(4) AS r4,
        |  range(0) AS r0,
        |  range(2, 5) AS r25,
        |  range(0, 10, 3) AS r3,
        |  arrayReverse(array(1, 2, 3)) AS rv,
        |  arrayDistinct(array(1, 2, 1, 3)) AS ds""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 6L, r)
    assert(r.getDouble(1) == 2.5d, r)
    assert(r.getDouble(2) == 24.0d, r)
    assert(r.getLong(3) == 3L && r.isNullAt(4) && r.getLong(5) == 4L, r)
    assert(r.getLong(6) == 2L && r.getLong(7) == 3L && r.getLong(8) == 0L, r)
    assert(r.getSeq[Int](9) == Seq(1, 2, 1), r)
    assert(r.getSeq[Any](10) == Seq(null, 1), r)
    assert(r.getSeq[Int](11) == Seq(7, 7, 7), r)
    assert(r.getSeq[Int](12) == Seq(1, 2, 9), r)
    assert(r.getSeq[Int](13) == Seq(0, 1, 2), r)
    assert(r.getSeq[Int](14) == Seq(1, 2), r)
    assert(r.getSeq[Int](15) == Seq(), r)
    assert(r.getSeq[Int](16) == Seq(1, 2, 3), r)
    assert(r.getSeq[Long](17) == Seq(0L, 1L, 2L, 3L), r)
    assert(r.getSeq[Long](18) == Seq(), r)
    assert(r.getSeq[Long](19) == Seq(2L, 3L, 4L), r)
    assert(r.getSeq[Long](20) == Seq(0L, 3L, 6L, 9L), r)
    assert(r.getSeq[Int](21) == Seq(3, 2, 1), r)
    assert(r.getSeq[Int](22) == Seq(1, 2, 3), r)
  }

  test("differential: quantileExactWeighted agrees with a brute-force cumulative-weight scan on 300 random groups × 5 levels") {
    // Independent oracle: sort the (value, weight) pairs, drop
    // null/zero/negative weights, accumulate, return the first value
    // whose running weight reaches level * total — the >=-crossing rule
    // the kernel's scaladoc states. Weights include zeros to pin the
    // filter; levels include both endpoints (0 → min, 1 → max).
    val rnd = new scala.util.Random(20260818L)
    val rows = (0 until 300).flatMap { g =>
      (0 until (1 + rnd.nextInt(12))).map { _ =>
        (g.toLong, rnd.nextInt(20).toLong, rnd.nextInt(5).toLong)
      }
    }
    rows.toDF("g", "x", "w").createOrReplaceTempView("chqw")
    def brute(pairs: Seq[(Long, Long)], level: Double): Option[Long] = {
      val kept = pairs.filter(_._2 > 0).sortBy(_._1)
      val total = kept.map(_._2).sum
      if (total == 0) None
      else {
        var acc = 0L
        kept.find { case (_, w) => acc += w; acc.toDouble >= level * total }
          .map(_._1)
      }
    }
    val byG = rows.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    Seq(0.0, 0.25, 0.5, 0.9, 1.0).foreach { level =>
      val got = ClickHouseSql.sql(spark,
        s"SELECT g, quantileExactWeighted($level)(x, w) AS q FROM chqw GROUP BY g")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1).toLong))).toMap
      byG.foreach { case (g, pairs) =>
        assert(got(g) == brute(pairs, level), (g, level, pairs, got(g)))
      }
    }
  }

  test("execution: maps/tuples/misc — tupleElement, splitByRegexp, ifNotFinite, arrayReduce, arrayEnumerateUniq, part names") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(tupleElement(tuple('a', 42), 2)) AS te,
        |  tupleElement(tuple('a', 42), 'col1') AS ten,
        |  arrayStringConcat(splitByRegexp('[;|]', 'a;b|c'), '/') AS sp,
        |  toInt64(ifNotFinite(divide(1, 0), -7)) AS inf1,
        |  toInt64(ifNotFinite(divide(6, 3), -7)) AS fin,
        |  toInt64(arrayReduce('sum', array(1, 2, 3))) AS rs,
        |  toInt64(arrayReduce('uniqExact', array(1, 2, 2))) AS ru,
        |  arrayEnumerateUniq(array('a', 'b', 'a', 'a')) AS eu,
        |  arrayStringConcat(mapKeys(map('k1', 1, 'k2', 2)), ',') AS mk,
        |  toInt64(arrayReduce('sum', mapValues(map('k1', 1, 'k2', 2)))) AS mv,
        |  mapContains(map('k1', 1), 'k1') AS mc,
        |  dateName('month', toDate('2024-03-05')) AS mn,
        |  dateName('weekday', toDate('2024-01-01')) AS wd,
        |  toYYYYMMDDhhmmss(toDateTime('2024-03-05 12:34:56')) AS ts""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 42L && r.getString(1) == "a", r)
    assert(r.getString(2) == "a/b/c", r)
    assert(r.getLong(3) == -7L && r.getLong(4) == 2L, r)
    assert(r.getLong(5) == 6L && r.getLong(6) == 2L, r)
    assert(r.getSeq[Int](7) == Seq(1, 1, 2, 3), r)
    assert(r.getString(8) == "k1,k2" && r.getLong(9) == 3L, r)
    assert(r.getBoolean(10), r)
    assert(r.getString(11) == "March" && r.getString(12) == "Monday", r)
    assert(r.getLong(13) == 20240305123456L, r)
    val e = intercept[IllegalArgumentException](ClickHouseSql.sql(spark,
      "SELECT arrayReduce('median', array(1))"))
    assert(e.getMessage.contains("unsupported aggregate"), e.getMessage)
  }

  test("execution: lagInFrame/leadInFrame ride stock lag/lead over a covering frame") {
    fixture()
    val rows = ClickHouseSql.sql(spark,
      """SELECT k, v,
        |  toInt64(lagInFrame(v, 1, toInt64(-1)) OVER (PARTITION BY k ORDER BY v)) AS lg,
        |  toInt64(leadInFrame(v, 1, toInt64(-1)) OVER (PARTITION BY k ORDER BY v)) AS ld
        |FROM chf ORDER BY k, v""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(
      (1L, 10L, -1L, 20L), (1L, 20L, 10L, 30L), (1L, 30L, 20L, -1L),
      (2L, 5L, -1L, 50L), (2L, 50L, 5L, -1L)), rows)
  }

  test("execution: URL tail (topLevelDomain/port), percent-coding space rules, tokens, bit/string aliases, sub-hour buckets") {
    val r = ClickHouseSql.sql(spark,
      """SELECT topLevelDomain('https://a.b.co:99/x') AS tld,
        |  topLevelDomain('https://localhost/x') AS tld0,
        |  toInt64(port('https://h.com:8443/x')) AS p1,
        |  toInt64(port('https://h.com/x')) AS p0,
        |  toInt64(port('https://h.com/x', 443)) AS pd,
        |  encodeURLComponent('a b&c') AS enc,
        |  decodeURLComponent('a%20b+c') AS dec,
        |  arrayStringConcat(tokens('foo, bar!! baz42'), '/') AS tk,
        |  toInt64(bitCount(7)) AS bc,
        |  toInt64(bitTest(5, 0)) AS bt1,
        |  toInt64(bitTest(5, 1)) AS bt0,
        |  leftUTF8('hello', 2) AS l2,
        |  rightUTF8('hello', 2) AS r2,
        |  substringIndex('a.b.c', '.', 2) AS si,
        |  sigmoid(0) AS sg,
        |  toString(toStartOfFiveMinutes(toDateTime('2024-01-01 12:07:31'))) AS m5,
        |  toString(toStartOfFifteenMinutes(toDateTime('2024-01-01 12:16:00'))) AS m15""".stripMargin)
      .collect().head
    assert(r.getString(0) == "co" && r.getString(1) == "", r)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((8443L, 0L, 443L)), r)
    // space → %20 (not '+'); a literal '+' survives decode.
    assert(r.getString(5) == "a%20b%26c", r)
    assert(r.getString(6) == "a b+c", r)
    assert(r.getString(7) == "foo/bar/baz42", r)
    assert((r.getLong(8), r.getLong(9), r.getLong(10)) == ((3L, 1L, 0L)), r)
    assert(r.getString(11) == "he" && r.getString(12) == "lo", r)
    assert(r.getString(13) == "a.b", r)
    assert(r.getDouble(14) == 0.5d, r)
    assert(r.getString(15) == "2024-01-01 12:05:00", r)
    assert(r.getString(16) == "2024-01-01 12:15:00", r)
  }

  test("execution: quantileExactLow/High element conventions, medianExactWeighted, entropy in bits, countMatches, splitByWhitespace, median* approx aliases") {
    Seq(10L, 20L, 30L, 40L).toDF("v").createOrReplaceTempView("chq")
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(quantileExactLow(0.5)(v)) AS lo,
        |  toInt64(quantileExactHigh(0.5)(v)) AS hi,
        |  toInt64(quantileExact(0.5)(v)) AS ex,
        |  toInt64(quantileExactLow(0)(v)) AS lo0,
        |  toInt64(quantileExactHigh(1)(v)) AS hi1,
        |  toInt64(quantileExactLow(0.25)(v)) AS lo25,
        |  toInt64(quantileExactHigh(0.25)(v)) AS hi25,
        |  medianTiming(v) - approx_percentile(v, 0.5) AS mt0
        |FROM chq""".stripMargin).collect().head
    // median_low of [10,20,30,40] is 20, median_high 30 — but ONLY at
    // level 0.5; every other level is the element at floor(level*n) for
    // Low and High alike (ClickHouse's documented rule): 0.25 over 4
    // elements is index 1 → 20 for BOTH. quantileExact's own
    // floor(level*n) rule gives the THIRD element at 0.5.
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((20L, 30L, 30L)), r)
    assert(r.getLong(3) == 10L && r.getLong(4) == 40L, r)
    assert(r.getLong(5) == 20L && r.getLong(6) == 20L, r)
    assert(r.getDouble(7) == 0.0d, r)
    val r2 = ClickHouseSql.sql(spark,
      """SELECT toInt64(medianExactWeighted(x, w)) AS mw,
        |  toInt64(quantileExactWeighted(0.5)(x, w)) AS qw,
        |  toInt64(floor(entropy(e) * 1000 + 0.5)) AS ent,
        |  toInt64(countMatches('aa bee ii o', '[aeiou]{2}')) AS cm,
        |  arrayStringConcat(splitByWhitespace('  a  bb c '), '/') AS ws,
        |  regexpExtract('k1=v1;k2=v2', 'k2=([a-z0-9]+)', 1) AS re
        |FROM (SELECT explode(array(1, 2, 3)) AS x, 1 AS w, 0 AS e
        |      UNION ALL SELECT 9, 1, 0 UNION ALL SELECT 9, 1, 1
        |      UNION ALL SELECT 9, 1, 2)""".stripMargin).collect().head
    // weighted median of {1,2,3,9,9,9} all w=1 -> cum 3 of 6 at value 3.
    assert(r2.getLong(0) == 3L && r2.getLong(1) == 3L, r2)
    // counts {0:4? no — e column: 0,0,0 from explode + 0,1,2} = {0:4,1:1,2:1}
    // H = log2(6) - (4*log2(4))/6 = 2.58496 - 1.33333 = 1.25163 bits.
    assert(r2.getLong(2) == 1252L, r2)
    assert(r2.getLong(3) == 3L, r2)
    assert(r2.getString(4) == "a/bb/c", r2)
    assert(r2.getString(5) == "v2", r2)
  }

  test("differential: quantileExactLow/High agree with ClickHouse's documented index rules on 300 random groups × 5 levels") {
    // Brute force: ClickHouse's documented rules — the median_low /
    // median_high special case ONLY at level 0.5 (sorted 0-based index
    // (n-1)/2 resp. n/2), and the element at 0-based floor(level*n)
    // (clamped to n-1) for every OTHER level, identical for Low and
    // High. Random group sizes 1..12 exercise the single-element and
    // clamping corners.
    val rnd = new scala.util.Random(20260819L)
    val rows = (0 until 300).flatMap { g =>
      (0 until (1 + rnd.nextInt(12))).map(_ => (g.toLong, rnd.nextInt(50).toLong))
    }
    rows.toDF("g", "x").createOrReplaceTempView("chql")
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    Seq(0.0, 0.25, 0.3, 0.5, 1.0).foreach { level =>
      val got = ClickHouseSql.sql(spark,
        s"""SELECT g, quantileExactLow($level)(x) AS lo,
           |  quantileExactHigh($level)(x) AS hi
           |FROM chql GROUP BY g""".stripMargin)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      byG.foreach { case (g, sorted) =>
        val n = sorted.length
        val want =
          if (level == 0.5) (sorted((n - 1) / 2), sorted(n / 2))
          else {
            val idx = math.min(math.floor(level * n).toInt, n - 1)
            (sorted(idx), sorted(idx))
          }
        assert(got(g) == want, (g, level, sorted, got(g), want))
      }
    }
  }

  test("execution: epoch/decimal conversions, accurateCastOrNull, arrayFold, dense/non-negative enumerations") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toUnixTimestamp64Milli(toDateTime('2024-01-01 00:00:01')) AS ms,
        |  toUnixTimestamp64Micro(toDateTime('2024-01-01 00:00:01')) AS us,
        |  toString(fromUnixTimestamp(1704067201)) AS ts1,
        |  toString(fromUnixTimestamp64Milli(1704067201500)) AS ts2,
        |  toString(toDecimal64(1.005, 2)) AS dec2,
        |  toInt64(accurateCastOrNull('42', 'Int64')) AS ok_cast,
        |  accurateCastOrNull(1e20, 'Int64') AS overflow,
        |  accurateCastOrNull('zz', 'Int64') AS junk,
        |  accurateCastOrNull(-1, 'UInt64') AS neg_u64,
        |  accurateCastOrNull(-1, 'UInt32') AS neg_u32,
        |  accurateCastOrNull(5000000000, 'UInt32') AS big_u32,
        |  toInt64(accurateCastOrNull(4294967295, 'UInt32')) AS max_u32,
        |  toString(accurateCastOrNull('18446744073709551615', 'UInt64')) AS max_u64,
        |  toInt64(countSubstringsCaseInsensitive('AbaBA', 'ab')) AS csci,
        |  toInt64(arrayFold((acc, x) -> acc * 10 + x, array(1, 2, 3), toInt64(0))) AS fold,
        |  arrayEnumerateDense(array(10, 20, 10, 30)) AS dense,
        |  arrayCumSumNonNegative(array(3, -5, 4, -1)) AS nn""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 1704067201000L && r.getLong(1) == 1704067201000000L, r)
    assert(r.getString(2) == "2024-01-01 00:00:01", r)
    assert(r.getString(3) == "2024-01-01 00:00:01.5", r)
    assert(r.getString(4) == "1.01", r) // HALF_UP at decimal cast
    assert(r.getLong(5) == 42L, r)
    assert(r.isNullAt(6) && r.isNullAt(7), r)
    // UInt targets: NULL outside the unsigned range (ClickHouse's
    // does-not-fit rule), the exact bounds included.
    assert(r.isNullAt(8) && r.isNullAt(9) && r.isNullAt(10), r)
    assert(r.getLong(11) == 4294967295L, r)
    assert(r.getString(12) == "18446744073709551615", r)
    assert(r.getLong(13) == 2L, r) // 'ababa' -> ab, ab (non-overlapping)
    assert(r.getLong(14) == 123L, r) // left-to-right digits
    assert(r.getSeq[Int](15) == Seq(1, 2, 1, 3), r)
    assert(r.getSeq[Long](16) == Seq(3L, 0L, 4L, 3L), r) // clamp at 0
  }

  test("execution: groupArrayIntersect folds cross-row; rotations are modular; half-hour/second/millisecond accessors") {
    Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(2L, 3L, 4L)), (3L, Seq(3L, 2L, 9L)))
      .toDF("g", "arr").createOrReplaceTempView("chgi")
    val gi = ClickHouseSql.sql(spark,
      "SELECT arraySort(groupArrayIntersect(arr)) AS i FROM chgi")
      .collect().head.getSeq[Long](0)
    assert(gi == Seq(2L, 3L), gi)
    val r = ClickHouseSql.sql(spark,
      """SELECT arrayRotateLeft(array(1, 2, 3, 4), 1) AS rl,
        |  arrayRotateLeft(array(1, 2, 3, 4), -1) AS rln,
        |  arrayRotateLeft(array(1, 2, 3, 4), 6) AS rl6,
        |  arrayRotateRight(array(1, 2, 3, 4), 1) AS rr,
        |  toString(timeSlot(toDateTime('2024-01-01 12:47:31'))) AS slot,
        |  toString(toStartOfSecond(toDateTime('2024-01-01 12:47:31'))) AS sec,
        |  toInt64(toMillisecond(fromUnixTimestamp64Milli(1704067201250))) AS ms""".stripMargin)
      .collect().head
    assert(r.getSeq[Int](0) == Seq(2, 3, 4, 1), r)
    assert(r.getSeq[Int](1) == Seq(4, 1, 2, 3), r)
    assert(r.getSeq[Int](2) == Seq(3, 4, 1, 2), r)
    assert(r.getSeq[Int](3) == Seq(4, 1, 2, 3), r)
    assert(r.getString(4) == "2024-01-01 12:30:00", r)
    assert(r.getString(5) == "2024-01-01 12:47:31", r)
    assert(r.getLong(6) == 250L, r)
  }

  test("execution: vector distances fold exactly over zipped arrays") {
    val r = ClickHouseSql.sql(spark,
      """SELECT arrayDotProduct(array(1, 2, 3), array(4, 5, 6)) AS dot,
        |  L1Distance(array(1, 2, 3), array(4, 5, 6)) AS l1,
        |  L2SquaredDistance(array(1, 2, 3), array(4, 5, 6)) AS l2s,
        |  L2Distance(array(0, 3), array(4, 0)) AS l2,
        |  LinfDistance(array(1, 2, 3), array(4, 5, 9)) AS linf,
        |  cosineDistance(array(1, 0), array(0, 1)) AS cosq,
        |  cosineDistance(array(2, 0), array(5, 0)) AS cos0,
        |  arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4)) AS jac""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 32.0d, r)
    assert(r.getDouble(1) == 9.0d && r.getDouble(2) == 27.0d, r)
    assert(r.getDouble(3) == 5.0d, r) // the 3-4-5 triangle
    assert(r.getDouble(4) == 6.0d, r)
    assert(r.getDouble(5) == 1.0d, r) // orthogonal
    assert(math.abs(r.getDouble(6)) < 1e-12, r) // parallel
    assert(r.getDouble(7) == 0.5d, r) // |{2,3}| / |{1,2,3,4}|
  }

  test("execution: camelCase stats aliases agree with their snake_case stock forms") {
    Seq(1.0, 2.0, 4.0, 8.0).toDF("v").createOrReplaceTempView("chs")
    val r = ClickHouseSql.sql(spark,
      """SELECT stddevPop(v) - stddev_pop(v) AS a,
        |  stddevSamp(v) - stddev_samp(v) AS b,
        |  varPop(v) - var_pop(v) AS c,
        |  varSamp(v) - var_samp(v) AS d,
        |  covarPop(v, v * 2) - covar_pop(v, v * 2) AS e,
        |  covarSamp(v, v * 2) - covar_samp(v, v * 2) AS f,
        |  skewPop(v) - skewness(v) AS g,
        |  simpleLinearRegression(v, v * 3 + 1).k AS k,
        |  simpleLinearRegression(v, v * 3 + 1).b AS b2
        |FROM chs""".stripMargin).collect().head
    (0 to 6).foreach(i => assert(r.getDouble(i) == 0.0d, (i, r)))
    assert(math.abs(r.getDouble(7) - 3.0d) < 1e-9, r)
    assert(math.abs(r.getDouble(8) - 1.0d) < 1e-9, r)
  }

  // ---- r12: the to*OrNull/OrZero/OrDefault conversion family ----

  test("execution: conversion family is strict the way ClickHouse's readers are") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt32OrNull('123') AS ok,
        |  toInt32OrNull(' 123') AS pad_l,
        |  toInt32OrNull('123 ') AS pad_r,
        |  toInt32OrNull('1.5') AS frac,
        |  toInt32OrNull('123abc') AS partial,
        |  toInt32OrNull('') AS empty,
        |  toInt32OrNull('+7') AS plus,
        |  toInt32OrNull('-2147483648') AS int_min,
        |  toInt32OrNull('2147483648') AS int_over,
        |  toInt8OrNull('127') AS i8_max,
        |  toInt8OrNull('128') AS i8_over,
        |  toUInt8OrNull('255') AS u8_max,
        |  toUInt8OrNull('256') AS u8_over,
        |  toUInt16OrNull('65535') AS u16_max,
        |  toUInt16OrNull('65536') AS u16_over,
        |  toUInt64OrNull('18446744073709551615') AS u64_max,
        |  toUInt64OrNull('18446744073709551616') AS u64_over,
        |  toInt64OrZero('junk') AS zero64,
        |  toInt64OrDefault('junk') AS def0,
        |  toInt64OrDefault('junk', -9) AS def9,
        |  toInt64OrDefault('11', -9) AS def_ok
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getInt(0) == 123 && r.getInt(6) == 7, r)
    Seq(1, 2, 3, 4, 5, 8, 10, 12, 14, 16).foreach(i => assert(r.isNullAt(i), (i, r)))
    assert(r.getInt(7) == Int.MinValue, r)
    assert(r.getByte(9) == 127.toByte, r)
    assert(r.getShort(11) == 255.toShort, r)
    assert(r.getInt(13) == 65535, r)
    assert(r.getDecimal(15).toString == "18446744073709551615", r)
    assert(r.getLong(17) == 0L && r.getLong(18) == 0L, r)
    assert(r.getLong(19) == -9L && r.getLong(20) == 11L, r)
  }

  test("execution: float conversions accept ClickHouse's inf/nan spellings; date/datetime defaults are the epoch") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toFloat64OrNull('INF') AS inf_uc,
        |  toFloat64OrNull('+infinity') AS inf_plus,
        |  toFloat32OrNull('-Inf') AS inf_neg,
        |  toFloat64OrNull('NaN') AS nan1,
        |  toFloat64OrNull('-nan') AS nan2,
        |  toFloat64OrNull('1e308') AS big,
        |  toFloat64OrNull(' 1.5') AS padded,
        |  toString(toDateOrNull('2024-02-29')) AS leap,
        |  toDateOrNull('2024-02-30') AS bad_day,
        |  toString(toDateOrZero('nope')) AS d_epoch,
        |  toString(toDateTimeOrZero('nope')) AS dt_epoch,
        |  toUnixTimestamp(toDateTimeOrNull('2024-01-01 00:00:01')) AS dt_ok
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getDouble(0).isPosInfinity && r.getDouble(1).isPosInfinity, r)
    assert(r.getFloat(2).isNegInfinity, r)
    assert(r.getDouble(3).isNaN && r.getDouble(4).isNaN, r)
    assert(r.getDouble(5) == 1e308, r)
    assert(r.isNullAt(6) && r.isNullAt(8), r)
    assert(r.getString(7) == "2024-02-29", r)
    assert(r.getString(9) == "1970-01-01", r)
    assert(r.getString(10) == "1970-01-01 00:00:00", r)
    assert(r.getLong(11) == 1704067201L, r)
  }

  // ---- r12: parseDateTime family ----

  test("execution: parseDateTime round-trips formatDateTime codes; best-effort subset parses; base forms throw") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toUnixTimestamp(parseDateTime('29/02/2024 13:45:06', '%d/%m/%Y %H:%i:%S')) AS p1,
        |  toUnixTimestamp(parseDateTime('2024-01-02', '%F')) AS p2,
        |  parseDateTimeOrNull('2024-13-02', '%F') AS bad_month,
        |  toUnixTimestamp(parseDateTimeOrZero('x', '%F')) AS z,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('2024-01-02T03:04:05Z')) AS iso_z,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('2024-01-02 03:04:05+02:00')) AS iso_off,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('2024/1/2 3:4:5')) AS slash,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('02.01.2024')) AS dotted,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('2 Jan 2024 03:04:05')) AS rfc,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('1704164645')) AS unix10,
        |  parseDateTimeBestEffortOrNull('not a date') AS miss,
        |  parseDateTimeBestEffortOrNull('123456') AS short_digits,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('20240102')) AS compact8,
        |  toUnixTimestamp(parseDateTimeBestEffortOrNull('20240102030405')) AS compact14,
        |  toUnixTimestamp(parseDateTimeBestEffortOrZero('junk')) AS be_zero
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getLong(0) == 1709214306L, r) // 2024-02-29 13:45:06 UTC
    assert(r.getLong(1) == 1704153600L, r)
    assert(r.isNullAt(2), r)
    assert(r.getLong(3) == 0L, r)
    assert(r.getLong(4) == 1704164645L, r)
    assert(r.getLong(5) == 1704164645L - 7200L, r) // +02:00 offset applied
    assert(r.getLong(6) == 1704164645L, r)
    assert(r.getLong(7) == 1704153600L, r)
    assert(r.getLong(8) == 1704164645L, r)
    assert(r.getLong(9) == 1704164645L, r)
    // Outside the documented subset: NULL, never a guess — a 6-digit
    // string is neither unix seconds nor a compact date (Spark's bare
    // cast would have read it as the year 123456).
    assert(r.isNullAt(10) && r.isNullAt(11), r)
    assert(r.getLong(12) == 1704153600L, r)
    assert(r.getLong(13) == 1704164645L, r)
    assert(r.getLong(14) == 0L, r)
    // The throwing base forms reproduce ClickHouse's error behavior.
    val e1 = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT parseDateTime('junk', '%F') AS x FROM range(1)").collect()
    }
    assert(e1.getMessage != null, e1)
    val e2 = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT parseDateTimeBestEffort('not a date') AS x FROM range(1)").collect()
    }
    assert(e2.getMessage.contains("unparseable datetime string"), e2)
    val e3 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT parseDateTime('2024-01-01', '%Q') AS x FROM range(1)")
    }
    assert(e3.getMessage.contains("unsupported code"), e3)
  }

  // ---- r12: bare position() textual rename ----

  test("rewrite: bare position() renames to the haystack-first builder; the IN form passes through") {
    val out = ClickHouseSqlRewrite("SELECT position(txt, 'ab') FROM t")
    assert(out.contains("graft_ch_position(txt, 'ab')"), out)
    val in = "SELECT position('ab' IN txt) FROM t"
    assert(ClickHouseSqlRewrite(in) == in)
    // No match inside wider names or string literals.
    val noop = "SELECT positionUTF8(a, b), array_position(xs, 1), 'position(' FROM t"
    assert(ClickHouseSqlRewrite(noop) == noop)
  }

  // ---- r12: IPv4 family ----

  test("execution: IPv4 family round-trips; bounds and invalid forms take their documented lanes") {
    val r = ClickHouseSql.sql(spark,
      """SELECT IPv4NumToString(3232235777) AS s1,
        |  IPv4NumToString(0) AS s0,
        |  IPv4NumToString(4294967295) AS smax,
        |  IPv4StringToNum('192.168.1.1') AS n1,
        |  IPv4StringToNum(IPv4NumToString(167772161)) AS rt,
        |  IPv4StringToNumOrNull('256.1.1.1') AS bad_octet,
        |  IPv4StringToNumOrNull('1.2.3') AS short3,
        |  IPv4StringToNumOrNull(' 1.2.3.4') AS padded,
        |  IPv4StringToNumOrDefault('junk') AS dflt,
        |  toIPv4OrNull('010.0.0.1') AS zeros,
        |  isIPv4String('8.8.8.8') AS ok,
        |  isIPv4String('8.8.8.256') AS no,
        |  IPv4CIDRToRange(3232235777, 24) AS r24,
        |  IPv4CIDRToRange(3232235777, 32) AS r32,
        |  IPv4CIDRToRange(3232235777, 0) AS r0
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getString(0) == "192.168.1.1" && r.getString(1) == "0.0.0.0", r)
    assert(r.getString(2) == "255.255.255.255", r)
    assert(r.getLong(3) == 3232235777L && r.getLong(4) == 167772161L, r)
    assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7), r)
    assert(r.getLong(8) == 0L, r)
    assert(r.getLong(9) == 167772161L, r) // leading zeros accepted
    assert(r.getBoolean(10) && !r.getBoolean(11), r)
    val r24 = r.getStruct(12)
    assert(r24.getLong(0) == 3232235776L && r24.getLong(1) == 3232236031L, r24)
    val r32 = r.getStruct(13)
    assert(r32.getLong(0) == 3232235777L && r32.getLong(1) == 3232235777L, r32)
    val r0 = r.getStruct(14)
    assert(r0.getLong(0) == 0L && r0.getLong(1) == 4294967295L, r0)
    val e = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT IPv4StringToNum('nope') AS x FROM range(1)").collect()
    }
    assert(e.getMessage.contains("invalid IPv4 address"), e)
    // IPv6 graduated from a named error to a real mapping in r14 — the
    // family's own lanes live in the r14 IPv6 test + sql_ch_ip6.
    val v6 = ClickHouseSql.sql(spark,
      "SELECT IPv6NumToString(IPv6StringToNum('::1')) AS x FROM range(1)").head()
    assert(v6.getString(0) == "::1", v6)
  }

  // ---- r12: string distances and vector norms ----

  test("execution: string distances — levenshtein, hamming with length penalty, code-point jaccard") {
    val r = ClickHouseSql.sql(spark,
      """SELECT editDistance('kitten', 'sitting') AS lev,
        |  editDistanceUTF8('héllo', 'hello') AS lev_u,
        |  levenshteinDistance('abc', 'abc') AS lev0,
        |  byteHammingDistance('karolin', 'kathrin') AS ham,
        |  byteHammingDistance('abc', 'ab') AS ham_len,
        |  byteHammingDistance('', 'xy') AS ham_empty,
        |  stringJaccardIndex('abc', 'bcd') AS jac,
        |  stringJaccardIndex('', '') AS jac_empty,
        |  stringJaccardIndex('aab', 'ab') AS jac_dup
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L && r.getLong(2) == 0L, r)
    assert(r.getLong(3) == 3L, r)
    assert(r.getLong(4) == 1L, r) // the missing position counts
    assert(r.getLong(5) == 2L, r)
    assert(r.getDouble(6) == 0.5d, r) // {b,c} over {a,b,c,d}
    assert(r.getDouble(7) == 1.0d, r) // the stated both-empty convention
    assert(r.getDouble(8) == 1.0d, r) // sets, not bags
  }

  test("execution: vector norms and normalizers on the shared fold kernel") {
    val r = ClickHouseSql.sql(spark,
      """SELECT L1Norm(array(1, -2, 3)) AS l1,
        |  L2Norm(array(3, 4)) AS l2,
        |  L2SquaredNorm(array(3, 4)) AS l2s,
        |  LinfNorm(array(1, -7, 2)) AS linf,
        |  L2Normalize(array(3, 4)) AS unit,
        |  L1Normalize(array(2, 2)) AS l1n,
        |  LinfNormalize(array(-4, 2)) AS linfn,
        |  L2Normalize(array(0, 0)) AS zero
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getDouble(0) == 6.0d && r.getDouble(1) == 5.0d, r)
    assert(r.getDouble(2) == 25.0d && r.getDouble(3) == 7.0d, r)
    assert(r.getSeq[Double](4) == Seq(0.6d, 0.8d), r)
    assert(r.getSeq[Double](5) == Seq(0.5d, 0.5d), r)
    assert(r.getSeq[Double](6) == Seq(-1.0d, 0.5d), r)
    assert(r.getSeq[Double](7).forall(_.isNaN), r) // 0/0, as documented
  }

  // ---- r12: raw-JSON family over the variant kernel ----

  test("execution: JSONHas/JSONLength/JSONExtractRaw/ArrayRaw/Keys with ClickHouse defaults") {
    val r = ClickHouseSql.sql(spark,
      """SELECT JSONHas('{"a":{"b":[1,2]}}', 'a', 'b') AS has_ab,
        |  JSONHas('{"a":null}', 'a') AS has_null,
        |  JSONHas('{"a":1}', 'z') AS has_no,
        |  JSONHas('{"a":[10,20]}', 'a', 2) AS has_idx,
        |  JSONHas('{"a":[10,20]}', 'a', 3) AS has_idx_no,
        |  JSONLength('{"a":[1,2,3]}', 'a') AS len_arr,
        |  JSONLength('{"a":1,"b":2}') AS len_obj,
        |  JSONLength('{"a":"str"}', 'a') AS len_scalar,
        |  JSONLength('{"a":1}', 'z') AS len_missing,
        |  JSONExtractRaw('{"a":"x"}', 'a') AS raw_str,
        |  JSONExtractRaw('{"a":[1,2]}', 'a') AS raw_arr,
        |  JSONExtractRaw('{"a":null}', 'a') AS raw_null,
        |  JSONExtractRaw('{"a":1}', 'z') AS raw_missing,
        |  JSONExtractRaw('{"b":1,"a":2}') AS raw_sorted,
        |  JSONExtractArrayRaw('{"a":[1,"x",null]}', 'a') AS arr_raw,
        |  JSONExtractArrayRaw('{"a":5}', 'a') AS arr_not,
        |  JSONExtractKeys('{"b":1,"a":{"z":0,"y":1}}') AS keys_doc,
        |  JSONExtractKeys('{"b":1,"a":{"z":0,"y":1}}', 'a') AS keys_sub,
        |  JSONExtractKeys('{"a":[1]}', 'a') AS keys_arr
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getBoolean(0), r)
    assert(r.getBoolean(1), r) // a JSON null value still EXISTS
    assert(!r.getBoolean(2), r)
    assert(r.getBoolean(3) && !r.getBoolean(4), r)
    assert(r.getLong(5) == 3L && r.getLong(6) == 2L, r)
    assert(r.getLong(7) == 0L && r.getLong(8) == 0L, r)
    assert(r.getString(9) == "\"x\"", r) // strings stay QUOTED
    assert(r.getString(10) == "[1,2]", r)
    assert(r.getString(11) == "null", r)
    assert(r.getString(12) == "", r) // ClickHouse's '' default
    assert(r.getString(13) == """{"a":2,"b":1}""", r) // variant sorts keys
    assert(r.getSeq[String](14) == Seq("1", "\"x\"", "null"), r)
    assert(r.getSeq[String](15) == Seq.empty, r)
    assert(r.getSeq[String](16) == Seq("b", "a"), r) // DOCUMENT order
    assert(r.getSeq[String](17) == Seq("z", "y"), r)
    assert(r.getSeq[String](18) == Seq.empty, r)
  }

  test("execution: bar renders eighth-resolution blocks; alphaTokens/arrayShingles; deltaSum folds in order") {
    val r = ClickHouseSql.sql(spark,
      """SELECT bar(5, 0, 10, 4) AS half,
        |  bar(10, 0, 10, 4) AS fullb,
        |  bar(0, 0, 10, 4) AS none,
        |  bar(-3, 0, 10, 4) AS clamp_lo,
        |  bar(1, 0, 16, 4) AS quarter_char,
        |  lengthUTF8(bar(80, 0, 100, 80)) AS len80pct,
        |  alphaTokens('ab12cd--EF') AS toks,
        |  alphaTokens('123') AS toks_none,
        |  arrayShingles(array(1, 2, 3, 4), 2) AS sh2,
        |  arrayShingles(array(1, 2), 2) AS sh_all
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getString(0) == "██", r)
    assert(r.getString(1) == "████", r)
    assert(r.getString(2) == "", r)
    assert(r.getString(3) == "", r)
    assert(r.getString(4) == "▎", r) // 0.25 chars -> the 2/8 block
    assert(r.getInt(5) == 64, r)
    assert(r.getSeq[String](6) == Seq("ab", "cd", "EF"), r)
    assert(r.getSeq[String](7) == Seq.empty, r)
    assert(r.getSeq[Seq[Int]](8) == Seq(Seq(1, 2), Seq(2, 3), Seq(3, 4)), r)
    assert(r.getSeq[Seq[Int]](9) == Seq(Seq(1, 2)), r)
    val e = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT arrayShingles(array(1, 2), 3) AS x FROM range(1)").collect()
    }
    assert(e.getMessage.contains("shingle size"), e)
    // deltaSum over a one-partition ordered relation (the documented
    // order-dependence posture, shared with groupArray).
    val d = ClickHouseSql.sql(spark,
      """SELECT deltaSum(v) AS ds
        |FROM (SELECT id, CAST(element_at(array(1, 3, 2, 7, 7, 6, 9), CAST(id + 1 AS INT)) AS DOUBLE) AS v
        |      FROM range(0, 7, 1, 1) ORDER BY id)""".stripMargin)
      .collect().head
    // +2 (1->3), +5 (2->7), +3 (6->9) = 10
    assert(d.getDouble(0) == 10.0d, d)
  }

  test("execution: groupArrayMovingSum/Avg window and all-rows forms (ClickHouse's divide-by-window rule)") {
    val r = ClickHouseSql.sql(spark,
      """SELECT groupArrayMovingSum(3)(v) AS ms3,
        |  groupArrayMovingAvg(2)(v) AS ma2,
        |  groupArrayMovingSum(v) AS cum,
        |  groupArrayMovingAvg(v) AS cavg
        |FROM (SELECT id, CAST(element_at(array(1, 2, 3, 4, 5), CAST(id + 1 AS INT)) AS DOUBLE) AS v
        |      FROM range(0, 5, 1, 1) ORDER BY id)""".stripMargin)
      .collect().head
    assert(r.getSeq[Double](0) == Seq(1.0, 3.0, 6.0, 9.0, 12.0), r)
    // Leading partial window still divides by the WINDOW size (2).
    assert(r.getSeq[Double](1) == Seq(0.5, 1.5, 2.5, 3.5, 4.5), r)
    assert(r.getSeq[Double](2) == Seq(1.0, 3.0, 6.0, 10.0, 15.0), r)
    // All-rows avg divides by the TOTAL count (5).
    assert(r.getSeq[Double](3) == Seq(0.2, 0.6, 1.2, 2.0, 3.0), r)
    val e = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT groupArrayMovingSum(0)(x) AS m FROM (SELECT 1.0 AS x)").collect()
    }
    assert(e.getMessage.contains("window must be >= 1"), e)
  }

  // ---- r12: star column transformers ----

  test("rewrite+execution: * EXCEPT/REPLACE/APPLY expand against the registered schema") {
    Seq((1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"))
      .toDF("id", "v", "tag").createOrReplaceTempView("star_t")
    // Paren-less EXCEPT (schema expansion).
    val a = ClickHouseSql.sql(spark,
      "SELECT * EXCEPT v FROM star_t ORDER BY id")
    assert(a.columns.toSeq == Seq("id", "tag"), a.columns.toSeq)
    // Parenthesized EXCEPT alone passes through to Spark's native form.
    val aN = ClickHouseSqlRewrite("SELECT * EXCEPT (v) FROM star_t")
    assert(aN == "SELECT * EXCEPT (v) FROM star_t", aN)
    // REPLACE keeps the column's position and name.
    val b = ClickHouseSql.sql(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM star_t ORDER BY id")
    assert(b.columns.toSeq == Seq("id", "v", "tag"), b.columns.toSeq)
    assert(b.collect().map(_.getDouble(1)).toSeq == Seq(20.0, 40.0, 60.0))
    // APPLY names results func(col), over the EXCEPT-filtered list.
    val c = ClickHouseSql.sql(spark,
      "SELECT * EXCEPT (tag) APPLY max FROM star_t")
    assert(c.columns.toSeq == Seq("max(id)", "max(v)"), c.columns.toSeq)
    assert(c.collect().head.getInt(0) == 3)
    // Chained: REPLACE then APPLY composes left to right.
    val d = ClickHouseSql.sql(spark,
      "SELECT * EXCEPT (id, tag) REPLACE (v + 1 AS v) APPLY (sum) FROM star_t")
    assert(d.columns.toSeq == Seq("sum(v)"), d.columns.toSeq)
    assert(d.collect().head.getDouble(0) == 63.0)
    // Lenient EXCEPT ignores an absent column; STRICT raises.
    val e0 = ClickHouseSql.sql(spark,
      "SELECT * EXCEPT (nope, v) APPLY count FROM star_t")
    assert(e0.columns.toSeq == Seq("count(id)", "count(tag)"), e0.columns.toSeq)
    val e1 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT * EXCEPT STRICT (nope) FROM star_t")
    }
    assert(e1.getMessage.contains("EXCEPT STRICT"), e1)
    // Named errors: join spans, subqueries, lambdas, unknown tables.
    val e2 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT * APPLY max FROM star_t JOIN star_t s2 ON star_t.id = s2.id")
    }
    assert(e2.getMessage.contains("JOIN"), e2)
    val e3 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT * APPLY max FROM (SELECT 1 AS x)")
    }
    assert(e3.getMessage.contains("REGISTERED table"), e3)
    val e4 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT * APPLY (x -> x + 1) FROM star_t")
    }
    assert(e4.getMessage.contains("bare function name"), e4)
    // A qualified star passes through untouched.
    val q = "SELECT t.* EXCEPT (v) FROM star_t t"
    assert(ClickHouseSqlRewrite(q) == q)
    // r14: a comment directly before the star is AIR, not an operand —
    // the transformer still expands (the masked-whitespace heuristic
    // used to stop on it and drop the statement to a parse error)…
    val cm = ClickHouseSql.sql(spark,
      "SELECT /* note */ * EXCEPT v FROM star_t ORDER BY id")
    assert(cm.columns.toSeq == Seq("id", "tag"), cm.columns.toSeq)
    val cm2 = ClickHouseSql.sql(spark,
      "SELECT -- note\n * EXCEPT (v) APPLY count FROM star_t")
    assert(cm2.columns.toSeq == Seq("count(id)", "count(tag)"), cm2.columns.toSeq)
    // (The quoted-left-operand multiplication guard keeps its own test:
    // "star transformers do not engage on multiplication…")
  }

  test("execution: geohash encode/decode match the published vectors and round-trip") {
    val r = ClickHouseSql.sql(spark,
      """SELECT geohashEncode(-5.60302734375, 42.60498046875, 5) AS ez,
        |  geohashEncode(13.361389, 38.115556, 8) AS palermo,
        |  geohashEncode(10.40744, 57.64911, 11) AS jutland,
        |  geohashEncode(0.0, 0.0, 12) AS origin,
        |  tupleElement(geohashDecode('ezs42'), 1) AS ez_lon,
        |  tupleElement(geohashDecode('ezs42'), 2) AS ez_lat,
        |  tupleElement(geohashDecode('u4pruydqqvj'), 1) AS ju_lon,
        |  tupleElement(geohashDecode('u4pruydqqvj'), 2) AS ju_lat
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getString(0) == "ezs42", r)
    assert(r.getString(1) == "sqc8b49r", r)
    assert(r.getString(2) == "u4pruydqqvj", r)
    assert(r.getString(3) == "s00000000000", r)
    // Exact binary midpoints — bit-equal, no tolerance needed.
    assert(r.getDouble(4) == -5.60302734375d, r)
    assert(r.getDouble(5) == 42.60498046875d, r)
    assert(math.abs(r.getDouble(6) - 10.40744) < 1e-5, r)
    assert(math.abs(r.getDouble(7) - 57.64911) < 1e-5, r)
    val e = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT geohashDecode('ab!') AS x FROM range(1)").collect()
    }
    assert(e.getMessage.contains("invalid geohash"), e)
    val e2 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT geohashEncode(0.0, 0.0, 13) AS x FROM range(1)")
    }
    assert(e2.getMessage.contains("1..12"), e2)
  }

  test("execution: arrayAUC matches hand values and the pair-counting identity on random arrays") {
    val r = ClickHouseSql.sql(spark,
      """SELECT arrayAUC(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)) AS classic,
        |  arrayAUC(array(1.0, 1.0, 2.0), array(1, 0, 1)) AS tied,
        |  arrayAUC(array(1.0, 2.0), array(1, 1)) AS one_class,
        |  regexpQuoteMeta('a.b|c(d)-e') AS quoted,
        |  formatReadableDecimalSize(1500000) AS dsz,
        |  formatReadableDecimalSize(999) AS dsz_b
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getDouble(0) == 0.75d, r)
    assert(r.getDouble(1) == 0.75d, r) // the tie takes half credit
    assert(r.getDouble(2).isNaN, r)
    assert(r.getString(3) == "a\\.b\\|c\\(d\\)\\-e", r)
    assert(r.getString(4) == "1.50 MB" && r.getString(5) == "999.00 B", r)
    val al = ClickHouseSql.sql(spark,
      """SELECT arrayROCAUC(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)) AS a,
        |  timeDiff(toDateTime('2024-01-01 00:00:00'), toDateTime('2024-01-01 00:02:05')) AS td
        |FROM range(1)""".stripMargin).collect().head
    assert(al.getDouble(0) == 0.75d, al) // the 23.x rename, same kernel
    assert(al.getLong(1) == 125L, al)
    // sparkbar is MAPPED since r13 — a malformed arity still raises the
    // usage string, not a generic undefined-function error.
    val sb = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "SELECT sparkbar(9, 1)(id, id) FROM range(1)")
    }
    assert(sb.getMessage.contains("sparkbar(n[, min_x, max_x])(x, y)"), sb)
    // Differential: the rank formula == brute-force pair counting with
    // half-credit ties, on 40 random score/label arrays.
    val rnd = new scala.util.Random(12)
    (1 to 40).foreach { _ =>
      val n = 2 + rnd.nextInt(8)
      val scores = Seq.fill(n)((rnd.nextInt(5) + 1).toDouble / 2)
      val labels = Seq.fill(n)(rnd.nextInt(2))
      val p = labels.count(_ == 1)
      if (p > 0 && p < n) {
        val pairs = for {
          (sp, lp) <- scores.zip(labels) if lp == 1
          (sn, ln) <- scores.zip(labels) if ln == 0
        } yield if (sp > sn) 1.0 else if (sp == sn) 0.5 else 0.0
        val want = pairs.sum / (p.toDouble * (n - p))
        val got = ClickHouseSql.sql(spark,
          s"SELECT arrayAUC(array(${scores.mkString(", ")}), " +
            s"array(${labels.mkString(", ")})) AS a").collect().head.getDouble(0)
        assert(math.abs(got - want) < 1e-12, (scores, labels, got, want))
      }
    }
  }

  test("named errors: t-tests, byteSize; malformed ngram/EMA arity raises usage") {
    // Registry-builder errors surface during ANALYSIS wrapped in Spark's
    // analysis exception — collect the whole cause chain's text.
    def err(sql: String): String = {
      val e = intercept[Exception] { ClickHouseSql.sql(spark, sql) }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    }
    assert(err("SELECT studentTTest(id, 1) FROM range(1)")
      .contains("t-distribution"))
    assert(err("SELECT welchTTest(id, 1) FROM range(1)").contains("Welch"))
    assert(err("SELECT mannWhitneyUTest(id, 1) FROM range(1)")
      .contains("rank"))
    assert(err("SELECT byteSize(id) FROM range(1)").contains("octet_length"))
    // The r13 named-error additions: public-suffix-list / unstated-
    // formula / unpinned-rendering dependents refuse with guidance.
    assert(err("SELECT firstSignificantSubdomain('https://a.b.c/') FROM range(1)")
      .contains("public-suffix"))
    assert(err("SELECT greatCircleDistance(0.0, 0.0, 1.0, 1.0) FROM range(1)")
      .contains("haversine"))
    // URLHierarchy/pointInPolygon graduated to mappings in r14 — their
    // lanes live in their own tests + sql_ch_url3 / sql_ch_pip.
    // ngram*/EMA are MAPPED since r13 — malformed arity still raises the
    // usage string, not Spark's generic undefined-function.
    assert(err("SELECT ngramDistance('ab') FROM range(1)")
      .contains("ngramDistance(haystack, needle)"))
    assert(err("SELECT exponentialMovingAverage(5)(id, id, id) FROM range(1)")
      .contains("exponentialMovingAverage(x)(v, t)"))
    assert(err("SELECT exponentialMovingAverage(id, id) FROM range(1)")
      .contains("exponentialMovingAverage(x)(v, t)"))
  }

  test("execution: ngramDistance/ngramSearch — documented 4-gram multiset algebra") {
    val r = ClickHouseSql.sql(spark,
      """SELECT ngramDistance('abcd', 'abcd') AS same,
        |  ngramDistance('abcde', 'abcdf') AS half,
        |  ngramDistance('ab', 'cd') AS both_empty,
        |  ngramDistance('ab', 'abcd') AS one_empty,
        |  ngramDistance('aaaaa', 'aaaa') AS multi,
        |  ngramDistance('ABCD', 'abcd') AS case_sens,
        |  ngramDistanceCaseInsensitive('ABCD', 'abcd') AS case_ci,
        |  ngramSearch('abcdef', 'bcde') AS hit,
        |  ngramSearch('abcdef', 'wxyz') AS miss,
        |  ngramSearch('abcdef', 'ab') AS tiny_needle
        |FROM range(1)""".stripMargin).head()
    assert(r.getDouble(0) == 0.0d, r)
    // {abcd,bcde} vs {abcd,bcdf}: common 1, tot 4 -> (4-2)/4 = 0.5
    assert(r.getDouble(1) == 0.5d, r)
    assert(r.getDouble(2) == 0.0d, r) // two gram-less strings
    assert(r.getDouble(3) == 1.0d, r) // gram-less vs grammed
    // MULTISET: {aaaa x2} vs {aaaa x1}: common 1, tot 3 -> 1/3
    assert(math.abs(r.getDouble(4) - 1.0 / 3) < 1e-15, r)
    assert(r.getDouble(5) == 1.0d, r)
    assert(r.getDouble(6) == 0.0d, r)
    assert(r.getDouble(7) == 1.0d, r)
    assert(r.getDouble(8) == 0.0d, r)
    assert(r.getDouble(9) == 0.0d, r) // gram-less needle, stated
    // Byte-vs-code-point boundary: 'ééé' is 6 UTF-8 bytes (3 byte
    // grams) but 3 code points (gram-less in the UTF8 variants).
    val u = ClickHouseSql.sql(spark,
      """SELECT ngramSearch('ééé', 'ééé') AS by_bytes,
        |  ngramSearchUTF8('ééé', 'ééé') AS by_cps,
        |  ngramDistanceUTF8('héllo', 'héllo') AS u_same,
        |  ngramDistanceCaseInsensitiveUTF8('HÉLLO', 'héllo') AS u_ci,
        |  ngramDistanceCaseInsensitive('HÉLLO', 'héllo') AS b_ci
        |FROM range(1)""".stripMargin).head()
    assert(u.getDouble(0) == 1.0d, u)
    assert(u.getDouble(1) == 0.0d, u)
    assert(u.getDouble(2) == 0.0d, u)
    assert(u.getDouble(3) == 0.0d, u) // Unicode lowering folds É
    assert(u.getDouble(4) > 0.0d, u)  // ASCII-only lowering does not
    // Differential: random ASCII pairs vs a plain-Scala multiset
    // reference of the documented formula (byte = char on ASCII).
    def refGrams(s: String): Seq[String] =
      if (s.length < 4) Seq.empty else (0 to s.length - 4).map(i => s.substring(i, i + 4))
    def refDist(a: String, b: String): Double = {
      val (ga, gb) = (refGrams(a), refGrams(b))
      val common = ga.distinct.map(g =>
        math.min(ga.count(_ == g), gb.count(_ == g))).sum
      (ga.size + gb.size - 2.0 * common) / math.max(ga.size + gb.size, 1)
    }
    def refSearch(a: String, b: String): Double = {
      val (ga, gb) = (refGrams(a), refGrams(b))
      val common = gb.distinct.map(g =>
        math.min(ga.count(_ == g), gb.count(_ == g))).sum
      common.toDouble / math.max(gb.size, 1)
    }
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(25) {
      def s() = Seq.fill(rnd.nextInt(12))(('a' + rnd.nextInt(3)).toChar).mkString
      (s(), s())
    }
    val got = ClickHouseSql.sql(spark,
      pairs.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS i, ngramDistance('$a', '$b') AS d, ngramSearch('$a', '$b') AS s"
      }.mkString(" UNION ALL ")).collect()
      .map(r0 => r0.getInt(0) -> ((r0.getDouble(1), r0.getDouble(2)))).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(got(i)._1 - refDist(a, b)) < 1e-12, (a, b, got(i)))
      assert(math.abs(got(i)._2 - refSearch(a, b)) < 1e-12, (a, b, got(i)))
    }
  }

  test("execution: exponentialMovingAverage — docs example pin + reference fold + NULL skip") {
    // ClickHouse's docs' worked example: v=1, t=1..10, x=1 -> 1 - 2^-n.
    val doc = ClickHouseSql.sql(spark,
      """SELECT exponentialMovingAverage(1)(1.0, id + 1) AS ema
        |FROM range(10)""".stripMargin).head().getDouble(0)
    assert(math.abs(doc - (1.0 - math.pow(2.0, -10))) < 1e-12, doc)
    // Plain-Scala reference of the closed form on irregular timestamps.
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(40)((rnd.nextInt(1000).toDouble, rnd.nextDouble() * 20 - 5))
    val x = 37.0
    val tmax = pts.map(_._1).max
    val want = (1.0 - math.pow(2.0, -1.0 / x)) *
      pts.map { case (t, v) => v * math.pow(2.0, -(tmax - t) / x) }.sum
    val rows = pts.map { case (t, v) => s"SELECT $t AS t, $v AS v" }
      .mkString(" UNION ALL ")
    val got = ClickHouseSql.sql(spark,
      s"SELECT exponentialMovingAverage($x)(v, t) AS ema FROM ($rows)")
      .head().getDouble(0)
    assert(math.abs(got - want) < 1e-9 * math.max(math.abs(want), 1.0), (got, want))
    // NULL pairs are skipped, and must not anchor the decay even when
    // the NULL-valued row carries the latest timestamp.
    val ns = ClickHouseSql.sql(spark,
      """SELECT exponentialMovingAverage(1)(v, t) AS ema FROM (
        |  SELECT 1.0 AS t, 1.0 AS v
        |  UNION ALL SELECT 2.0, 1.0
        |  UNION ALL SELECT 99.0, CAST(NULL AS DOUBLE))""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(ns - 0.75) < 1e-12, ns) // the 2-point docs value
  }

  test("execution: sparkbar — stated bucket/glyph contract") {
    // 4 buckets over [1, 8]: idx = floor((x-1)/7*4) clamped to 3.
    // x=1,2 -> 0; x=3 -> 1; x=5 -> 2; x=8 -> 3. Bucket sums 3, 1, 2, 4
    // -> levels ceil(s*8/4) = 6, 2, 4, 8.
    val r = ClickHouseSql.sql(spark,
      """SELECT sparkbar(4)(x, y) AS auto_bounds,
        |  sparkbar(4, 1, 8)(x, y) AS explicit,
        |  sparkbar(6, 1, 8)(x, y) AS with_gaps
        |FROM (
        |  SELECT 1 AS x, 1.0 AS y UNION ALL SELECT 2, 2.0
        |  UNION ALL SELECT 3, 1.0 UNION ALL SELECT 5, 2.0
        |  UNION ALL SELECT 8, 4.0)""".stripMargin).head()
    assert(r.getString(0) == "▆▂▄█", r)
    assert(r.getString(1) == "▆▂▄█", r)
    // 6 buckets over [1,8]: x=1,2 -> 0; x=3 -> 1; x=5 -> 3; x=8 -> 5.
    // Sums 3,1,_,2,_,4 -> glyphs at ceil(s*8/4) with spaces inside.
    assert(r.getString(2) == "▆▂ ▄ █", r)
    // Out-of-bounds x dropped; non-positive bucket sum renders ' ';
    // a single-point group with equal bounds lands in bucket 0.
    val e = ClickHouseSql.sql(spark,
      """SELECT sparkbar(3, 0, 2)(x, y) AS s,
        |  sparkbar(2)(z, y) AS eq_bounds
        |FROM (
        |  SELECT 0 AS x, 1.0 AS y, 5 AS z
        |  UNION ALL SELECT 1, -2.0, 5
        |  UNION ALL SELECT 9, 7.0, 5)""".stripMargin).head()
    assert(e.getString(0) == "█  ", e)
    assert(e.getString(1) == "█ ", e)
  }

  test("execution: r13 URL batch — netloc, queryStringAndFragment, parameter arrays, cutURLParameter, medians, dotProduct") {
    val r = ClickHouseSql.sql(spark,
      """SELECT netloc('https://u:pw@h.example.com:8080/a?b=1') AS nl_full,
        |  netloc('https://example.com/x') AS nl_bare,
        |  netloc('not a url') AS nl_bad,
        |  queryStringAndFragment('http://x/?a=1') AS qsf_q,
        |  queryStringAndFragment('http://x/?a=1#f') AS qsf_qf,
        |  queryStringAndFragment('http://x/#f') AS qsf_f,
        |  arrayStringConcat(extractURLParameters('http://x/?a=1&bare&b=2'), '|') AS params,
        |  arrayStringConcat(extractURLParameterNames('http://x/?a=1&bare&b=2'), ',') AS names,
        |  arrayStringConcat(extractURLParameters('http://x/nothing'), '|') AS params_none,
        |  cutURLParameter('http://x/?a=1', 'a') AS cut_sole,
        |  cutURLParameter('http://x/?a=1&a=2&b=3', 'a') AS cut_rep,
        |  toInt64(dotProduct(array(1, 2, 3), array(4, 5, 6))) AS dp
        |FROM range(1)""".stripMargin).head()
    assert(r.getString(0) == "u:pw@h.example.com:8080", r)
    assert(r.getString(1) == "example.com", r)
    assert(r.getString(2) == "", r)
    assert(r.getString(3) == "a=1" && r.getString(4) == "a=1#f", r)
    // Fragment-only keeps the '#' (the separator the with-query form
    // renders: 'page=1#frag'), symmetric with cutQueryStringAndFragment.
    assert(r.getString(5) == "#f", r)
    assert(r.getString(6) == "a=1|bare|b=2", r)
    assert(r.getString(7) == "a,bare,b", r)
    assert(r.getString(8) == "", r)
    assert(r.getString(9) == "http://x/?", r) // sole param: trailing '?', stated
    assert(r.getString(10) == "http://x/?b=3", r) // every occurrence removed
    assert(r.getLong(11) == 32L, r)
    // Review repros: a trailing repeat is a RUN (the shared '&' must not
    // shield the last occurrence), and a '&' inside the FRAGMENT can
    // never start a removal match.
    val c2 = ClickHouseSql.sql(spark,
      """SELECT cutURLParameter('http://x/?a=1&a=2', 'a') AS run_all,
        |  cutURLParameter('http://x/?b=1&a=2&a=3', 'a') AS run_tail,
        |  cutURLParameter('http://x/?b=1#f&a=2', 'a') AS frag_kept
        |FROM range(1)""".stripMargin).head()
    assert(c2.getString(0) == "http://x/?", c2)
    assert(c2.getString(1) == "http://x/?b=1", c2)
    assert(c2.getString(2) == "http://x/?b=1#f&a=2", c2)
    // Medians: [1,2,3,4] -> low = sorted index (4-1) div 2 = 2,
    // high = index 4 div 2 = 3 (the quantileExactLow/High kernels at 0.5).
    val m = ClickHouseSql.sql(spark,
      """SELECT toInt64(medianExactLow(v)) AS lo, toInt64(medianExactHigh(v)) AS hi
        |FROM (SELECT id + 1 AS v FROM range(4))""".stripMargin).head()
    assert(m.getLong(0) == 2L && m.getLong(1) == 3L, m)
    // Non-literal cutURLParameter name is a named error, not a bad regex.
    val e = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT cutURLParameter('http://x/?a=1', concat('a', '')) FROM range(1)")
    }
    val txt = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(txt.contains("string literal"), e)
  }

  test("execution: bracket indexing is 1-based with ClickHouse semantics on the dialect path") {
    val r = ClickHouseSql.sql(spark,
      """SELECT ['a', 'b', 'c'][1] AS first,
        |  ['a', 'b', 'c'][-1] AS last,
        |  ['a', 'b', 'c'][9] AS oob,
        |  arr[2] AS second,
        |  arr[2 + 1] AS third,
        |  `arr`[2] AS quoted_base,
        |  split('x,y', ',')[1] AS from_call,
        |  m['k'] AS by_key,
        |  m['zz'] AS missing_key,
        |  nested[1][2] AS chained
        |FROM (SELECT array('p', 'q', 'r') AS arr,
        |             map('k', 7) AS m,
        |             array(array(1, 2), array(3)) AS nested
        |      FROM range(1))""".stripMargin).head()
    assert(r.getString(0) == "a" && r.getString(1) == "c", r)
    assert(r.isNullAt(2), r) // out-of-bounds -> NULL, the Nullable lane
    assert(r.getString(3) == "q" && r.getString(4) == "r", r)
    assert(r.getString(5) == "q", r) // backticked base carried whole
    assert(r.getString(6) == "x", r) // 1-based on a call result
    assert(r.getInt(7) == 7, r)
    assert(r.isNullAt(8), r) // missing map key -> NULL
    assert(r.getInt(9) == 2L, r) // x[1][2] chains through the fixpoint
    // arrayElement is the same semantics as a function spelling.
    val f = ClickHouseSql.sql(spark,
      "SELECT arrayElement(array(5, 6), -1) AS e, arrayElement(array(5), 3) AS n FROM range(1)")
      .head()
    assert(f.getInt(0) == 6 && f.isNullAt(1), f)
    // Review repros: comments are AIR, not operands — a comment before a
    // literal bracket keeps it a literal, a comment between base and
    // bracket rides inside the wrap, and a backticked base with an
    // interior space is carried whole.
    assert(ClickHouseSqlRewrite("SELECT /* note */ ['a', 'b'] AS t FROM x")
      == "SELECT /* note */ array('a', 'b') AS t FROM x")
    assert(ClickHouseSqlRewrite("SELECT -- note\n ['a', 'b'] AS t FROM x")
      == "SELECT -- note\n array('a', 'b') AS t FROM x")
    val withComment = ClickHouseSqlRewrite("SELECT arr /* c */ [1] FROM t")
    assert(withComment.contains("graft_ch_element(arr /* c */"), withComment)
    val spaced = ClickHouseSql.sql(spark,
      """SELECT `my col`[2] AS e
        |FROM (SELECT array('u', 'v') AS `my col` FROM range(1))""".stripMargin)
      .head()
    assert(spaced.getString(0) == "v", spaced)
    // Index 0 raises loudly (Spark's indices-start-at-1 error), never a
    // silent shift.
    val z = intercept[Exception] {
      ClickHouseSql.sql(spark, "SELECT array(1)[0] AS z FROM range(1)").collect()
    }
    val zt = Iterator.iterate(z: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(zt.toLowerCase.contains("0") || zt.toLowerCase.contains("index"), z)
    // r14: `CASE … END[i]` — END terminates an expression, so the base
    // balances back to the matching CASE (nested pairs included) instead
    // of absorbing the bare word END into malformed SQL.
    val ce = ClickHouseSql.sql(spark,
      """SELECT CASE WHEN k = 1 THEN array('a', 'b') ELSE array('z') END[2] AS e,
        |  CASE WHEN k = 2 THEN arr ELSE
        |    CASE WHEN k = 1 THEN array('n') ELSE arr END END[1] AS nested_e
        |FROM (SELECT 1 AS k, array('p') AS arr FROM range(1))""".stripMargin).head()
    assert(ce.getString(0) == "b", ce)
    assert(ce.getString(1) == "n", ce)
    // Dot-qualified identifiers are NOT delimiters/keywords (review
    // repros): a column t.end inside the CASE doesn't miscount depth,
    // and a qualified call segment named like a keyword stays a call
    // name before a balanced group.
    val qe = ClickHouseSql.sql(spark,
      """SELECT CASE WHEN t.end > 0 THEN array('y') ELSE array('n') END[1] AS e
        |FROM (SELECT 5 AS end) t""".stripMargin).head()
    assert(qe.getString(0) == "y", qe)
    val qmod = ClickHouseSqlRewrite("SELECT a.mod (arr)[1] FROM t")
    assert(qmod.contains("graft_ch_element(a.mod (arr)"), qmod)
    // An END with no CASE before it names the parenthesize workaround.
    val noCase = intercept[IllegalArgumentException] {
      ClickHouseSqlRewrite("SELECT END[1] FROM t")
    }
    assert(noCase.getMessage.contains("(CASE ... END)[i]"), noCase)
    // The parenthesized spelling keeps working too.
    val par = ClickHouseSql.sql(spark,
      "SELECT (CASE WHEN 1 = 1 THEN array(7, 8) END)[2] AS e FROM range(1)").head()
    assert(par.getInt(0) == 8, par)
  }

  test("execution: dateAdd/dateSub unit-first spellings + hasSubstr contiguous runs") {
    // The rename is arity- and unit-gated: Spark's own 2-arg date_add
    // stays inert; the 3-arg unit-first form renames with the unit
    // QUOTED (a bare keyword would be an unresolvable column child).
    assert(ClickHouseSqlRewrite("SELECT date_add(d, 5) FROM t")
      eq "SELECT date_add(d, 5) FROM t")
    val rw = ClickHouseSqlRewrite("SELECT dateAdd(hour, 2, ts) FROM t")
    assert(rw == "SELECT graft_ch_dateadd('hour', 2, ts) FROM t", rw)
    val rs = ClickHouseSqlRewrite("SELECT dateSub('week', 1, d) FROM t")
    assert(rs == "SELECT graft_ch_datesub('week', 1, d) FROM t", rs)
    val r = ClickHouseSql.sql(spark,
      """SELECT dateAdd(month, 1, toDate('2024-01-31')) AS clamp,
        |  dateAdd(day, 3, toDate('2024-02-27')) AS leap,
        |  dateAdd(hour, 25, toDateTime('2024-01-01 00:00:00')) AS ts_h,
        |  dateSub(minute, 90, toDateTime('2024-01-01 02:00:00')) AS ts_m
        |FROM range(1)""".stripMargin)
    // ClickHouse's typing: Date input + day-or-coarser unit stays DATE;
    // sub-day units and timestamp inputs are TIMESTAMP.
    assert(r.schema("clamp").dataType ==
      org.apache.spark.sql.types.DateType, r.schema)
    assert(r.schema("ts_h").dataType ==
      org.apache.spark.sql.types.TimestampType, r.schema)
    val row = r.head()
    assert(row.getDate(0).toString == "2024-02-29", row) // end-of-month clamp
    assert(row.getDate(1).toString == "2024-03-01", row) // leap day crossed
    assert(row.getTimestamp(2).toString.startsWith("2024-01-02 01:00"), row)
    assert(row.getTimestamp(3).toString.startsWith("2024-01-01 00:30"), row)
    // A non-unit first argument is NOT renamed (dateAdd(fortnight, …)
    // reads fortnight as a column, a loud unresolved error); the
    // builder's OWN unknown-unit named error is exercised through the
    // rename target directly (review finding: the previous assertion
    // never reached chUnitName).
    intercept[Exception] {
      ClickHouseSql.sql(spark, "SELECT dateAdd(fortnight, 1, ts) FROM range(1)").collect()
    }
    val ue = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT graft_ch_dateadd('fortnight', 1, toDateTime('2024-01-01 00:00:00')) FROM range(1)")
    }
    val ut = Iterator.iterate(ue: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(ut.contains("not supported") && ut.contains("fortnight"), ue)
    // The add*/subtract* family types identically to dateAdd (the one
    // ClickHouse operation must not type two ways in one layer):
    // Date + day-or-coarser stays DATE, and values agree.
    val agree = ClickHouseSql.sql(spark,
      """SELECT addDays(toDate('2024-01-30'), 3) AS a,
        |  dateAdd(day, 3, toDate('2024-01-30')) AS b,
        |  addHours(toDate('2024-01-30'), 5) AS c
        |FROM range(1)""".stripMargin)
    assert(agree.schema("a").dataType ==
      org.apache.spark.sql.types.DateType, agree.schema)
    assert(agree.schema("c").dataType ==
      org.apache.spark.sql.types.TimestampType, agree.schema)
    val ag = agree.head()
    assert(ag.getDate(0) == ag.getDate(1), ag)
    // hasSubstr: contiguity and order (unlike hasAll), empty sub, and a
    // sub longer than the array.
    val h = ClickHouseSql.sql(spark,
      """SELECT hasSubstr([1, 2, 3, 4], [2, 3]) AS yes,
        |  hasSubstr([1, 2, 3], [3, 2]) AS order_no,
        |  hasSubstr([1, 2, 4], [2, 3]) AS gap_no,
        |  hasSubstr([1, 2], emptyArrayInt64()) AS empty_yes,
        |  hasSubstr([1], [1, 2]) AS too_long_no
        |FROM range(1)""".stripMargin).head()
    assert(h.getBoolean(0) && !h.getBoolean(1) && !h.getBoolean(2), h)
    assert(h.getBoolean(3) && !h.getBoolean(4), h)
  }

  test("star transformers do not engage on multiplication by a column named like a modifier") {
    val r = ClickHouseSql.sql(spark,
      """SELECT price * replace AS x, 3 * apply AS y
        |FROM (SELECT CAST(10.0 AS DOUBLE) AS price,
        |             CAST(2.0 AS DOUBLE) AS replace, 4 AS apply
        |      FROM range(1))""".stripMargin).head()
    assert(r.getDouble(0) == 20.0d && r.getInt(1) == 12, r)
    // A QUOTED left operand masks to spaces — the scan-back must stop at
    // the masked token (an operand) instead of walking through it to
    // SELECT and re-opening the false positive (review finding).
    val q = ClickHouseSql.sql(spark,
      """SELECT `price` * replace AS x, price, `price` * apply AS y
        |FROM (SELECT CAST(10.0 AS DOUBLE) AS price,
        |             CAST(2.0 AS DOUBLE) AS replace, 4 AS apply
        |      FROM range(1))""".stripMargin).head()
    assert(q.getDouble(0) == 20.0d && q.getDouble(2) == 40.0d, q)
  }

  test("JSONExtractRaw re-render contract: numbers canonicalized, keys sorted (pinned divergence)") {
    val r = ClickHouseSql.sql(spark,
      """SELECT JSONExtractRaw('{"a": 1.50}', 'a') AS num,
        |  JSONExtractRaw('{"b": {"z": 1, "a": 2}}', 'b') AS keys
        |FROM range(1)""".stripMargin).head()
    assert(r.getString(0) == "1.5", r)
    assert(r.getString(1) == """{"a":2,"z":1}""", r)
  }

  test("review fixes: conversion strictness corners, NULL-in propagation, empty-input guards") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toUInt64OrNull('1.5') AS u64_frac,
        |  toUInt64OrNull('1e3') AS u64_exp,
        |  toInt32OrNull(concat(char(9), '123')) AS tab_pad,
        |  toInt32OrNull(concat('123', char(10))) AS nl_pad,
        |  toDateOrNull('2023-05') AS partial_month,
        |  toDateOrNull('2023') AS bare_year,
        |  toDateOrNull('2024-01-02Txyz') AS t_junk,
        |  toString(toDateOrNull('2024-01-02 03:04:05')) AS date_of_dt,
        |  toUnixTimestamp(toDateTimeOrNull('2024-01-02')) AS dt_of_date,
        |  toDateTimeOrNull('1704067200') AS dt_epoch_str,
        |  toInt64OrZero(CAST(NULL AS STRING)) AS z_null,
        |  toInt32OrDefault(CAST(NULL AS STRING), -7) AS d_null,
        |  parseDateTimeOrZero(CAST(NULL AS STRING), '%F') AS p_null,
        |  parseDateTimeBestEffortOrZero(CAST(NULL AS STRING)) AS be_null,
        |  IPv4StringToNumOrDefault(CAST(NULL AS STRING)) AS ip_null,
        |  tupleElement(geohashDecode(''), 1) AS gh_empty_lon,
        |  tupleElement(geohashDecode(''), 2) AS gh_empty_lat
        |FROM range(1)""".stripMargin).collect().head
    // The UInt64 Decimal carrier must not ROUND fractional/exponent
    // text the other integral lanes reject.
    Seq(0, 1, 2, 3, 4, 5, 6, 9, 10, 11, 12, 13, 14).foreach(i =>
      assert(r.isNullAt(i), (i, r)))
    assert(r.getString(7) == "2024-01-02", r) // datetime text -> its date
    assert(r.getLong(8) == 1704153600L, r) // bare date -> midnight
    assert(r.getDouble(15) == 0.0d && r.getDouble(16) == 0.0d, r)
    // Empty aggregation input: [] (ClickHouse), not a Sequence error.
    val m = ClickHouseSql.sql(spark,
      "SELECT groupArrayMovingSum(3)(id) AS ms, groupArrayMovingAvg(id) AS ma FROM range(1) WHERE id < 0")
      .collect().head
    assert(m.getSeq[Double](0) == Seq.empty && m.getSeq[Double](1) == Seq.empty, m)
    // A depth-0 IN inside a bare position() ARGUMENT stays on the
    // haystack-first rename path (the comma discriminator).
    val p = ClickHouseSql.sql(spark,
      """SELECT position('xaybz', CASE WHEN 1 IN (1, 2) THEN 'b' ELSE 'a' END) AS pos
        |FROM range(1)""".stripMargin).collect().head
    assert(p.getInt(0) == 4, p)
    // An AS-aliased join still refuses the star expansion.
    Seq((1, "x")).toDF("id", "tag").createOrReplaceTempView("star_a")
    val e = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT * APPLY max FROM star_a AS a JOIN star_a b ON a.id = b.id")
    }
    assert(e.getMessage.contains("JOIN"), e)
    val e2 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT * APPLY max FROM star_a AS a, star_a b")
    }
    assert(e2.getMessage.contains("JOIN") || e2.getMessage.contains("explicitly"), e2)
  }

  test("differential: largestTriangleThreeBuckets matches the reference LTTB on random series") {
    // Steinarsson's reference algorithm, transcribed directly (floor
    // grid, previous-SELECTED anchor, next-bucket average, first-max
    // tie rule) — the independent implementation the kernel must match.
    def refLttb(data: Seq[(Double, Double)], n: Int): Seq[(Double, Double)] = {
      val sz = data.length
      if (sz == 0) Seq.empty
      else if (n <= 1) data.take(1)
      else if (n >= sz) data
      else if (n == 2) Seq(data.head, data.last)
      else {
        val every = (sz - 2).toDouble / (n - 2)
        var a = 0
        val out = scala.collection.mutable.ArrayBuffer(data.head)
        for (i <- 0 until n - 2) {
          val avgS = math.floor((i + 1) * every).toInt + 1
          val avgE = math.min(math.floor((i + 2) * every).toInt + 1, sz)
          val avgX = (avgS until avgE).map(data(_)._1).sum / (avgE - avgS)
          val avgY = (avgS until avgE).map(data(_)._2).sum / (avgE - avgS)
          val rs = math.floor(i * every).toInt + 1
          val re = math.floor((i + 1) * every).toInt + 1
          var (bi, ba) = (rs, -1.0)
          for (j <- rs until re) {
            val area = math.abs(
              (data(a)._1 - avgX) * (data(j)._2 - data(a)._2) -
                (data(a)._1 - data(j)._1) * (avgY - data(a)._2))
            if (area > ba) { bi = j; ba = area }
          }
          out += data(bi); a = bi
        }
        (out += data.last).toSeq
      }
    }
    def run(data: Seq[(Double, Double)], n: Int): Seq[(Double, Double)] = {
      val vals = data.map { case (xx, yy) => s"($xx, $yy)" }.mkString(", ")
      ClickHouseSql.sql(spark,
        s"SELECT largestTriangleThreeBuckets($n)(x, y) AS r FROM " +
          s"(SELECT col1 AS x, col2 AS y FROM VALUES $vals)")
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getDouble(1)))
    }
    // A hand-checkable series: the spike at x=4 must survive 10 -> 5.
    val spike = Seq((0.0, 1.0), (1.0, 1.1), (2.0, 0.9), (3.0, 1.0),
      (4.0, 9.0), (5.0, 1.0), (6.0, 1.2), (7.0, 0.8), (8.0, 1.0), (9.0, 1.1))
    val got = run(spike, 5)
    assert(got == refLttb(spike, 5), (got, refLttb(spike, 5)))
    assert(got.contains((4.0, 9.0)), got)
    assert(got.head == spike.head && got.last == spike.last, got)
    // Degenerate branches.
    assert(run(spike, 1) == spike.take(1))
    assert(run(spike, 2) == Seq(spike.head, spike.last))
    assert(run(spike, 10) == spike)
    assert(run(spike, 99) == spike)
    // Randomized differential (sorted unique x keeps both sides on the
    // same deterministic footing).
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { _ =>
      val sz = 3 + rnd.nextInt(40)
      val data = (0 until sz).map(i =>
        (i.toDouble, (rnd.nextInt(200) - 100).toDouble / 4))
      val n = 3 + rnd.nextInt(sz + 4)
      val want = refLttb(data, n)
      val g = run(data, n)
      assert(g == want, (sz, n, g, want))
    }
    val e = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "SELECT lttb(5)(x) FROM t")
    }
    assert(e.getMessage.contains("largestTriangleThreeBuckets(n)(x, y)"), e)
    // n outside the documented domain raises the named error (runtime,
    // since n is a per-call expression), never a silent 1-point answer.
    val ez = intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT largestTriangleThreeBuckets(0)(x, y) FROM " +
          "(SELECT 1.0 AS x, 2.0 AS y)").collect()
    }
    val ezText = Iterator.iterate(ez: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(ezText.contains("n must be >= 1"), ez)
  }

  test("execution: mapAdd/mapSubtract combine struct(keys, values) maps per key") {
    val r = ClickHouseSql.sql(spark,
      """SELECT mapAdd(named_struct('keys', array(1, 2), 'values', array(10, 20)),
        |              named_struct('keys', array(2, 3), 'values', array(1, 1))) AS a,
        |  mapSubtract(named_struct('keys', array(1, 2), 'values', array(10, 20)),
        |              named_struct('keys', array(2, 3), 'values', array(1, 1))) AS s,
        |  mapAdd(named_struct('keys', array(5), 'values', array(1)),
        |         named_struct('keys', array(5), 'values', array(2)),
        |         named_struct('keys', array(6), 'values', array(7))) AS three
        |FROM range(1)""".stripMargin).collect().head
    val a = r.getStruct(0)
    assert(a.getSeq[Int](0) == Seq(1, 2, 3), a)
    assert(a.getSeq[Int](1) == Seq(10, 21, 1), a)
    val sres = r.getStruct(1)
    assert(sres.getSeq[Int](0) == Seq(1, 2, 3), sres)
    assert(sres.getSeq[Int](1) == Seq(10, 19, -1), sres)
    val t = r.getStruct(2)
    assert(t.getSeq[Int](0) == Seq(5, 6), t)
    assert(t.getSeq[Int](1) == Seq(3, 7), t)
    // It composes with the layer's own map aggregates (the sumMap
    // shape); sumMap values are BIGINT arrays, so the ad-hoc side
    // matches the element type.
    Seq((1, 10), (2, 5), (1, 3)).toDF("k", "v").createOrReplaceTempView("mm")
    val cc = ClickHouseSql.sql(spark,
      """SELECT mapAdd(sumMap(k, v), named_struct('keys', array(9), 'values', array(toInt64(4)))) AS m
        |FROM (SELECT k, toInt64(v) AS v FROM mm)""".stripMargin).collect().head.getStruct(0)
    assert(cc.getSeq[Int](0) == Seq(1, 2, 9), cc)
    assert(cc.getSeq[Long](1) == Seq(13L, 5L, 4L), cc)
  }

  test("execution: arrayReverseSort descends with nulls last") {
    val r = ClickHouseSql.sql(spark,
      """SELECT arrayReverseSort(array(2, 9, NULL, 4)) AS a,
        |  arrayReverseSort(array('b', 'a', 'c')) AS s
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getSeq[Integer](0) == Seq(9, 4, 2, null), r)
    assert(r.getSeq[String](1) == Seq("c", "b", "a"), r)
  }

  test("execution: IPv6 family — error lanes, NULL propagation, and the binary carrier (the oracle lanes live in sql_ch_ip6)") {
    // The throwing conversion forms name the offending input.
    val bad = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT IPv6StringToNum('1::2::3') FROM range(1)").collect())
    assert(bad.getMessage.contains("1::2::3"), bad.getMessage)
    val badTo = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT toIPv6('fe80::1%eth0') FROM range(1)").collect())
    assert(badTo.getMessage.contains("eth0"), badTo.getMessage)
    // IPv6NumToString requires the 16-byte carrier — a schema mistake is
    // an ERROR, not silent data.
    val short = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT IPv6NumToString(unhex('AABB')) FROM range(1)").collect())
    assert(short.getMessage.contains("16-byte"), short.getMessage)
    // NULL propagates through every form (OrDefault's documented
    // NULL-stays-NULL included); invalid non-null hits the default.
    val r = ClickHouseSql.sql(spark,
      """SELECT isIPv6String(CAST(NULL AS STRING)) AS v_null,
        |  IPv6StringToNumOrNull(CAST(NULL AS STRING)) AS p_null,
        |  IPv6StringToNumOrDefault(CAST(NULL AS STRING)) AS d_null,
        |  IPv6NumToString(IPv6StringToNumOrDefault('nope')) AS d_bad,
        |  isIPv6String('::ffff:1.2.3.4') AS mapped_is_v6,
        |  isIPv6String('1.2.3.4') AS v4_not_v6
        |FROM range(1)""".stripMargin).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), r)
    assert(r.getString(3) == "::", r)
    // The embedded-tail form IS an IPv6 string; the plain quad is not.
    assert(r.getBoolean(4) && !r.getBoolean(5), r)
    // IPv6CIDRToRange: non-byte-aligned prefix splits inside a group;
    // prefix out of 0..128 raises loudly.
    val cr = ClickHouseSql.sql(spark,
      """SELECT IPv6NumToString(tupleElement(IPv6CIDRToRange(IPv6StringToNum('2001:db8::1'), 60), 1)) AS lo60,
        |  IPv6NumToString(tupleElement(IPv6CIDRToRange(IPv6StringToNum('2001:db8::1'), 60), 2)) AS hi60
        |FROM range(1)""".stripMargin).collect().head
    assert(cr.getString(0) == "2001:db8::", cr)
    assert(cr.getString(1) == "2001:db8:0:f:ffff:ffff:ffff:ffff", cr)
    val badPrefix = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT IPv6CIDRToRange(IPv6StringToNum('::1'), 129) FROM range(1)").collect())
    val bpMsg = Iterator.iterate(badPrefix: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString
    assert(bpMsg.contains("0..128"), badPrefix)
    // The binary carrier sorts like ClickHouse's FixedString(16): byte
    // order == numeric address order ('::1' < '::1:0' < '1::').
    val sorted = ClickHouseSql.sql(spark,
      """SELECT IPv6NumToString(a) AS s FROM (
        |  SELECT explode(array(IPv6StringToNum('1::'),
        |    IPv6StringToNum('::1:0'), IPv6StringToNum('::1'))) AS a) t
        |ORDER BY a""".stripMargin).collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("::1", "::1:0", "1::"), sorted)
  }

  test("execution: URLHierarchy corners beyond the oracle — bare path, trailing-separator end, NULL") {
    val r = ClickHouseSql.sql(spark,
      """SELECT URLHierarchy('/a/b') AS bare,
        |  URLPathHierarchy('/a/b') AS bare_p,
        |  URLHierarchy('https://e.com/a?') AS q_end,
        |  URLHierarchy(CAST(NULL AS STRING)) AS nul
        |FROM range(1)""".stripMargin).collect().head
    // Bare path (no ://): the scan starts at position 0 — the root '/'
    // IS an element for URLHierarchy, excluded for URLPathHierarchy.
    assert(r.getSeq[String](0) == Seq("/", "/a/", "/a/b"), r)
    assert(r.getSeq[String](1) == Seq("/a/", "/a/b"), r)
    // A URL ending in a separator run: the cut at the run end IS the
    // full URL — no duplicate final element.
    assert(r.getSeq[String](2) == Seq("https://e.com/", "https://e.com/a?"), r)
    assert(r.isNullAt(3), r)
  }

  test("execution: pointInPolygon stated contract — vertices, hole boundary, vertex-grazing ray, even-odd, degenerate, NULL") {
    val r = ClickHouseSql.sql(spark,
      """SELECT
        |  pointInPolygon(tuple(0.0, 0.0), array(tuple(0.0, 0.0), tuple(4.0, 0.0), tuple(0.0, 4.0))) AS on_vertex,
        |  pointInPolygon(tuple(2.0, 2.0), array(tuple(0.0, 0.0), tuple(4.0, 0.0), tuple(0.0, 4.0))) AS on_edge,
        |  pointInPolygon(tuple(3.0, 3.0), array(tuple(0.0, 0.0), tuple(6.0, 0.0), tuple(6.0, 6.0), tuple(0.0, 6.0)),
        |                 array(tuple(2.0, 2.0), tuple(4.0, 2.0), tuple(4.0, 4.0), tuple(2.0, 4.0))) AS in_hole,
        |  pointInPolygon(tuple(2.0, 3.0), array(tuple(0.0, 0.0), tuple(6.0, 0.0), tuple(6.0, 6.0), tuple(0.0, 6.0)),
        |                 array(tuple(2.0, 2.0), tuple(4.0, 2.0), tuple(4.0, 4.0), tuple(2.0, 4.0))) AS hole_edge,
        |  pointInPolygon(tuple(1.0, 2.0), array(tuple(0.0, 2.0), tuple(2.0, 0.0), tuple(4.0, 2.0), tuple(2.0, 4.0))) AS graze,
        |  pointInPolygon(tuple(3.5, 1.0), array(tuple(0.0, 0.0), tuple(4.0, 4.0), tuple(4.0, 0.0), tuple(0.0, 4.0))) AS bowtie_in,
        |  pointInPolygon(tuple(2.0, 3.9), array(tuple(0.0, 0.0), tuple(4.0, 4.0), tuple(4.0, 0.0), tuple(0.0, 4.0))) AS bowtie_out,
        |  pointInPolygon(tuple(1.0, 1.0), array(tuple(0.0, 0.0), tuple(2.0, 2.0))) AS degen_on,
        |  pointInPolygon(tuple(1.5, 0.5), array(tuple(0.0, 0.0), tuple(2.0, 2.0))) AS degen_off,
        |  pointInPolygon(tuple(CAST(NULL AS DOUBLE), 1.0), array(tuple(0.0, 0.0), tuple(4.0, 0.0), tuple(0.0, 4.0))) AS null_pt,
        |  pointInPolygon(tuple(0.0, 0.0), array(tuple(0.0, 0.0), tuple(4.0, 0.0), tuple(0.0, 4.0)),
        |                 CAST(NULL AS ARRAY<STRUCT<col1: DOUBLE, col2: DOUBLE>>)) AS null_hole
        |FROM range(1)""".stripMargin).collect().head
    // Boundary is inside: vertices and edge midpoints of the outer ring…
    assert(r.getBoolean(0) && r.getBoolean(1), r)
    // …a hole's interior is outside, but the hole's own boundary belongs.
    assert(!r.getBoolean(2) && r.getBoolean(3), r)
    // A horizontal ray through the diamond's left vertex must count
    // crossings correctly: (1,2) is strictly inside the diamond.
    assert(r.getBoolean(4), r)
    // Bow-tie (self-intersecting): even-odd verbatim — inside the right
    // lobe, outside the wedge regions the lobes pinch off (2 crossings).
    assert(r.getBoolean(5) && !r.getBoolean(6), r)
    // A 2-vertex ring has no interior; only its segment is boundary.
    assert(r.getBoolean(7) && !r.getBoolean(8), r)
    assert(r.isNullAt(9), r)
    // NULL is adjudicated BEFORE any verdict: a point ON the outer
    // boundary with a NULL hole ring is NULL, not true (review repro).
    assert(r.isNullAt(10), r)
  }

  test("execution: r14 misc batch — null-propagating greatest/least, gcd/lcm edges, CIDR errors, arrayUnion dedup") {
    val r = ClickHouseSql.sql(spark,
      """SELECT greatest(1, CAST(NULL AS BIGINT), 3) AS g3,
        |  least(CAST(NULL AS INT), 2) AS l2,
        |  greatest(4, 9, 2) AS g_ok,
        |  gcd(0, 0) AS gz, gcd(-12, 18) AS gneg, lcm(4, 6) AS l1,
        |  lcm(0, 5) AS lz,
        |  isIPAddressInRange('::ffff:10.1.2.3', '::ffff:10.0.0.0/104') AS mapped_in,
        |  isIPAddressInRange('10.1.2.3', '10.0.0.0/8') AS v4_in,
        |  isIPAddressInRange('11.1.2.3', '10.0.0.0/8') AS v4_out,
        |  arrayUnion(array(3, 1), array(1, 2), array(2, 3)) AS uni
        |FROM range(1)""".stripMargin).head()
    // ClickHouse NULL-propagation: ANY null argument -> NULL (Spark's
    // own greatest/least would return 3 / 2 here — the silent
    // divergence the textual rename closes).
    assert(r.isNullAt(0) && r.isNullAt(1), r)
    assert(r.getInt(2) == 9, r)
    assert(r.getLong(3) == 0L && r.getLong(4) == 6L, r)
    assert(r.getLong(5) == 12L && r.getLong(6) == 0L, r)
    // An IPv4-MAPPED v6 string against a v6-mapped network prefix
    // matches; plain v4 against a v4 net by mask.
    assert(r.getBoolean(7) && r.getBoolean(8) && !r.getBoolean(9), r)
    assert(r.getSeq[Int](10) == Seq(3, 1, 2), r)
    // Overflow lanes are LOUD (never a wrapped number)…
    val ov = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT lcm(4611686018427387904, 3) FROM range(1)").collect())
    val ovMsg = Iterator.iterate(ov: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString
    assert(ovMsg.contains("overflow") || ovMsg.contains("long"), ov)
    // …and a malformed CIDR is an error, not an all-false column.
    val badCidr = intercept[Exception](ClickHouseSql.sql(spark,
      "SELECT isIPAddressInRange('1.2.3.4', 'nonsense') FROM range(1)").collect())
    val bcMsg = Iterator.iterate(badCidr: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString
    assert(bcMsg.contains("malformed CIDR"), badCidr)
    // The rename is dialect-path-only: a dot-qualified name is left alone.
    val q = ClickHouseSqlRewrite("SELECT cat.greatest(a, b) FROM t")
    assert(q == "SELECT cat.greatest(a, b) FROM t", q)
  }

  test("execution: rounding family + multiSearch positions — byte offsets, exact bit boundaries, bucket edges") {
    val r = ClickHouseSql.sql(spark,
      """SELECT multiSearchAllPositions('chçade', ['de', 'zz', 'ç']) AS bytes_pos,
        |  toInt64(multiSearchFirstPosition('chçade', ['de', 'ad'])) AS first_b,
        |  roundToExp2(4611686018427387909) AS exp2_big,
        |  roundToExp2(1) AS exp2_one,
        |  roundToExp2(1024) AS exp2_pow,
        |  toInt64(roundDown(20, [0, 10, 20, 40])) AS rdown_tie,
        |  roundDuration(36000000) AS rdur_top,
        |  roundAge(17) AS rage17, roundAge(18) AS rage18,
        |  roundAge(CAST(NULL AS INT)) AS rage_null
        |FROM range(1)""".stripMargin).head()
    // 'ç' is two UTF-8 bytes: 'de' at byte 6, 'ç' at byte 3 (the same
    // byte convention the bare position test pins).
    assert(r.getSeq[Int](0) == Seq(6, 0, 3), r)
    assert(r.getLong(1) == 5L, r) // leftmost = 'ad' at byte 5, beats 'de' at 6
    // 2^62 + 5 floors to 2^62 EXACTLY — a float log2 kernel misrounds here.
    assert(r.getLong(2) == 4611686018427387904L, r)
    assert(r.getLong(3) == 1L && r.getLong(4) == 1024L, r)
    assert(r.getLong(5) == 20L, r) // x equal to an element keeps it
    assert(r.getLong(6) == 36000L, r) // above the top bucket clamps to it
    assert(r.getLong(7) == 17L && r.getLong(8) == 18L, r)
    assert(r.isNullAt(9), r)
  }

  test("execution: position counts BYTES haystack-first (ClickHouse's bare-form convention)") {
    val r = ClickHouseSql.sql(spark,
      """SELECT toInt64(position('Hello, world!', 'world')) AS p1,
        |  toInt64(position('Hello, world!', 'zzz')) AS p0,
        |  toInt64(position('chçade', 'de')) AS bytes,
        |  toInt64(positionUTF8('chçade', 'de')) AS cps,
        |  toInt64(position('ababab', 'ab', 3)) AS from3
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getLong(0) == 8L && r.getLong(1) == 0L, r)
    // 'ç' is two UTF-8 bytes: byte position 6, code-point position 5.
    assert(r.getLong(2) == 6L, r)
    assert(r.getLong(3) == 5L, r)
    assert(r.getLong(4) == 3L, r)
  }
}
